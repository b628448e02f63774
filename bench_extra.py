#!/usr/bin/env python
"""Per-query isolation bench (guide §1.4): times individual declared queries
with the noop sink in a single JVM, labels jobs, and optionally captures
``explain("formatted")`` plans to plans/r06/.

This file is NOT the driver contract — bench.py stays frozen. Numbers from
here feed OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py q1_pricing_summary fs_match_parts      # time these
  python bench_extra.py --all                                   # every BENCH query
  python bench_extra.py --explain fs_match_parts                # also write plan
  PLAN_TAG=after python bench_extra.py --explain fs_match_parts # suffix _after
  python bench_extra.py --distributed er_cluster_pivot_docs     # no driver path
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("BENCH_REPEATS", "2"))
os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a for a in sys.argv[1:] if a.startswith("--")}

    import __spark_entry__ as entrymod
    from company_name_matching_spark.session import get_spark

    qs = entrymod.queries()
    if "--all" in flags:
        import bench as benchmod

        names = list(benchmod.BENCH_QUERIES)
    else:
        names = args
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    suffix = ""
    if "--distributed" in flags:
        # CC and pivot iterate distributed whatever their edge count
        from company_name_matching_spark.operators import clustering

        clustering._driver_labels = lambda *args: None
        suffix = ":distributed"

    spark = get_spark(app_name="bench_extra", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    tag = os.environ.get("PLAN_TAG", "before")
    plan_dir = Path(__file__).parent / "plans" / "r06"

    out: dict[str, float] = {}
    for name in names:
        if "--explain" in flags:
            plan_dir.mkdir(parents=True, exist_ok=True)
            df = qs[name](spark, SF_DIR)
            (plan_dir / f"{name}_{tag}.txt").write_text(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        best = None
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
            spark.sparkContext.setJobDescription(None)
        key = name + suffix
        out[key] = round(best, 3)
        print(f"  {key}: {out[key]}s", file=sys.stderr, flush=True)
    print(json.dumps({"queries": out, "sf_dir": SF_DIR, "cpus": CPUS,
                      "repeats": REPEATS}), flush=True)


if __name__ == "__main__":
    main()
