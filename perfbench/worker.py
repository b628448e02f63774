"""One benchmark run inside a fresh Spark application (started by run.py).

Set-up: start the session, then prepare the workload's inputs
``SETUP_REPEATS`` times (generate them from the seed, write parquet, load
them into Spark). ``setup_s`` is the session start plus the median input
preparation.

Untraced run (``--trace 0``): ops run back to back, one at a time, until
``--seconds`` have passed (at least one op). Each op is one public call,
forced to completion, and its output is checked. The first op of a fresh
application is what a batch job submitted to a cluster pays, so no warm-up
op precedes it.

Traced run (``--trace 1``): a cold op, then one warm op whole, then the
same work again split into per-layer spans (see spans.py), plus the
layer-only extras: the distributed connected-components path and two
incremental-ingest micro-batches.

The result goes to ``<run-dir>/result.json``; run.py prints it.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # set-up time counts from process start

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter, defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SETUP_REPEATS = 3
SIZES = {
    # er_pipeline: n companies x (1 + variants + typos) pages, upsampled;
    # `expect` pins the seed-independent output counts
    # search_batch: n corpus companies, `queries` labeled variant queries
    "full": {
        "er_pipeline": {"n_companies": 450, "per_company": 6, "typos": 6, "upsample": 1,
                        "expect": {"pairs": 142466, "matches": 8611, "clusters": 3021}},
        "search_batch": {"n_companies": 400, "per_company": 6, "queries": 256},
    },
    "toy": {
        "er_pipeline": {"n_companies": 20, "per_company": 3, "typos": 2, "upsample": 1,
                        "expect": {"pairs": 330, "matches": 120, "clusters": 60}},
        "search_batch": {"n_companies": 40, "per_company": 3, "queries": 32},
    },
}
# the company corpus is the fixtures' own (seed 42), so every seed does the
# same logical work and er_pipeline's counts are fixed; --seed varies page
# order and identity, and the queries
FIXTURE_SEED = 42
# correctness floors: fixed, never derived from the seed
ER_MIN_PRECISION = 0.95
ER_MIN_RECALL = 0.20
SEARCH_MIN_TOP1 = 0.90
SEARCH_K = 5

END_TO_END_UNITS = {
    "setup_s": "s", "op_s_p50": "s", "records_per_s": "1/s", "pairs_per_s": "1/s",
}


class CheckFailed(Exception):
    pass


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def checksum(rows) -> str:
    """Order-insensitive digest of a collection of tuples."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def write_parquet(table, path: Path, parts: int) -> None:
    """Write ``table`` as ``parts`` files so Spark's scan gets several splits."""
    import pyarrow.parquet as pq

    path.mkdir(parents=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


def union_find_labels(ids, edges) -> dict:
    """record → min record id of its connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def pairwise_precision_recall(labels: dict, truth: dict) -> tuple[float, float]:
    """Pairwise precision/recall of clusters ``labels`` against ``truth``
    (both record → group)."""
    def pairs(counter):
        return sum(n * (n - 1) // 2 for n in counter.values())

    tp = pairs(Counter((labels[r], truth[r]) for r in labels))
    predicted = pairs(Counter(labels.values()))
    actual = pairs(Counter(truth[r] for r in labels))
    return (tp / predicted if predicted else 1.0, tp / actual if actual else 1.0)


class Workload:
    """Inputs, the op and its checks for one workload."""

    def __init__(self, spark, run_dir: Path, size: dict, seed: int, cores: int):
        self.spark = spark
        self.run_dir = run_dir
        self.size = size
        self.seed = seed
        self.parts = 2 * cores
        self._dirs = 0

    def fresh_dir(self, prefix: str) -> Path:
        self._dirs += 1
        return self.run_dir / f"{prefix}-{self._dirs}"


class ErPipeline(Workload):
    """``plans.pipeline.run_pipeline`` over crawl-raw pages (html, no text)."""

    def prepare(self, rep: int) -> None:
        import pyarrow as pa

        from company_name_matching_spark.sources import fixtures

        s = self.size
        rows = fixtures.pages_rows(
            n_companies=s["n_companies"], per_company=s["per_company"],
            seed=FIXTURE_SEED, upsample=s["upsample"], typos_per_company=s["typos"],
        )
        # the seed decides page order and page identity (url, hence
        # record_id and every hash partitioning); the logical work is the
        # same for every seed
        rng = random.Random(self.seed)
        rng.shuffle(rows)
        rows = [(f"https://s{self.seed}.fixture.test/{i:08d}",) + r[1:]
                for i, r in enumerate(rows)]
        # ground truth stays here: replicas (#u<rep>) are the same entity
        self.truth_by_url = {r[0]: r[5].split("#u")[0] for r in rows}
        cols = list(zip(*rows))
        ts = pa.array([t * 1_000_000 for t in cols[1]], pa.timestamp("us", tz="UTC"))
        path = self.run_dir / f"pages-{rep}"
        write_parquet(pa.table({"url": cols[0], "warc_ts": ts,
                                "html": pa.array(cols[2], pa.binary()),
                                "lang": cols[4]}), path, self.parts)
        self.pages = self.spark.read.parquet(str(path))
        self.n_pages = self.pages.count()
        self.text_pages = pa.table({"url": cols[0], "warc_ts": ts,
                                    "text": cols[3], "lang": cols[4]})

    def op(self):
        from company_name_matching_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.pages,
                            checkpoint_dir=str(self.fresh_dir("checkpoint")))

    def outcome(self, res) -> dict:
        names = res.names.select("record_id", "url").collect()
        clusters = res.clusters.select("record_id", "cluster_id").collect()
        edges = [tuple(r) for r in
                 res.matches.where("is_match").select("left_id", "right_id").collect()]
        n_pairs = res.pairs.count()
        ids = [r["record_id"] for r in names]
        labels = {r["record_id"]: r["cluster_id"] for r in clusters}
        require(len(set(ids)) == len(ids) == len(clusters), "one cluster row per record")
        require(set(labels) == set(ids), "clusters cover exactly the normalized records")
        require(labels == union_find_labels(ids, edges),
                "clusters are the connected components of the matches")
        counts = {"pairs": n_pairs, "matches": len(edges),
                  "clusters": len(set(labels.values()))}
        require(counts == self.size["expect"],
                f"counts {counts} differ from the expected {self.size['expect']}")
        truth = {r["record_id"]: self.truth_by_url[r["url"]] for r in names}
        precision, recall = pairwise_precision_recall(labels, truth)
        require(precision >= ER_MIN_PRECISION, f"precision {precision:.3f} < {ER_MIN_PRECISION}")
        require(recall >= ER_MIN_RECALL, f"recall {recall:.3f} < {ER_MIN_RECALL}")
        return {
            "signature": (*counts.values(), checksum(labels.items())),
            "records": self.n_pages, "pairs": n_pairs,
            "precision": round(precision, 4), "recall": round(recall, 4),
        }


class SearchBatch(Workload):
    """``operators.search.search_topk``: one call answers a batch of queries."""

    def prepare(self, rep: int) -> None:
        import pyarrow as pa

        from company_name_matching_spark.sources import fixtures

        s = self.size
        companies = fixtures.base_companies(s["n_companies"], seed=FIXTURE_SEED)
        labeled = fixtures.labeled_queries(companies, s["per_company"], seed=FIXTURE_SEED)
        # the seed picks the query batch out of the labeled variants
        picked = random.Random(self.seed).sample(labeled, min(s["queries"], len(labeled)))
        self.truth = {qid: target for qid, _text, target, _m in picked}
        self.company_ids = {cid for cid, _name in companies}
        corpus_path = self.run_dir / f"corpus-{rep}"
        query_path = self.run_dir / f"queries-{rep}"
        write_parquet(pa.table({"company_id": [c for c, _ in companies],
                                "name": [n for _, n in companies]}),
                      corpus_path, self.parts)
        write_parquet(pa.table({"query_id": [q[0] for q in picked],
                                "query_text": [q[1] for q in picked]}),
                      query_path, self.parts)
        self.corpus = self.spark.read.parquet(str(corpus_path))
        self.queries = self.spark.read.parquet(str(query_path))
        self.corpus.count()
        self.queries.count()

    def op(self):
        from company_name_matching_spark.operators.search import SearchConfig, search_topk

        return search_topk(self.corpus, self.queries, SearchConfig(k=SEARCH_K)).collect()

    def outcome(self, rows) -> dict:
        by_query = defaultdict(list)
        for r in rows:
            by_query[r["query_id"]].append(r)
        require(set(by_query) <= set(self.truth), "results only for asked queries")
        hits = 0
        for qid, target in self.truth.items():
            got = by_query.get(qid, [])
            ranks = sorted({r["rank"] for r in got})
            require(ranks == list(range(1, len(ranks) + 1)) and len(ranks) <= SEARCH_K,
                    f"ranks of {qid} are 1..m with m <= k")
            require(all(r["company_id"] in self.company_ids for r in got),
                    "results name corpus companies")
            require(all(0.0 <= r["score"] <= 1.0 for r in got), "scores in [0, 1]")
            hits += any(r["rank"] == 1 and r["company_id"] == target for r in got)
        top1 = hits / len(self.truth)
        require(top1 >= SEARCH_MIN_TOP1, f"top-1 accuracy {top1:.3f} < {SEARCH_MIN_TOP1}")
        return {
            "signature": (len(rows), checksum(
                (r["query_id"], r["company_id"], r["rank"], r["score"]) for r in rows)),
            "records": len(self.truth), "pairs": len(rows), "top1": round(top1, 4),
        }


WORKLOAD_CLASSES = {"er_pipeline": ErPipeline, "search_batch": SearchBatch}


def start_session(cores: int, run_dir: Path):
    from company_name_matching_spark.session import get_spark
    from company_name_matching_spark.sources import store

    tmp = run_dir / "tmp"
    spark = get_spark(
        app_name="perfbench", cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": str(run_dir / "local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": str(tmp),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the package keeps its parquet barriers under /dev/shm by default; the
    # benchmark keeps every file it causes inside its own run directory
    store._scratch = str(run_dir / "scratch")
    return spark


class Runner:
    """Runs ops, checks them and counts attempts and failures."""

    def __init__(self, workload: Workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0
        self.first_signature = None
        self.outcomes: list[dict] = []

    def run_op(self):
        """One op: returns (wall seconds, output or None)."""
        self.attempted += 1
        t0 = time.monotonic()
        try:
            out = self.w.op()
        except Exception:  # an op that raises counts as failed; keep measuring
            traceback.print_exc()
            self.failed += 1
            return time.monotonic() - t0, None
        return time.monotonic() - t0, out

    def check(self, out) -> dict | None:
        if out is None:
            return None
        try:
            o = self.w.outcome(out)
            if self.first_signature is None:
                self.first_signature = o["signature"]
            require(o["signature"] == self.first_signature,
                    f"output {o['signature']} differs from the first op's "
                    f"{self.first_signature}")
        except CheckFailed as exc:
            print(f"perfbench: check failed: {exc}", file=sys.stderr)
            self.failed += 1
            return None
        self.outcomes.append(o)
        return o


def run_untraced(runner: Runner, seconds: float) -> dict:
    times, records, pairs = [], 0, 0
    t_window = time.monotonic()
    while True:
        dt, out = runner.run_op()
        times.append(dt)
        o = runner.check(out)
        if o:
            records += o["records"]
            pairs += o["pairs"]
        if time.monotonic() - t_window >= seconds:
            break
    total = sum(times)
    return {
        "op_s_p50": statistics.median(times),
        "records_per_s": records / total,
        "pairs_per_s": pairs / total,
        "_samples": len(times),
    }


def run_traced_er(runner: Runner, tracer) -> dict:
    from pyspark.sql import functions as F

    from company_name_matching_spark.operators import (
        blocking, clustering, extract, normalize, scoring,
    )
    from company_name_matching_spark.plans.pipeline import PipelineConfig
    from company_name_matching_spark.sources.store import materialize

    w = runner.w
    cfg = PipelineConfig()
    runner.check(runner.run_op()[1])  # cold op, not part of the layer split
    require(runner.first_signature is not None, "the cold op succeeded")

    with tracer.span("pipeline", "warm") as rec:
        _, res = runner.run_op()
    require(runner.check(res) is not None, "the warm op succeeded")
    untraced_s = rec["wall_s"]  # a span's wall excludes the tracer's bookkeeping
    rec["rows_out"] = res.clusters.count()

    op = "traced"
    t_op, book0 = time.monotonic(), tracer.bookkeeping_s
    with tracer.span("extract", op) as r_ext:
        pages = materialize(extract.extract_pages(w.pages), "perfbench_extract")
    with tracer.span("normalize", op) as r_norm:
        names = materialize(normalize.normalize_pages(pages), "perfbench_normalize")
    with tracer.span("blocking", op) as r_blk:
        pairs = materialize(blocking.candidate_pairs(names, cfg.blocking), "perfbench_pairs")
    with tracer.span("scoring", op) as r_sc:
        idf = scoring.build_idf(names, n=cfg.scoring.ngram)
        matches = materialize(scoring.score_pairs(names, pairs, idf, cfg.scoring),
                              "perfbench_score")
    with tracer.span("clustering", op) as r_cl:
        clusters, rounds = clustering.cluster_matches(
            matches, names, cfg.max_cc_iterations, cfg.cc_driver_edge_threshold)
        clusters = materialize(clusters, "perfbench_cluster")
    traced_s = time.monotonic() - t_op
    overhead_s = tracer.bookkeeping_s - book0

    outputs = (pages, names, pairs, matches, clusters)
    counts = [df.count() for df in outputs]
    for rec_, n in zip((r_ext, r_norm, r_blk, r_sc, r_cl), counts):
        rec_["rows_out"] = n
    n_names, n_pairs = counts[1], counts[2]
    n_matches = matches.where("is_match").count()
    labels = {r[0]: r[1] for r in clusters.select("record_id", "cluster_id").collect()}
    require(checksum(labels.items()) == runner.first_signature[3],
            "layer-by-layer clusters equal run_pipeline's")

    with tracer.span("store", "barriers") as rec:
        for df in outputs:
            materialize(df, "perfbench_store")
    rec["rows_out"] = sum(counts)

    # the distributed connected-components path on the same match edges
    edges = matches.where("is_match").select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst"))
    with tracer.span("clustering.cc_distributed", "cc") as r_cc:
        cc_labels, cc_rounds = clustering.connected_components(
            edges, cfg.max_cc_iterations, driver_edge_threshold=0)
        cc_labels = materialize(cc_labels, "perfbench_cc")
    driver_labels, _ = clustering.connected_components(edges, cfg.max_cc_iterations)
    require(sorted(cc_labels.collect()) == sorted(driver_labels.collect()),
            "distributed CC labels equal the driver union-find labels")

    # names keys on both sides of each candidate pair: share of pairs that
    # reach the fuzzy kernel as a distinct key pair
    keys = names.select("record_id", "match_key")
    key_pairs = (
        pairs.join(keys.toDF("left_id", "lk"), "left_id")
        .join(keys.toDF("right_id", "rk"), "right_id")
        .where(F.col("lk") != F.col("rk"))
        .select(F.least("lk", "rk"), F.greatest("lk", "rk")).distinct().count()
    )

    ingest = ingest_batches(w, tracer, names, pairs)

    layer_walls = sum(r["wall_s"] for r in (r_ext, r_norm, r_blk, r_sc, r_cl))
    return {
        "blocking.pairs_per_record": n_pairs / n_names,
        "blocking.reduction_ratio": 1.0 - n_pairs / (n_names * (n_names - 1) / 2),
        "scoring.kernel_pair_share": key_pairs / n_pairs,
        "scoring.match_yield": n_matches / n_pairs,
        "clustering.rounds": rounds,
        "clustering.cc_distributed_s": r_cc["wall_s"],
        "clustering.cc_distributed_rounds": cc_rounds,
        "pipeline.orchestration_s": untraced_s - layer_walls,
        "ingest.store_mb": ingest,
        "trace.op_s": traced_s,
        "trace.untraced_op_s": untraced_s,
        "trace.overhead_s": overhead_s,
    }


def ingest_batches(w: ErPipeline, tracer, names, pairs) -> float:
    """Two micro-batches of the same pages through the incremental linker.
    Their emitted pairs must be ``pairs``, the batch pipeline's candidate
    pairs. Returns the size of the linker's store in MB."""
    import pyarrow.parquet as pq
    from spans import MB, dir_files

    from company_name_matching_spark.streaming.ingest import IncrementalLinker

    table = w.text_pages
    half = table.num_rows // 2
    parts = (table.slice(0, half), table.slice(half))
    batches = []
    for b, part in enumerate(parts):
        path = w.fresh_dir(f"ingest-batch{b}")
        write_parquet(part, path, w.parts)
        batches.append(w.spark.read.parquet(str(path)))
    valid = {r["url"]: r["record_id"] for r in names.select("url", "record_id").collect()}
    store_dir = w.fresh_dir("ingest-store")
    names_dir = store_dir / "names"
    linker = IncrementalLinker(str(store_dir))
    sinks, name_files = [], [set()]
    with tracer.span("ingest", "ingest") as rec:
        for b, batch in enumerate(batches):
            sinks.append(w.fresh_dir(f"ingest-pairs{b}"))
            linker.process_batch(batch, b).write.parquet(str(sinks[-1]))
            name_files.append(set(names_dir.glob("*.parquet")))
    all_pairs = []
    for b, (part, sink) in enumerate(zip(parts, sinks)):
        batch_ids = {valid[u] for u in part.column("url").to_pylist() if u in valid}
        appended = sum(pq.read_metadata(f).num_rows
                       for f in name_files[b + 1] - name_files[b])
        require(appended == len(batch_ids),
                f"ingest batch {b} appended {appended} names, expected {len(batch_ids)}")
        emitted = w.spark.read.parquet(str(sink)).collect()
        require(all(left < right and (left in batch_ids or right in batch_ids)
                    for left, right in emitted),
                f"ingest batch {b} pairs are ordered and touch the batch")
        all_pairs.extend(tuple(p) for p in emitted)
    rec["rows_out"] = len(all_pairs)
    batch_pairs = {tuple(r) for r in pairs.select("left_id", "right_id").collect()}
    require(len(set(all_pairs)) == len(all_pairs) and set(all_pairs) == batch_pairs,
            "ingest emits each of the batch pipeline's candidate pairs once")
    return sum(dir_files(store_dir).values()) / MB


def run_traced_search(runner: Runner, tracer) -> dict:
    from company_name_matching_spark.sources.store import materialize

    w = runner.w
    runner.check(runner.run_op()[1])  # cold op, not part of the layer split
    untraced_s, out = runner.run_op()
    runner.check(out)
    t_op, book0 = time.monotonic(), tracer.bookkeeping_s
    with tracer.span("search", "traced") as rec:
        _, out = runner.run_op()
    traced_s = time.monotonic() - t_op
    overhead_s = tracer.bookkeeping_s - book0
    o = runner.check(out)
    rec["rows_out"] = o["pairs"] if o else 0
    with tracer.span("store", "barriers") as rec:
        for df in (w.corpus, w.queries):
            materialize(df, "perfbench_store")
    rec["rows_out"] = len(w.company_ids) + len(w.truth)
    return {
        "trace.op_s": traced_s,
        "trace.untraced_op_s": untraced_s,
        "trace.overhead_s": overhead_s,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOAD_CLASSES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--size", choices=sorted(SIZES), required=True)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--run-dir", type=Path, required=True)
    args = p.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import company_name_matching_spark

    pkg = Path(company_name_matching_spark.__file__).resolve()
    if ROOT not in pkg.parents:
        print(f"perfbench: imported the package from {pkg}, not from {ROOT}",
              file=sys.stderr)
        return 2

    spark = start_session(args.cores, args.run_dir)
    try:
        session_s = time.monotonic() - T_START
        w = WORKLOAD_CLASSES[args.workload](
            spark, args.run_dir, SIZES[args.size][args.workload], args.seed, args.cores)
        prep = []
        for rep in range(SETUP_REPEATS):
            t0 = time.monotonic()
            w.prepare(rep)
            prep.append(time.monotonic() - t0)
        setup_s = session_s + statistics.median(prep)
        runner = Runner(w)
        if args.trace:
            from spans import Tracer, per_layer_units

            tracer = Tracer(spark, args.run_dir, args.cores)
            run_traced = run_traced_er if args.workload == "er_pipeline" else run_traced_search
            extras = run_traced(runner, tracer)
            values = tracer.layer_metrics()
            values.update({k: 0.0 for k in per_layer_units() if k not in values})
            values.update(extras)
            values["session.wall_s"] = session_s
            tracer.write(ROOT / ".perfbench" / "traces" /
                         f"{args.workload}-seed{args.seed}-{time.time_ns()}.jsonl")
            units = per_layer_units()
            detail = {"tracer_bookkeeping_s": tracer.bookkeeping_s}
        else:
            from spans import MB, dir_files

            values = run_untraced(runner, args.seconds)
            # the package's barriers and checkpoints sit on this host's disk
            # or RAM beside peak_rss_mb
            detail = {"samples": values.pop("_samples"),
                      "scratch_mb": sum(dir_files(args.run_dir).values()) / MB}
            values["setup_s"] = setup_s
            units = END_TO_END_UNITS
    except CheckFailed as exc:  # a check outside an op (traced extras)
        print(f"perfbench: check failed: {exc}", file=sys.stderr)
        return 1
    finally:
        spark.stop()

    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": args.cores, "session_s": session_s, "input_prep_s": prep,
        "attempted": runner.attempted, "failed": runner.failed,
        "error_rate": runner.failed / max(1, runner.attempted),
        "outcomes": runner.outcomes,
    })
    print(json.dumps({"detail": detail}), flush=True)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    (args.run_dir / "result.json").write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
