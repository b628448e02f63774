"""Pipeline orchestrator: normalize → block → score → cluster, with
per-stage checkpointing, resume, and per-file lineage metrics.

Checkpointing model (distributed version of the reference's stage metrics +
skip_stages orchestrator, ``orchestrator.py:89-257`` / ``utils/metrics.py``):

* every stage writes its output table under ``<checkpoint_dir>/<stage>/``
  plus a ``_COMPLETE.json`` marker (rows, elapsed, throughput, per-file
  rows, and ``facts``: what the stage computed besides its table, e.g. the
  cluster stage's ``cc_rounds``);
* on re-run, a stage whose marker exists is *read back*, not recomputed —
  resume-from-checkpoint mid-pipeline — and reports the marker's facts;
* a ``metrics`` table accumulates one row per (run, stage) with the row
  count and throughput; its ``partitions_json`` lists the row count of each
  parquet file the stage wrote, in part-file order — the per-partition
  lineage the north rule asks for.

Stage bookkeeping is driver-side file I/O: row counts come from the parquet
footers the stage's own write left, and the metrics rows are appended as one
pyarrow-written file per run, so Spark jobs run only the stages' own work.

Storage is parquet-directory-based: stage tables are plain parquet
directories, and the write-once/marker discipline is ``_Checkpointer``'s
own (a stage's marker is written only after its table). The pipeline does
not go through the ``sources.catalog`` layer. On a production cluster the
stage tables would be Iceberg tables (``writeTo(...).using("iceberg")``);
the runtime here has no Iceberg jar.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from company_name_matching_spark.operators import (
    blocking, clustering, extract, normalize, scoring,
)
from company_name_matching_spark.sources import store


@dataclass
class PipelineConfig:
    blocking: blocking.BlockingConfig = field(default_factory=blocking.BlockingConfig)
    scoring: scoring.ScoringConfig = field(default_factory=scoring.ScoringConfig)
    run_id: str = "run-0"
    max_cc_iterations: int = 15
    # size gate of the driver clustering path, for both cluster methods:
    # union-find for "cc", the pivot replay for "pivot" (0 = always iterate
    # distributed; see clustering.connected_components / pivot_clusters)
    cc_driver_edge_threshold: int = 1_000_000
    # "cc" = transitive connected components (reference semantics);
    # "pivot" = ACN pivot clustering — star clusters, no chain over-merge
    # (clustering.pivot_matches).
    cluster_method: str = "cc"
    # also emit the golden-record survivorship table (one canonical name
    # per cluster) as a checkpointed "golden" stage / PipelineResult.golden
    emit_golden: bool = False

    def __post_init__(self):
        if self.cluster_method not in ("cc", "pivot"):
            raise ValueError(
                f"cluster_method must be 'cc' or 'pivot'; got {self.cluster_method!r}"
            )


@dataclass
class PipelineResult:
    names: DataFrame
    pairs: DataFrame
    matches: DataFrame
    clusters: DataFrame
    metrics: list[dict]
    cc_rounds: int = 0
    golden: DataFrame | None = None


# tz-aware ``ts`` so Spark reads it back as TIMESTAMP (a naive one would come
# back as TIMESTAMP_NTZ and clash with the files earlier runs appended)
_METRICS_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("stage", pa.string()), ("resumed", pa.bool_()),
    ("rows", pa.int64()), ("elapsed_s", pa.float64()),
    ("rows_per_s", pa.float64()), ("partitions_json", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _footer_schema(data: str) -> StructType | None:
    """The Spark schema stored in the footer of a stage's first part file
    (``org.apache.spark.sql.parquet.row.metadata``), or None without one."""
    parts = sorted(Path(data).glob("part-*.parquet"))
    if not parts:
        return None
    raw = (pq.read_metadata(str(parts[0])).metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    return StructType.fromJson(json.loads(raw)) if raw else None


class _Checkpointer:
    def __init__(self, spark: SparkSession, root: str | None, run_id: str):
        self.spark = spark
        self.root = Path(root) if root else None
        self.run_id = run_id
        self.metrics: list[dict] = []

    def _dir(self, stage: str) -> Path:
        return self.root / stage

    def has(self, stage: str) -> bool:
        return bool(self.root) and (self._dir(stage) / "_COMPLETE.json").exists()

    def run(self, stage: str, fn) -> DataFrame:
        """Compute-or-restore a stage; record metrics either way.

        ``fn`` returns the stage's frame, or ``(frame, facts)`` with a
        JSON-able ``facts`` dict that the marker keeps, so a resumed stage
        reports the facts of the run that computed it."""
        t0 = time.monotonic()
        resumed = self.has(stage)
        data = str(self._dir(stage) / "data") if self.root else None
        if resumed:
            marker = json.loads(
                (self._dir(stage) / "_COMPLETE.json").read_text(encoding="utf-8")
            )
            facts = marker.get("facts", {})
            # the schema the stage's write left in its footers: reading with
            # it runs no schema-inference job
            reader, schema = self.spark.read, _footer_schema(data)
            if schema is not None:
                reader = reader.schema(schema)
            df = reader.parquet(data)
        else:
            # a computed stage is written at its checkpoint location, or in
            # scratch when there is none
            out = fn()
            df, facts = out if isinstance(out, tuple) else (out, {})
            df = store.materialize(df, stage, path=data)
        rows, parts = store._written_rows(df)
        elapsed = 0.0 if resumed else time.monotonic() - t0
        entry = {
            "run_id": self.run_id,
            "stage": stage,
            "resumed": resumed,
            "rows": rows,
            "elapsed_s": round(elapsed, 4),
            "rows_per_s": round(rows / elapsed, 2) if elapsed > 0 else None,
            "partitions": parts,
            "facts": facts,
        }
        self.metrics.append(entry)
        if data and not resumed:
            marker = self._dir(stage) / "_COMPLETE.json"
            marker.write_text(json.dumps(entry, default=str), encoding="utf-8")
        return df

    def flush_metrics(self):
        """Append this run's rows to ``<root>/metrics`` as one new parquet
        file, one row per (run, stage)."""
        if not self.root:
            return
        ts = datetime.now(timezone.utc)
        rows = [dict(m, partitions_json=json.dumps(m["partitions"]), ts=ts)
                for m in self.metrics]
        out = self.root / "metrics"
        out.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=_METRICS_SCHEMA),
                       str(out / f"part-{uuid.uuid4().hex}.parquet"))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    checkpoint_dir: str | None = None,
    cfg: PipelineConfig | None = None,
) -> PipelineResult:
    """Full record-linkage pipeline over a pages table.

    A crawl-raw pages table (``html`` present, no ``text`` column) runs
    through the JVM extraction front stage first — the north star's
    byte-identical per-url extraction is ``operators.extract`` and is
    fused into the normalize scan (no extra pass over the corpus).
    """
    cfg = cfg or PipelineConfig()
    ck = _Checkpointer(spark, checkpoint_dir, cfg.run_id)

    if "text" not in pages.columns and "html" in pages.columns:
        pages = extract.extract_pages(pages)

    names = ck.run("normalize", lambda: normalize.normalize_pages(pages))
    n_names = ck.metrics[-1]["rows"]
    pairs = ck.run("pairs", lambda: blocking.candidate_pairs(names, cfg.blocking))

    def _score():
        idf = scoring.build_idf(names, n=cfg.scoring.ngram, n_docs=n_names)
        return scoring.score_pairs(names, pairs, idf, cfg.scoring)

    matches = ck.run("score", _score)

    def _cluster():
        if cfg.cluster_method == "pivot":
            clusters, rounds = clustering.pivot_matches(
                matches, names, cfg.cc_driver_edge_threshold
            )
        else:
            clusters, rounds = clustering.cluster_matches(
                matches, names, cfg.max_cc_iterations,
                cfg.cc_driver_edge_threshold,
            )
        return clusters, {"cc_rounds": rounds}

    clusters = ck.run("cluster", _cluster)
    cc_rounds = ck.metrics[-1]["facts"].get("cc_rounds", 0)
    golden = None
    if cfg.emit_golden:
        golden = ck.run(
            "golden", lambda: clustering.golden_records(clusters, names)
        )
    ck.flush_metrics()
    return PipelineResult(
        names=names, pairs=pairs, matches=matches, clusters=clusters,
        metrics=ck.metrics, cc_rounds=cc_rounds, golden=golden,
    )
