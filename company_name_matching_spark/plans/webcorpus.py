"""Web-corpus → training-data pipeline: the LLM-data composition plan.

Chains the engine's web-scale operators into one checkpointed, resumable
job — the pipeline a training-data team actually runs over a crawl:

1. ``snapshots``     latest fetch per canonical url (re-crawl dedup —
                     runs FIRST so re-fetches never reach extraction)
2. ``extract``       html → text, byte-identical per url (codegen chain)
3. ``filter``        token-count bounds + quality floor + language
                     allowlist + optional deterministic hash sampling
4. ``neardup``       exact-fingerprint keep-longest, then MinHash-LSH
                     pair generation → connected components → keep the
                     min-id representative per near-dup cluster
5. ``decontaminate`` drop docs sharing an n-token shingle with the
                     benchmark/eval set (broadcast semi-join)
6. ``pack``          GPT-style fixed-budget sequence packing plan

Every stage goes through the same ``_Checkpointer`` as the ER pipeline
(``plans/pipeline.py``): parquet + ``_COMPLETE.json`` markers, per-stage
row counts and throughput, resume-from-checkpoint mid-run, and one metrics
row per (run, stage) whose lineage lists the row count of each parquet file
the stage wrote — the north rule's durability contract applied to the
data-prep pipeline.

Scale shape: stages 1–3 and 5 are single-shuffle or shuffle-free scans;
stage 4 is the engine's bucketed near-dup machinery (no all-pairs path);
stage 6 is the two-pass distributed prefix scan (no corpus-size
single-partition window). Nothing here collects unbounded state to the
driver (the one driver collect is the size-gated union-find inside
``connected_components``, bounded by its edge threshold).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from company_name_matching_spark.functions import textstats
from company_name_matching_spark.operators import clustering, dedup, extract, pack, sampling
from company_name_matching_spark.plans.pipeline import _Checkpointer


@dataclass
class WebCorpusConfig:
    # filter stage
    langs: tuple[str, ...] = ()          # empty = keep all languages
    min_tokens: int = 5
    max_tokens: int = 1_000_000
    min_quality: float = 0.0             # textstats.quality_score floor
    sample_rate: float = 1.0             # deterministic md5 Bernoulli
    sample_salt: str = ""
    # neardup stage
    neardup_threshold: float = 0.8
    cc_driver_edge_threshold: int = 1_000_000
    # decontaminate stage
    decontaminate_n: int = 8
    # pack stage
    pack_budget: int = 2048
    # bookkeeping (the _Checkpointer contract)
    run_id: str = "webcorpus-0"

    def __post_init__(self):
        if not 0.0 < self.sample_rate <= 1.0:
            raise ValueError(f"sample_rate must be in (0, 1], got {self.sample_rate}")
        if self.pack_budget <= 0:
            raise ValueError(f"pack_budget must be positive, got {self.pack_budget}")


@dataclass
class WebCorpusResult:
    docs: DataFrame          # surviving (doc_id, text, lang, ...) corpus
    packed: DataFrame        # per-doc packing plan (example_id, offsets)
    examples: DataFrame      # per-example rollup
    stage_counts: dict = field(default_factory=dict)
    metrics: list = field(default_factory=list)


def prepare_training_corpus(
    spark: SparkSession,
    pages: DataFrame,
    benchmark: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    cfg: WebCorpusConfig | None = None,
) -> WebCorpusResult:
    """Run the full web-corpus → training-data pipeline (module doc).

    ``pages`` is the input_hint shape (``url, warc_ts, html, text, lang``)
    or any table already carrying ``url``+``text``; ``benchmark`` is the
    eval set to decontaminate against (skipped when None). Stable doc ids
    are ``xxhash64(url)`` — deterministic under any partitioning, the
    same id discipline as the ER pipeline's record ids.
    """
    cfg = cfg or WebCorpusConfig()
    ck = _Checkpointer(spark, checkpoint_dir, cfg.run_id)
    counts: dict[str, int] = {}

    def _snapshots():
        if "warc_ts" in pages.columns:
            return extract.latest_snapshot_per_url(pages)
        return extract.canonicalize_urls(pages)

    snap = ck.run("snapshots", _snapshots)
    counts["snapshots"] = ck.metrics[-1]["rows"]

    def _extract():
        out = snap
        if "text" not in out.columns and "html" in out.columns:
            out = extract.extract_pages(out)
        return out.select(
            F.xxhash64("canonical_url").alias("doc_id"),
            F.col("canonical_url"),
            "text",
            *(["lang"] if "lang" in out.columns else []),
        )

    docs = ck.run("extract", _extract)
    counts["extract"] = ck.metrics[-1]["rows"]

    def _filter():
        t = F.col("text")
        keep = textstats.token_count(t).between(cfg.min_tokens, cfg.max_tokens)
        if cfg.min_quality > 0:
            keep = keep & (textstats.quality_score(t) >= cfg.min_quality)
        if cfg.langs:
            lang = F.col("lang") if "lang" in docs.columns else textstats.langid(t)
            keep = keep & lang.isin(*cfg.langs)
        out = docs.where(keep)
        if cfg.sample_rate < 1.0:
            out = sampling.hash_sample(
                out, "canonical_url", cfg.sample_rate, salt=cfg.sample_salt
            )
        return out

    kept = ck.run("filter", _filter)
    counts["filter"] = ck.metrics[-1]["rows"]

    def _neardup():
        # exact duplicates first (one hash shuffle) — keep the longest
        # representative per fingerprint so MinHash never re-finds them
        exact = dedup.dedup_keep_longest(kept)
        pairs = dedup.minhash_pairs(exact, threshold=cfg.neardup_threshold)
        edges = pairs.select(
            F.col("left_id").alias("src"), F.col("right_id").alias("dst")
        )
        labels, _rounds = clustering.connected_components(
            edges, driver_edge_threshold=cfg.cc_driver_edge_threshold
        )
        # keep the min-id representative of every near-dup cluster
        drop = labels.where(F.col("record_id") != F.col("cluster_id")).select(
            F.col("record_id").alias("doc_id")
        )
        return exact.join(drop, "doc_id", "left_anti").drop("fingerprint")

    uniq = ck.run("neardup", _neardup)
    counts["neardup"] = ck.metrics[-1]["rows"]

    def _decontaminate():
        if benchmark is None:
            return uniq
        flags = dedup.decontaminate(uniq, benchmark, n=cfg.decontaminate_n)
        return uniq.join(
            flags.where(F.col("contaminated") == 1).select("doc_id"),
            "doc_id",
            "left_anti",
        )

    clean = ck.run("decontaminate", _decontaminate)
    counts["decontaminate"] = ck.metrics[-1]["rows"]

    packed = ck.run(
        "pack", lambda: pack.pack_assignments(clean, cfg.pack_budget)
    )
    counts["pack"] = ck.metrics[-1]["rows"]

    examples = pack.pack_examples(clean, cfg.pack_budget)
    ck.flush_metrics()
    return WebCorpusResult(
        docs=clean,
        packed=packed,
        examples=examples,
        stage_counts=counts,
        metrics=ck.metrics,
    )
