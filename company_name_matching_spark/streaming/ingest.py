"""Structured Streaming ingestion for the record-linkage pipeline.

The batch pipeline is the system of record (the reference has no streaming
at all — SURVEY.md §2.11); this module adds the incremental-ingest path a
production deployment needs: new pages stream in, are normalized and
blocked incrementally, and pair generation runs **new-vs-all** instead of
all-vs-all (a left-anti resume against already-scored pairs).

Shape: ``readStream`` (any streaming source with the pages schema) →
``foreachBatch`` → per-microbatch incremental merge. foreachBatch is chosen
over stateful streaming operators deliberately: the pair join needs the full
historical block table, which lives in the checkpoint store, not in
executor state. Watermarking applies upstream (late pages are just new
records — record identity is the url hash, so replays are idempotent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from company_name_matching_spark.operators import blocking, normalize


N_BLOCK_BUCKETS = 64


class IncrementalLinker:
    """foreachBatch handler: maintains cumulative names AND blocks stores
    and emits candidate pairs involving at least one BATCH record per
    micro-batch (batch-vs-all ∪ batch-vs-batch). Store appends cover only
    genuinely new records; pair emission covers the whole batch so that an
    at-least-once replay re-emits (rather than loses) the pairs of a batch
    whose sink write did not commit — the per-batch overwrite sink in
    :func:`stream_pages` makes that re-emission idempotent.

    Per-batch cost is O(batch), not O(corpus): MinHash signatures are
    computed ONLY for the batch's new records and appended to a persistent
    blocks table (never recomputed — the round-1 version re-blocked the full
    history every batch, a fatal scale bug for continuous ingest). The
    blocks store is hash-partitioned on ``pmod(xxhash64(block_key), 64)``;
    the pair join statically prunes the store to the batch's buckets (≤64
    literal values collected driver-side) before the exact block_key join,
    so a small batch touches a small fraction of stored files."""

    def __init__(self, store_dir: str, cfg: blocking.BlockingConfig | None = None):
        self.store_dir = store_dir
        self.cfg = cfg or blocking.BlockingConfig()

    def _names_path(self) -> str:
        return f"{self.store_dir}/names"

    def _blocks_path(self) -> str:
        return f"{self.store_dir}/blocks"

    def process_batch(self, pages_batch: DataFrame, batch_id: int) -> DataFrame:
        """Normalize the batch, merge into the stores (idempotent on
        record_id), and return new candidate pairs (new×all ∪ new×new)."""
        spark = pages_batch.sparkSession
        # intra-batch dedup: the same url delivered twice in one micro-batch
        # is one page (record_id = url hash) — without this, both rows would
        # pass the store-level anti-join and persist duplicate record_ids,
        # violating normalize's uniqueness contract
        batch_names = normalize.normalize_pages(pages_batch).dropDuplicates(
            ["record_id"]
        )
        # catch ONLY the missing-path error (AnalysisException
        # PATH_NOT_FOUND), not Exception: a transient read failure must
        # propagate — treating it as "first batch" would skip the
        # idempotence anti-join and silently re-append the whole batch as
        # duplicate store rows
        from pyspark.errors import AnalysisException

        try:
            old_names = spark.read.parquet(self._names_path())
            seen = True
        except AnalysisException:
            seen = False

        from company_name_matching_spark.sources.store import materialize

        batch_names = materialize(batch_names, "ingest_batch_names")

        # STORE appends cover only records not yet ingested (O(new data),
        # old files untouched) — but PAIR emission below uses the FULL
        # batch, seen or not: foreachBatch is at-least-once, and a crash
        # after the names append but before the sink write would otherwise
        # make the replay see every record as "already ingested" and emit
        # zero pairs, losing them forever (the sink makes the re-emission
        # idempotent — see stream_pages). Blocks go before names so a crash
        # between the two appends leaves only harmless blocks-without-names
        # (duplicate stored block rows are deduped before the size filter).
        new_names = batch_names
        if seen:
            new_names = batch_names.join(
                old_names.select("record_id"), "record_id", "left_anti"
            )
            new_names = materialize(new_names, "ingest_names")
        batch_blocks = (
            blocking.generate_blocks(batch_names, self.cfg)
            .withColumn(
                "bucket", F.pmod(F.xxhash64("block_key"), F.lit(N_BLOCK_BUCKETS))
            )
        )
        batch_blocks = materialize(batch_blocks, "ingest_blocks")
        new_blocks = batch_blocks
        if seen:
            new_blocks = batch_blocks.join(
                new_names.select("record_id"), "record_id", "left_semi"
            )
        new_blocks.write.mode("append").partitionBy("bucket").parquet(
            self._blocks_path()
        )
        new_names.write.mode("append").parquet(self._names_path())

        # bounded driver-side metadata: the batch's bucket ids (≤64 values)
        # → static partition pruning of the stored blocks table
        buckets = [
            r["bucket"] for r in batch_blocks.select("bucket").distinct().collect()
        ]
        stored = spark.read.parquet(self._blocks_path()).where(
            F.col("bucket").isin(buckets)
        )
        # restrict to the batch's exact block keys (broadcast — one batch's
        # key set is small), then apply the hot-block cap on the matched
        # subset: all stored rows of a matched key are present, so per-key
        # counts equal true block sizes
        matched = stored.join(
            F.broadcast(batch_blocks.select("bucket", "block_key").dropDuplicates()),
            ["bucket", "block_key"],
        )
        # dedupe BEFORE the size filter: a crash-replay append (blocks are
        # written before names, by design) can leave duplicate stored rows,
        # and filter_blocks counts rows — duplicated rows would inflate a
        # block past the hot cap and silently drop legitimate pairs
        matched = blocking.filter_blocks(
            matched.select("block_key", "record_id").dropDuplicates(),
            self.cfg.max_block_size,
        )
        pairs = (
            batch_blocks.select("block_key", "record_id").alias("l")
            .join(matched.alias("r"), "block_key")
            .where(F.col("l.record_id") != F.col("r.record_id"))
            .select(
                F.least("l.record_id", "r.record_id").alias("left_id"),
                F.greatest("l.record_id", "r.record_id").alias("right_id"),
            )
            .dropDuplicates(["left_id", "right_id"])
        )
        return pairs


def stream_pages(
    spark,
    source_df: DataFrame,
    store_dir: str,
    pairs_sink_dir: str,
    cfg: blocking.BlockingConfig | None = None,
    trigger_once: bool = True,
):
    """Wire a streaming pages DataFrame through the incremental linker.

    ``source_df`` must be a streaming DataFrame with the pages schema.
    Returns the StreamingQuery. With ``trigger_once`` the query drains
    available input and stops — the testable/batch-backfill mode.
    """
    linker = IncrementalLinker(store_dir, cfg)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        pairs = linker.process_batch(batch_df, batch_id)
        # IDEMPOTENT per-batch sink (the standard foreachBatch pattern): a
        # replayed batch OVERWRITES its own directory instead of appending,
        # so at-least-once delivery yields exactly-once pair files. Combined
        # with full-batch pair emission in process_batch, a crash anywhere
        # between the store appends and this write is recovered losslessly.
        # batch_id lives in the hive partition dir, not the data files
        # (readers of pairs_sink_dir recover it via partition discovery)
        pairs.write.mode("overwrite").parquet(
            f"{pairs_sink_dir}/batch_id={batch_id}"
        )

    writer = source_df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", f"{store_dir}/_stream_checkpoint"
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
