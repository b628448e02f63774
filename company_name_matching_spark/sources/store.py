"""Placement: the parquet barrier and the two spreads.

:func:`materialize` is the engine's barrier, a parquet write and read-back
instead of ``.persist()``, for two reasons:

1. **Scaling.** Spark's in-memory columnar cache (InMemoryRelation) scan
   contends badly at high local thread counts — measured on this workload:
   reading a cached 83k-row names table inside the blocking stage took
   10.6 s at local[8] but **54.2 s at local[32]**, while the identical plan
   reading the same data back from parquet took 7-11 s at both levels.
   Parquet scans scale linearly with cores.
2. **Architecture.** On a real cluster every stage writes its output table
   (Iceberg/parquet) anyway — checkpoint/resume depends on it. Using the
   same mechanism for intra-run reuse keeps one code path.

Where a barrier goes is one rule, stated on :func:`materialize`. Where a
frame is repartitioned is two: :func:`spread` before a fan-out, and
:func:`spread_to_cores` before a CPU-bound kernel.

Temp outputs live under a per-process scratch dir (on the RAM-backed
``/dev/shm`` when the host has one) that a Python ``atexit`` hook removes
when the driver process exits.
"""

from __future__ import annotations

import atexit
import itertools
import shutil
import tempfile

import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame

_counter = itertools.count()
_scratch: str | None = None


def _scratch_dir() -> str:
    global _scratch
    if _scratch is None:
        # Prefer RAM-backed tmpfs: the barrier write/read must not serialize
        # on a single local disk (on a real cluster this I/O is distributed
        # across node-local disks / object storage).
        import os

        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        _scratch = tempfile.mkdtemp(prefix="cnms-scratch-", dir=base)
        atexit.register(shutil.rmtree, _scratch, ignore_errors=True)
    return _scratch


def materialize(
    df: DataFrame, label: str = "stage", path: str | None = None
) -> DataFrame:
    """Hard materialization barrier: parquet write + read-back, at ``path``
    (a checkpoint location) or under the session scratch dir. The read-back
    takes ``df``'s schema, so Spark runs no job to infer it from the files.

    The barrier rule. A barrier costs a job plus a write and a read of its
    rows, so it is placed only where one of these holds:

    1. it is a pipeline stage's durable output;
    2. more than one consumer reads a frame that a Python kernel or
       interpreted array functions compute;
    3. more than one consumer reads the output of a join or an aggregation;
    4. it stages the input of array functions whose lambdas would otherwise
       re-evaluate it per element;
    5. it holds an iteration's state (it cuts the per-round lineage);
    6. a driver decision reads its footer row count (:func:`_written_rows`).

    A function materializes frames it computes, never the frame it was
    given. A projection, filter or union over a barrier stays lazy.
    """
    path = path or f"{_scratch_dir()}/{label}-{next(_counter)}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def _written_rows(df: DataFrame) -> tuple[int, list[dict]]:
    """Row count and per-file lineage of a parquet-backed table, read from
    the footers of its files in part-file order (driver-side I/O, no Spark
    job): one ``{"partition_id", "rows"}`` entry per written file."""
    parts = []
    for i, uri in enumerate(sorted(df.inputFiles())):
        filesystem, path = pafs.FileSystem.from_uri(uri)
        meta = pq.read_metadata(path, filesystem=filesystem)
        parts.append({"partition_id": i, "rows": meta.num_rows})
    return sum(p["rows"] for p in parts), parts


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``spark.sql.shuffle.partitions``: the
    spread a small table gets right before it fans out into a much larger
    row set (pair expansion, candidate self-join probe).

    A small input is the silent serializer there. An aggregated key or
    block table is a handful of rows whose exchange AQE coalesces to 1-2
    partitions, and a few-MB parquet barrier reads back as 1-2 splits whose
    join partner broadcasts. Joins and explodes PRESERVE partitioning, so
    the multi-million-row output and the map-side partial aggregation
    after it would all run in those 1-2 tasks (measured on the sf0.1 part
    PPJoin: 14.3 s serial vs 2.6 s spread for the identical 18M-row
    candidate join). AQE never coalesces a repartition by number, and the
    spread shuffles only the small input's rows, never the fan-out.

    Unconditional on purpose: the partition count of an aggregated frame
    is known only after its job runs (asking for it launches one and
    reports the post-AQE width), so a "spread only when narrower" check
    would cost a job and answer wrongly. An input already at shuffle width
    pays one round-robin exchange of its rows.
    """
    return df.repartition(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    )


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` (the core count):
    the spread a small scan gets right before a CPU-bound kernel (a Python
    UDF, or interpreted array functions over long documents), which would
    otherwise run in the scan's one or two splits.

    The core count, not :func:`spread`'s shuffle width: each core runs one
    Python worker, and a kernel task pays a per-task cost (a worker round
    trip, Arrow set-up) that argues against the shuffle width's 2× tasks.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
