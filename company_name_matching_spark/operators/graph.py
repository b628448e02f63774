"""Iterative graph-authority scoring (PageRank) as bounded join rounds.

Web-corpus pipelines rank hosts/URLs by link authority (Common Crawl's
host-level ranks; quality filters weight documents by the authority of
their origin). This is the batch analog of the engine's
connected-components loop: a FIXED number of join+aggregate rounds,
each materialized through the storage barrier so the plan never grows
with the iteration count.

Determinism contract (what makes a DuckDB oracle able to reproduce the
scores bit-for-bit): double addition is order-dependent, so per-edge
contributions are 12dp-rounded doubles accumulated as
``decimal(38,12)`` (order-independent exact sums — the same
decimal-accumulation rule the char-LM scorer carries), and each new
rank is re-rounded to 12dp. Every remaining step — division of a
rounded double by an integer degree, the decimal→double conversion,
the damping multiply-add — is IEEE-correctly-rounded and identical in
the JVM and DuckDB.

Simplifications, stated: dangling-node mass is NOT redistributed (a
sink's rank contributes nothing; scores are un-normalized authority,
which is what threshold-based quality weighting consumes), and the
iteration count is fixed rather than convergence-tested (the oracle
states the same fixed unrolling).

Scale: each round is one key-partitioned equi-join (ranks are
broadcastable only while the node dim is small — at web scale AQE
picks SMJ) plus one hash aggregation on dst. The node and degree
tables are computed once; rounds reuse them. O(iterations) rounds, no
driver-side state beyond the bounded node count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 12


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(id, rank) over the distinct nodes of ``edges`` after
    ``iterations`` damped power-iteration rounds from a uniform start.

    ``rank_{t+1}(v) = round((1-d)/N + d · Σ_{u→v} round(rank_t(u)/deg(u), 12), 12)``

    with the sum accumulated in decimal — see module docstring for why
    every step is cross-engine exact.
    """
    from company_name_matching_spark.sources.store import materialize

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    e = materialize(e, "pagerank_edges")
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    nodes = materialize(nodes, "pagerank_nodes")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    deg = materialize(deg, "pagerank_deg")

    n_nodes = nodes.count()  # bounded scalar (node-dim cardinality)
    # teleport term computed ONCE driver-side; IEEE division identical
    # to the SQL twin's `(1-d)/N` double expression
    teleport = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn(
        "rank", F.round(F.lit(1.0 / n_nodes), _SCALE)
    )

    for i in range(iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["id"])
            .join(deg, "src")
            .select(
                "dst",
                F.round(F.col("rank") / F.col("outd"), _SCALE)
                .cast(f"decimal(38,{_SCALE})")
                .alias("_c"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = nodes.join(
            contrib, nodes["id"] == contrib["dst"], "left"
        ).select(
            "id",
            F.round(
                F.lit(teleport)
                + F.lit(damping)
                * F.coalesce(
                    F.col("_in").cast("double"), F.lit(0.0)
                ),
                _SCALE,
            ).alias("rank"),
        )
        ranks = materialize(ranks, f"pagerank_r{i + 1}")
    return ranks
