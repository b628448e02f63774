"""Distributed BM25 (Okapi) scoring — SURVEY.md V4.

The reference wraps ``rank_bm25.BM25Okapi`` around an in-memory corpus
(``matcher.py:210-214,287-289``); this is the distributed re-expression:
document frequencies and length norms come from corpus aggregations, scoring
is an explode→join→agg over (term, doc) postings. Everything JVM-native; the
arithmetic follows ``rank_bm25.BM25Okapi`` exactly (its defaults k1=1.5,
b=0.75, epsilon=0.25) so rankings match the reference and a SQL oracle can
reproduce scores bit-for-bit (round-stabilized):

    idf(t)      = ln( (N - df + 0.5) / (df + 0.5) ),
                  floored to epsilon · avg_idf when negative
                  (avg_idf = mean raw idf over the full corpus vocabulary)
    score(q, d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·|d|/avgdl))

The negative-idf floor is the part naive ports miss: high-df terms (df >
N/2) would otherwise get negative weights and can flip document rankings
vs the reference.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K1 = 1.5
B = 0.75
EPSILON = 0.25  # rank_bm25.BM25Okapi default


def _tokens(text_col):
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document against a bag of query terms.

    Returns (doc_id, bm25) for docs matching ≥1 term, rounded for
    cross-engine comparison. df/idf computed over the corpus; the query-term
    list is a broadcast-sized literal dimension. avg_idf is a corpus scalar
    (decimal-accumulated so the mean is order-independent cross-engine).
    """
    spark = docs.sparkSession
    st = corpus_stats(
        docs.select(
            F.col(id_col).alias("record_id"),
            _tokens(F.col(text_col)).alias("tokens"),
        )
    )
    if st.n_docs == 0 or st.avgdl <= 0.0:  # empty corpus: stable schema
        return docs.select(F.col(id_col), F.lit(0.0).alias("bm25")).where(F.lit(False))
    postings, doclens, avgdl = st.postings, st.doclens, st.avgdl
    qt = spark.createDataFrame([(t.lower(),) for t in query_terms], "term string")
    # one idf/floor pipeline for the whole module: the epsilon·avg_idf
    # floor lives only in corpus_stats (r4 review); restrict to the query
    # terms after flooring (avg_idf is over the FULL vocabulary either way)
    idf = st.idf.join(F.broadcast(qt), "term")
    scored = (
        postings.join(F.broadcast(idf), "term")
        .join(doclens, "doc")
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(K1)
                * (1.0 - B + F.lit(B) * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy("doc")
        # decimal accumulation → order-independent sum (cross-engine exact)
        .agg(
            F.round(
                F.sum(F.col("contrib").cast("decimal(30,12)")).cast("double"), 6
            ).alias("bm25")
        )
    )
    return scored.select(F.col("doc").alias(id_col), "bm25")


@dataclass
class BmCorpusStats:
    """Corpus-side BM25 state shared across scoring calls: postings and
    doc lengths (corpus-bounded tables — optionally materialized so
    multiple consumers scan parquet instead of re-running the tokenize +
    aggregate pipeline), the floored idf table, and the two scalars."""

    postings: DataFrame
    doclens: DataFrame
    idf: DataFrame | None
    n_docs: int
    avgdl: float


def corpus_stats(corpus: DataFrame, materialized: bool = False) -> BmCorpusStats:
    """Build the corpus-side BM25 state once from (record_id, tokens). With
    ``materialized=True`` the postings/doclens/idf tables are written
    through the parquet barrier, so several downstream scorings
    (candidate-pair channel + corpus-wide per-query max in hybrid search)
    share one tokenize + aggregation pipeline instead of re-executing it
    per consumer — WITHOUT ever persisting a query×doc score table (whose
    size is Σ_{t∈q} df(t), unbounded by the candidate set)."""
    c_toks = corpus.select(
        F.col("record_id").alias("doc"), F.explode(F.col("tokens")).alias("term")
    )
    postings = c_toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    doclens = c_toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    if materialized:
        from company_name_matching_spark.sources.store import materialize

        postings = materialize(postings, "bm25_postings")
        doclens = materialize(doclens, "bm25_doclens")
    n_docs = corpus.count()
    avgdl = float(doclens.agg(F.avg("dl")).collect()[0][0] or 0.0)
    if n_docs == 0 or avgdl <= 0.0:
        return BmCorpusStats(postings, doclens, None, n_docs, avgdl)
    raw_idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    df_all = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avg_idf = float(
        df_all.agg(
            (
                F.sum(raw_idf.cast("decimal(30,15)")).cast("double")
                / F.count(F.lit(1))
            ).alias("ai")
        ).collect()[0][0]
    )
    idf = df_all.withColumn(
        "idf", F.when(raw_idf < 0, F.lit(EPSILON * avg_idf)).otherwise(raw_idf)
    ).select("term", "idf")
    if materialized:
        from company_name_matching_spark.sources.store import materialize

        idf = materialize(idf, "bm25_idf")
    return BmCorpusStats(postings, doclens, idf, n_docs, avgdl)


def bm25_pair_scores(
    corpus: DataFrame,
    queries: DataFrame,
    pairs: DataFrame | None,
    stats: BmCorpusStats | None = None,
) -> DataFrame:
    """BM25 of (query, doc) for an explicit candidate-pair list — the
    retrieval channel of the reference's tfidf+BM25 hybrid
    (``matching/matcher.py:366-376``) re-expressed as distributed posting
    joins.

    ``corpus`` and ``queries`` are (record_id, tokens) tables; ``pairs`` is
    (left_id=query record, right_id=corpus record). Corpus statistics (df,
    avgdl, N, the rank_bm25 epsilon·avg_idf floor) come from corpus-wide
    aggregations exactly as in :func:`bm25_scores`; the per-pair sum is an
    explode→join→agg bounded by Σ|query terms| × the pair list — never
    corpus × vocab. Query-term multiplicity is preserved (rank_bm25
    iterates duplicates). Returns (left_id, right_id, bm25) for pairs with
    ≥1 matching term.

    ``pairs=None`` scores every (query, doc) pair sharing ≥1 term — the
    reference's ``get_scores`` over the whole corpus. Per-query cost is
    Σ_{t∈q} df(t) posting rows (a skewed equi-join AQE can split), NOT
    corpus × queries; used by :func:`bm25_query_max` for corpus-wide
    max normalization.
    """
    st = stats or corpus_stats(corpus)
    if st.n_docs == 0 or st.avgdl <= 0.0:
        empty = pairs if pairs is not None else corpus.select(
            F.col("record_id").alias("left_id"),
            F.col("record_id").alias("right_id"),
        )
        return empty.select(
            "left_id", "right_id", F.lit(0.0).alias("bm25")
        ).where(F.lit(False))
    postings, doclens, idf, avgdl = st.postings, st.doclens, st.idf, st.avgdl

    q_terms = (
        queries.select(
            F.col("record_id").alias("left_id"),
            F.explode(F.col("tokens")).alias("term"),
        )
        .groupBy("left_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )
    if pairs is not None:
        matched = (
            pairs.select("left_id", "right_id")
            .join(q_terms, "left_id")
            .join(
                postings.withColumnRenamed("doc", "right_id"),
                ["right_id", "term"],
            )
        )
    else:
        # all matching docs per query: postings equi-join on term alone
        matched = q_terms.join(
            postings.withColumnRenamed("doc", "right_id"), "term"
        )
    return (
        matched
        .join(idf, "term")
        .join(doclens.withColumnRenamed("doc", "right_id"), "right_id")
        .withColumn(
            "contrib",
            F.col("qtf")
            * F.col("idf")
            * (F.col("tf") * (K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(K1) * (1.0 - B + F.lit(B) * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy("left_id", "right_id")
        .agg(
            F.round(
                F.sum(F.col("contrib").cast("decimal(30,12)")).cast("double"), 6
            ).alias("bm25")
        )
    )


def bm25_query_max(
    corpus: DataFrame,
    queries: DataFrame,
    stats: BmCorpusStats | None = None,
) -> DataFrame:
    """Per-query CORPUS-WIDE BM25 maximum — the reference's normalizer
    (``matching/matcher.py:371-373``: ``bm25_scores_raw.max()`` over
    ``get_scores`` on the full corpus, not just blocked candidates).

    Returns (left_id, bm25_max) for queries with ≥1 term matching any doc;
    docs sharing no term score 0, so this max equals the full-corpus max
    whenever it is positive — exactly the case where the reference divides.
    Cost: Σ_{t∈q} df(t) posting rows per query (hot legal-form terms are a
    skewed but AQE-splittable equi-join), corpus-size-bounded per query —
    the price of the reference's own normalization semantics.
    """
    all_scores = bm25_pair_scores(corpus, queries, None, stats)
    return all_scores.groupBy("left_id").agg(
        F.max("bm25").alias("bm25_max")
    )
