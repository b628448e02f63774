"""Distributed top-k company search — the reference's main entry point
(``CompanyMatcher.search``, ``matcher.py:340-667``) without a driver-side
index: queries are blocked against the corpus, scored pairwise on executors,
and post-processed with window functions.

Semantics preserved from the reference:

* norm-key dedup + expansion — candidates sharing a match key count once for
  ranking but every corpus original is returned (``matcher.py:599-625``);
* repeated-token penalty ×0.85 on the candidate side (``matcher.py:627-638``);
* entity-type promotion: if the query names an entity type and top-1
  disagrees, the best agreeing candidate within a 0.20 gap is promoted
  (``matcher.py:640-657``);
* min_score gate: a query whose best score is below threshold returns
  nothing (``matcher.py:663-665``).
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from company_name_matching_spark.operators import blocking, normalize, scoring

REPEAT_PENALTY = 0.85  # matcher.py:632
ENTITY_GAP_THRESHOLD = 0.20  # matcher.py:644
# stage4_match.py:121-127 — confidence tiers every downstream consumer uses
CONFIDENCE_HIGH = 0.90
CONFIDENCE_MEDIUM = 0.75


def confidence_tier(score_col):
    """match_confidence ∈ {high, medium, low} (stage4_match.py:121-127)."""
    return (
        F.when(score_col >= CONFIDENCE_HIGH, F.lit("high"))
        .when(score_col >= CONFIDENCE_MEDIUM, F.lit("medium"))
        .otherwise(F.lit("low"))
    )


# a typo'd model name must fail loudly, not silently run the default fused
# scoring (same failure class as blocking-channel validation, ADVICE r4)
_KNOWN_MODELS = frozenset(
    {"fused", "hybrid_bm25", "hybrid_lsa", "hybrid_dense", "cross_rerank"}
)


# matcher.py:60 — every hybrid model blends its extra retrieval channel with
# the base score at these weights: 0.5·base + 0.5·channel
FUSION_WEIGHT = 0.5
# hybrid_lsa: the LSA model fit on the corpus (operators/lsa.py)
LSA_COMPONENTS = 16
LSA_VOCAB = 512
# hybrid_dense: sign-LSH buckets over the embeddings, planes × tables
DENSE_PLANES = 8
DENSE_TABLES = 8


@dataclass
class SearchConfig:
    k: int = 5
    min_score: float = 0.0
    # "fused": the 4-channel pairwise fusion (cos/jaccard/JW/Lev) — this
    # engine's default, Top-1 100% on the reference corpus. The other
    # models blend one channel into the tfidf cosine at FUSION_WEIGHT:
    # "hybrid_bm25": the reference's published headline config
    # (matcher.py:366-376, model 'tfidf-bm25'), BM25 normalized by the
    # per-query max over the whole corpus (matcher.py:371-373).
    # "hybrid_lsa": the reference's LSA vectorizer option (its TruncatedSVD
    # dense channel), cosine in the corpus-fit LSA space.
    # "hybrid_dense": the reference's 'tfidf-dense' shape (matcher.py:378+),
    # dense-embedding cosine; candidates also come from sign-LSH buckets,
    # so translation pairs with ZERO token overlap are retrievable.
    # "cross_rerank": the reference's cross-encoder rerank shape — a joint
    # (query, candidate) scorer (encode.cross_encoder_scores) blended into
    # the fused score of the fuzzy candidates.
    model: str = "fused"
    # pluggable models (executor-side construction); None = the
    # deterministic stand-ins (no torch in this environment)
    cross_scorer_factory: object = None  # encode.PairScorerFactory
    dense_encoder_factory: object = None  # encode.EncoderFactory
    dense_dim: int = 64
    # optional query-side alias rules (pattern, replacement) applied to the
    # QUERY match_key after normalization — e.g. crosslang.EN_VI_ALIASES
    # for EN→VI sector terms. Query-side only: corpus keys are untouched,
    # so corpus-side parity gates are unaffected.
    query_aliases: tuple = ()
    blocking: blocking.BlockingConfig = field(default_factory=blocking.BlockingConfig)
    scoring: scoring.ScoringConfig = field(default_factory=scoring.ScoringConfig)


def search_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cfg: SearchConfig | None = None,
    corpus_id: str = "company_id",
    corpus_text: str = "name",
    query_id: str = "query_id",
    query_text: str = "query_text",
) -> DataFrame:
    """(corpus, queries) → (query_id, company_id, company_name, score, rank).

    Fully distributed: blocking bounds the candidate set per query; scoring
    and all post-rules run as joins + windows.
    """
    cfg = cfg or SearchConfig()
    if cfg.model not in _KNOWN_MODELS:
        raise ValueError(
            f"unknown SearchConfig.model {cfg.model!r}; "
            f"expected one of {sorted(_KNOWN_MODELS)}"
        )
    # distinct id domains: corpus and query ids live in different id spaces,
    # and a corpus id that string-equals a query id must NOT collide to the
    # same record_id (it would fan out the scoring joins)
    from company_name_matching_spark.sources.store import (
        _written_rows,
        materialize,
    )

    # the normalized c and q fan into blocking, IDF, scoring and the output
    # joins
    c = materialize(
        normalize.normalize_mentions(corpus, corpus_id, corpus_text,
                                     id_domain="c:"),
        "search_corpus",
    )
    q = normalize.normalize_mentions(queries, query_id, query_text,
                                     id_domain="q:")
    if cfg.query_aliases:
        # query-side alias layer (JVM regexp chain; Java regex supports \b),
        # applied below the one query barrier
        mk = F.col("match_key")
        for pat, rep in cfg.query_aliases:
            mk = F.regexp_replace(mk, pat, rep)
        mk = F.trim(F.regexp_replace(mk, r"\s+", " "))
        q = (
            q.withColumn("match_key", mk)
            .withColumn("tokens", F.split("match_key", " "))
        )
    q = materialize(q, "search_queries")

    # read twice by filter_blocks (size-agg + keep-join)
    cb = blocking.filter_blocks(
        materialize(blocking.generate_blocks(c, cfg.blocking), "search_cblocks"),
        cfg.blocking.max_block_size, min_size=1,
    )
    qb = blocking.generate_blocks(q, cfg.blocking)
    cand = (
        qb.withColumnRenamed("record_id", "left_id")
        .join(cb.withColumnRenamed("record_id", "right_id"), "block_key")
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )

    qv = cv = None
    if cfg.model == "hybrid_dense":
        # dense retrieval channel: sign-LSH buckets over the embeddings add
        # candidates lexical blocking can NEVER produce (translation pairs
        # share zero tokens). Vectors are encoded once per side and
        # materialized — they feed bucket keys here and the cosine channel
        # below. Per-bucket fan-out is bounded by the bucket population
        # (~n/2^planes expected), not the corpus.
        from company_name_matching_spark.operators import encode
        from company_name_matching_spark.operators.ann import (
            _bucket_col,
            md5_hyperplanes,
        )

        # the default stand-in must emit cfg.dense_dim-wide vectors (its
        # own default is 64, which would trip the dimension guard below
        # for any other dense_dim with no way to follow the guard's advice)
        factory = cfg.dense_encoder_factory or (
            lambda dim=cfg.dense_dim: encode.hash_encoder(dim)
        )
        cv = materialize(
            encode.encode_texts(c, factory, "record_id", "match_key", "v"),
            "search_cvec",
        )
        qv = materialize(
            encode.encode_texts(q, factory, "record_id", "match_key", "v"),
            "search_qvec",
        )
        # dimension guard: a drop-in encoder whose output width differs
        # from dense_dim would null-pad against the hyperplanes, every sign
        # bit would fall to '0', ALL records would share one bucket per
        # table, and dense_cand would silently become a full query×corpus
        # cross join — fail loudly instead (encoders emit uniform widths,
        # so checking one row per side suffices)
        for side, vdf in (("corpus", cv), ("query", qv)):
            row = vdf.select(F.size("v").alias("d")).first()
            if row is not None and row["d"] != cfg.dense_dim:
                raise ValueError(
                    f"dense encoder emitted {row['d']}-d vectors on the "
                    f"{side} side but SearchConfig.dense_dim={cfg.dense_dim}"
                    " — set dense_dim to the model's output width"
                )
        tables = md5_hyperplanes(cfg.dense_dim, DENSE_PLANES, DENSE_TABLES)

        def _buckets(vdf):
            keyed = vdf.select(
                "record_id",
                F.array(
                    *[
                        _bucket_col(F.col("v"), tables[t], t)
                        for t in range(DENSE_TABLES)
                    ]
                ).alias("_keys"),
            )  # staged before the explode: see the blocking module docstring
            return blocking.explode_staged(keyed, "_keys", "bucket", "record_id")

        dense_cand = (
            _buckets(qv).withColumnRenamed("record_id", "left_id")
            .join(
                _buckets(cv).withColumnRenamed("record_id", "right_id"),
                "bucket",
            )
            .select("left_id", "right_id")
        )
        cand = cand.union(dense_cand).dropDuplicates(["left_id", "right_id"])

    # score query-corpus pairs through the standard pairwise scorer over the
    # union record space (record ids are xxhash64 of distinct id domains).
    # The scorer's pair-level repeat penalty is DISABLED here: the reference
    # search path applies a single candidate-side ×0.85 post-penalty
    # (matcher.py:627-638) and never penalizes the query side — applying both
    # would double-penalize fuzzy pairs (0.7225×).
    union_names = c.unionByName(q)
    search_scoring = dataclasses.replace(cfg.scoring, repeat_penalty=1.0)
    # corpus-side IDF, the reference's fit corpus; ``c`` is a barrier, so
    # its row count comes from the parquet footers
    idf = scoring.build_idf(
        c, n=search_scoring.ngram, n_docs=_written_rows(c)[0]
    )
    scored = scoring.score_pairs(union_names, cand, idf, search_scoring)

    # each non-fused model attaches its retrieval channel as a non-NULL
    # "_channel" column; the blend below replaces the fused pairwise score
    if cfg.model == "hybrid_bm25":
        # reference 'tfidf-bm25' (matcher.py:366-376): the channel is
        # bm25 / per-query max.
        from company_name_matching_spark.operators import bm25 as bm25_mod

        # reference parity (matcher.py:371-373): normalize by the per-query
        # max over the WHOLE corpus, so min_score thresholds and confidence
        # tiers transfer from the reference unchanged. ONE corpus pipeline:
        # postings/doclens/idf (corpus-bounded tables) are built and
        # materialized once and shared by the candidate-pair channel and the
        # per-query max. The query×doc score table itself is NEVER persisted
        # — its size is Σ_{t∈q} df(t), unbounded by the candidate set (it
        # only streams through the max aggregation), and materializing it
        # would fill scratch on high-df query terms at scale.
        st = bm25_mod.corpus_stats(c, materialized=True)
        b = bm25_mod.bm25_pair_scores(
            c, q, scored.select("left_id", "right_id"), stats=st
        )
        b = b.join(
            bm25_mod.bm25_query_max(c, q, stats=st), "left_id", "left"
        ).withColumn("_bmax", F.coalesce(F.col("bm25_max"), F.lit(0.0)))
        b = b.withColumn(
            "bm25_norm",
            F.when(F.col("_bmax") > 0, F.col("bm25") / F.col("_bmax")).otherwise(
                F.lit(0.0)
            ),
        ).select("left_id", "right_id", "bm25_norm")
        scored = (
            scored.join(b, ["left_id", "right_id"], "left")
            .withColumn("_channel", F.coalesce(F.col("bm25_norm"), F.lit(0.0)))
            .drop("bm25_norm")
        )

    if cfg.model == "hybrid_lsa":
        # dense LSA channel: fit on the corpus (driver footprint = vocab²,
        # corpus-size-free), project both sides, cosine in the latent space.
        from company_name_matching_spark.operators import lsa as lsa_mod
        from company_name_matching_spark.operators.dedup import cosine_col

        model = lsa_mod.fit(
            c, "record_id", "match_key",
            n_components=LSA_COMPONENTS, vocab_size=LSA_VOCAB,
        )
        cv = lsa_mod.transform(c, model, "record_id", "match_key").select(
            F.col("record_id").alias("right_id"), F.col("lsa").alias("_r_lsa")
        )
        qv = lsa_mod.transform(q, model, "record_id", "match_key").select(
            F.col("record_id").alias("left_id"), F.col("lsa").alias("_l_lsa")
        )
        scored = (
            scored.join(qv, "left_id", "left")
            .join(cv, "right_id", "left")
            .withColumn(
                "_channel",
                F.when(
                    F.col("_l_lsa").isNotNull() & F.col("_r_lsa").isNotNull(),
                    cosine_col(F.col("_l_lsa"), F.col("_r_lsa")),
                ).otherwise(F.lit(0.0)),
            )
            .drop("_l_lsa", "_r_lsa")
        )

    if cfg.model == "hybrid_dense":
        # dense cosine, floored at 0 (reference 'tfidf-dense' shape). Vectors
        # were materialized at candidate generation.
        from company_name_matching_spark.operators.dedup import cosine_col

        scored = (
            scored.join(
                qv.select(F.col("record_id").alias("left_id"),
                          F.col("v").alias("_l_v")),
                "left_id", "left",
            )
            .join(
                cv.select(F.col("record_id").alias("right_id"),
                          F.col("v").alias("_r_v")),
                "right_id", "left",
            )
            .withColumn(
                "_channel",
                F.greatest(
                    F.when(
                        F.col("_l_v").isNotNull() & F.col("_r_v").isNotNull(),
                        cosine_col(F.col("_l_v"), F.col("_r_v")),
                    ).otherwise(F.lit(0.0)),
                    F.lit(0.0),
                ),
            )
            .drop("_l_v", "_r_v")
        )

    if cfg.model == "cross_rerank":
        # joint-scorer rerank on the fuzzy candidates only: cross-encoders
        # are O(pairs), so the shortlist IS the blocked candidate set — at
        # larger k budgets, pre-truncate with a window on the lexical score
        # first.
        from company_name_matching_spark.operators import encode

        fuzzy_pairs = (
            scored.where(F.col("score") < 1.0)
            .select("left_id", "right_id")
            .join(
                q.select(
                    F.col("record_id").alias("left_id"),
                    F.col("match_key").alias("_q_text"),
                ),
                "left_id",
            )
            .join(
                c.select(
                    F.col("record_id").alias("right_id"),
                    F.col("match_key").alias("_c_text"),
                ),
                "right_id",
            )
        )
        ce = encode.cross_encoder_scores(
            fuzzy_pairs,
            scorer_factory=cfg.cross_scorer_factory,
            left_id="left_id", right_id="right_id",
            left_text="_q_text", right_text="_c_text",
        ).withColumnRenamed("score", "_ce")
        scored = (
            scored.join(ce, ["left_id", "right_id"], "left")
            .withColumn("_channel", F.coalesce(F.col("_ce"), F.lit(0.0)))
            .drop("_ce")
        )

    if cfg.model != "fused":
        # matcher.py:60,370-376: 0.5·base + 0.5·channel, where the base is
        # the tfidf cosine, or the fused score that cross_rerank refines.
        # Exact match-key pairs keep score 1.0 (for the hybrids their cos_sim
        # is 1.0 and the channel ~1.0 anyway; the short-circuit avoids
        # joining their heavy features).
        base = "score" if cfg.model == "cross_rerank" else "cos_sim"
        scored = scored.withColumn(
            "score",
            F.when(F.col("score") >= 1.0, F.col("score")).otherwise(
                F.lit(FUSION_WEIGHT) * F.col(base)
                + F.lit(FUSION_WEIGHT) * F.col("_channel")
            ),
        ).drop("_channel")

    # attach sides: query info + candidate (corpus) info
    qs = q.select(
        F.col("record_id").alias("left_id"),
        F.col("source_id").alias("qid"),
        F.col("entity_type").alias("q_entity"),
    )
    cs = c.select(
        F.col("record_id").alias("right_id"),
        F.col("source_id").alias("cid"),
        F.col("name").alias("company_name"),
        F.col("match_key").alias("c_match_key"),
        F.col("entity_type").alias("c_entity"),
        F.col("has_repeat").alias("c_has_repeat"),
    )
    r = scored.join(qs, "left_id").join(cs, "right_id")

    # repeated-token penalty on the candidate (matcher.py:627-638); exact
    # pairs got score 1.0 in the scorer, so apply the post-penalty here for
    # parity with the reference's post-processing order
    r = r.withColumn(
        "adj_score",
        F.when(F.col("c_has_repeat"), F.col("score") * F.lit(REPEAT_PENALTY))
        .otherwise(F.col("score")),
    )

    # norm-key dedup for ranking: one representative per (query, match_key)
    wk = Window.partitionBy("qid", "c_match_key").orderBy(
        F.col("adj_score").desc(), F.col("cid").asc()
    )
    reps = r.withColumn("_kr", F.row_number().over(wk)).where(F.col("_kr") == 1)

    # base ranking BEFORE promotion; the reference only ever scans its
    # truncated top_k result list (matcher.py:640-657). That list is built
    # group-by-group until the EXPANDED entry count reaches top_k
    # (matcher.py:615-625: a whole norm-key group is appended, then
    # `if len(results) >= top_k: break`) — so on duplicate-heavy corpora the
    # scanned list can hold FEWER groups than k. Parity bound: keep a group
    # iff the cumulative expanded size of strictly-better groups is < k
    # (ADVICE r2 — the round-2 representative-count window scanned more
    # groups than the reference and could promote an unseen candidate).
    group_sizes = c.groupBy("match_key").agg(F.count(F.lit(1)).alias("_grp_n"))
    reps = reps.join(
        group_sizes.withColumnRenamed("match_key", "c_match_key"), "c_match_key"
    )
    wbase = Window.partitionBy("qid").orderBy(
        F.col("adj_score").desc(), F.col("cid").asc()
    )
    reps = (
        reps.withColumn("_base_rank", F.row_number().over(wbase))
        .withColumn(
            "_cum_prev",
            F.coalesce(
                F.sum("_grp_n").over(
                    wbase.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .where(F.col("_cum_prev") < cfg.k)
        .drop("_grp_n", "_cum_prev")
    )

    # entity-type promotion (matcher.py:640-657): if the query names an
    # entity type and the top-1 disagrees — INCLUDING a typeless top-1, whose
    # None != query_et in the reference — promote the best agreeing candidate
    # within the gap. Window aggregates over the top-k representatives only.
    wq = Window.partitionBy("qid")
    reps = reps.withColumn(
        "_top_score",
        F.max(F.when(F.col("_base_rank") == 1, F.col("adj_score"))).over(wq),
    ).withColumn(
        "_top_entity",
        F.max(F.when(F.col("_base_rank") == 1, F.col("c_entity"))).over(wq),
    )
    agree_score = F.when(
        (F.col("_base_rank") >= 2)
        & F.col("q_entity").isNotNull()
        & (F.col("c_entity") == F.col("q_entity")),
        F.col("adj_score"),
    )
    reps = reps.withColumn("_best_agree", F.max(agree_score).over(wq))
    # exactly ONE candidate is promoted (the reference moves a single row to
    # the front): among rows TIED at the best agreeing score, take min cid —
    # the first the reference's ordered scan would reach. Without this
    # tiebreak every tied row would outrank the original top-1.
    reps = reps.withColumn(
        "_best_agree_cid",
        F.min(
            F.when(
                agree_score.isNotNull()
                & (F.col("adj_score") == F.col("_best_agree")),
                F.col("cid"),
            )
        ).over(wq),
    )
    promote = (
        F.col("q_entity").isNotNull()
        # null-safe: a typeless top-1 (NULL entity) still disagrees
        & ~F.col("_top_entity").eqNullSafe(F.col("q_entity"))
        & (F.col("_base_rank") >= 2)
        & (F.col("c_entity") == F.col("q_entity"))
        & (F.col("adj_score") == F.col("_best_agree"))
        & (F.col("cid") == F.col("_best_agree_cid"))
        & ((F.col("_top_score") - F.col("adj_score")) <= ENTITY_GAP_THRESHOLD)
    )
    reps = reps.withColumn("_promoted", F.coalesce(promote, F.lit(False)))

    wrank = Window.partitionBy("qid").orderBy(
        F.col("_promoted").desc(), F.col("adj_score").desc(), F.col("cid").asc()
    )
    ranked = (
        reps.withColumn("rank", F.row_number().over(wrank))
        .where(F.col("rank") <= cfg.k)
    )

    # min_score gate (matcher.py:663-665): the reference tests
    # results[0].score AFTER promotion re-ordering — gate on the post-
    # promotion rank-1 row's score, suppressing the query's whole list
    if cfg.min_score > 0.0:
        ranked = ranked.withColumn(
            "_gate",
            F.max(F.when(F.col("rank") == 1, F.col("adj_score"))).over(wq),
        ).where(F.col("_gate") >= cfg.min_score).drop("_gate")

    # expand norm-key groups: all corpus originals sharing the winning match
    # key are returned with the representative's rank (matcher.py:612-621)
    expansion = c.select(
        F.col("match_key").alias("c_match_key"),
        F.col("source_id").alias("company_id"),
        F.col("name").alias("expanded_name"),
    )
    out = (
        ranked.join(expansion, "c_match_key")
        .select(
            F.col("qid").alias("query_id"),
            "company_id",
            F.col("expanded_name").alias("company_name"),
            F.round("adj_score", 6).alias("score"),
            "rank",
            confidence_tier(F.col("adj_score")).alias("match_confidence"),
        )
    )
    return out
