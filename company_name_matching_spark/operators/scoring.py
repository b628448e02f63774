"""Stage P — pairwise scoring of blocked candidate pairs.

Scoring never leaves the executors (the reference collects both corpus and
queries to the driver, ``stage3_build_index.py:84-91`` /
``stage4_match.py:87-106`` — the anti-pattern this engine replaces).

Feature split between JVM and Arrow:

* JVM-native: token-set Jaccard (``array_intersect``/``array_union``),
  Levenshtein similarity (``F.levenshtein``), exact-key equality, entity-type
  mismatch, repeated-token flags.
* Arrow pandas UDF: char-trigram TF-IDF cosine (sparse dot of per-record
  precomputed L2-normalized vectors — computed once per record, not per
  pair) and Jaro-Winkler. One UDF call per pair batch, columnar.

Kernel similarities are computed once per DISTINCT match-key pair and
joined back to record pairs (see :func:`score_pairs`) — on web corpora the
same name pair recurs across many page pairs, and scoring cost should track
unique names, not pages.

IDF is a corpus-level Spark aggregation (``SURVEY.md`` A10): char-trigram
vocabulary is intrinsically bounded (charset³), so the gram→(id, idf) dict is
safely collected and broadcast regardless of corpus row count.

Match semantics preserved from the reference where they affect F1:

* exact ``cleaned`` equality ⇒ match — the reference's norm-key grouping
  (``matcher.py:242-263``);
* repeated-token penalty ×0.85 (``matcher.py:627-638``);
* entity-type discrimination: both sides typed and different ⇒ non-match
  (pair-classification form of ``matcher.py:640-657``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    StructField,
    StructType,
)

from company_name_matching_spark.functions import similarity


@dataclass
class ScoringConfig:
    w_cosine: float = 0.40
    w_jaccard: float = 0.25
    w_jw: float = 0.25
    w_lev: float = 0.10
    threshold: float = 0.90
    repeat_penalty: float = 0.85  # matcher.py:632
    ngram: int = 3


def trigram_strings_col(col, n: int = 3):
    """array<string> char n-grams (default 3), JVM-native — THE single SQL
    gram definition (same semantics as ``similarity.char_ngrams``;
    ``blocking.trigram_hashes_col`` derives from it too)."""
    n_grams = F.greatest(F.length(col) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: col.substr(i, F.lit(n))
    )


def monge_elkan_col(l_toks, r_toks):
    """Directed Monge–Elkan hybrid similarity (Monge & Elkan '96) as a pure
    JVM column expression: mean over tokens a ∈ L of the best inner
    similarity max_{b ∈ R} (1 − lev(a,b)/max(|a|,|b|)) — the classic
    token-level/char-level hybrid that forgives token reorderings AND
    per-token typos at once (token-set Jaccard forgives only the former,
    whole-string Levenshtein only the latter). Symmetrize as
    ``round((me(L,R) + me(R,L)) / 2.0, 6)``.

    Cross-engine determinism: each per-token maximum is 6dp-rounded then
    converted to exact integer micro-units (×10⁶, round-to-0dp, cast long)
    so the fold accumulates LONGS — order-independent, no float-sum drift —
    and only the final mean divides in doubles (÷10⁶ then ÷|L|, 6dp), the
    exact op order the DuckDB twin replays. In-row O(|L|·|R|) levenshteins
    — bounded by name token counts, never corpus size. Empty L or R → 0.0.

    HOF staging rule (textstats.winnow_gram_hashes): pass BOUND columns,
    not inline expressions — lambdas re-evaluate non-lambda subexpressions
    per element.
    """
    inner = lambda a, b: (  # noqa: E731
        F.lit(1.0)
        - F.levenshtein(a, b).cast("double")
        / F.greatest(F.length(a), F.length(b))
    )
    units = F.transform(
        l_toks,
        lambda a: F.round(
            F.round(
                F.array_max(F.transform(r_toks, lambda b: inner(a, b))), 6
            ) * F.lit(1000000.0),
            0,
        ).cast("long"),
    )
    total = F.aggregate(units, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.when(
        (F.size(l_toks) > 0) & (F.size(r_toks) > 0),
        F.round(
            total.cast("double") / F.lit(1000000.0) / F.size(l_toks), 6
        ),
    ).otherwise(F.lit(0.0))


def _token_idf(names: DataFrame, id_col: str, tokens_col: str):
    """(per-record exploded tokens, smooth token IDF 9dp) — shared by the
    token-weighted pair measures. IDF = round(ln((1+N)/(1+df)) + 1, 9),
    the repo-wide sklearn convention over whole tokens."""
    n_names = names.count()
    tok = names.select(
        F.col(id_col).alias("_id"), F.explode(tokens_col).alias("t")
    )
    idf = tok.groupBy("t").agg(
        F.round(
            F.log(F.lit(1.0 + n_names) / (F.lit(1.0) + F.count(F.lit(1))))
            + F.lit(1.0),
            9,
        ).alias("idf")
    )
    return tok, idf


def weighted_jaccard_pairs(
    names: DataFrame,
    pairs: DataFrame,
    id_col: str = "record_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """IDF-weighted token Jaccard: Σ_{t∈A∩B} idf(t) / Σ_{t∈A∪B} idf(t) —
    plain Jaccard counts every token once, so ubiquitous legal-form
    tokens ('tnhh', 'co') vote as loudly as the distinguishing brand
    token; weighting by corpus IDF makes rare-token overlap dominate.
    The third token-weighting channel beside :func:`monge_elkan_col`
    (unweighted, typo-forgiving) and :func:`soft_tfidf_pairs` (weighted
    AND typo-forgiving).

    Exactness: each token's 9dp IDF becomes exact integer nano-units, so
    intersection and union sums are LONGS (union = totA + totB − inter,
    inclusion–exclusion on the distinct token sets) and the single final
    division is one double op both engines replay. In-row O(|L|·|R|)
    membership tests; one explode+agg for IDF. Returns
    (left_id, right_id, weighted_jaccard)."""
    tok, idf = _token_idf(names, id_col, tokens_col)
    units = tok.join(idf, "t").select(
        "_id", "t",
        F.round(F.col("idf") * F.lit(1000000000.0), 0).cast("long").alias("u"),
    )
    warr = units.groupBy("_id").agg(
        F.sort_array(F.collect_list(F.struct("t", "u"))).alias("tw"),
        F.sum("u").alias("tot"),
    )

    def inter_units(lt, rt):
        return F.aggregate(
            F.transform(
                lt,
                lambda a: F.when(
                    F.exists(rt, lambda b: b["t"] == a["t"]), a["u"]
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    pr = (
        pairs.join(
            warr.select(F.col("_id").alias("left_id"),
                        F.col("tw").alias("_ltw"),
                        F.col("tot").alias("_ltot")),
            "left_id",
        )
        .join(
            warr.select(F.col("_id").alias("right_id"),
                        F.col("tw").alias("_rtw"),
                        F.col("tot").alias("_rtot")),
            "right_id",
        )
    )
    iu = inter_units(F.col("_ltw"), F.col("_rtw"))
    pr = pr.withColumn("_iu", iu)
    au = F.col("_ltot") + F.col("_rtot") - F.col("_iu")
    return pr.select(
        "left_id", "right_id",
        F.round(
            F.col("_iu").cast("double") / au.cast("double"), 6
        ).alias("weighted_jaccard"),
    )


def soft_tfidf_pairs(
    names: DataFrame,
    pairs: DataFrame,
    id_col: str = "record_id",
    tokens_col: str = "tokens",
    theta: float = 0.9,
) -> DataFrame:
    """Symmetrized Soft TF-IDF (Cohen, Ravikumar & Fienberg, IIWeb'03) —
    the second classic hybrid beside :func:`monge_elkan_col`: TF-IDF
    cosine restricted to CLOSE token pairs. For each token a of one side,
    find the best inner similarity max_b (1 − lev(a,b)/max|·|); if it
    exceeds ``theta``, accumulate w(a)·w(b*)·sim, where w are the
    L2-normalized smooth-IDF token weights (ln((1+N)/(1+df))+1 — the
    repo-wide sklearn convention, here over whole TOKENS instead of char
    trigrams). Rewards rare-token agreement (the informative legal-form /
    brand tokens) while forgiving per-token typos; plain TF-IDF cosine
    needs exact token equality, plain Monge–Elkan weighs all tokens
    equally.

    Distributed shape: token DF is one explode + hash agg; per-name
    weight structs are collected sorted (deterministic); scoring is
    in-row O(|L|·|R|) over the pair table — same class as Monge–Elkan.
    The only driver scalar is N (names.count(), bounded).

    Cross-engine exactness: IDF and weights 9dp-rounded; the per-name
    weight norm accumulates 9dp idf² terms as DECIMAL(38,9) before one
    sqrt; per-token contributions round to 9dp then convert to exact
    nano-units summed as longs; the two directed sums symmetrize in one
    fixed double op order. ``pairs`` is (left_id, right_id); returns
    (left_id, right_id, soft_tfidf).
    """
    tok, idf = _token_idf(names, id_col, tokens_col)
    wtok = tok.join(idf, "t")
    ssq = wtok.groupBy("_id").agg(
        F.sum(
            F.round(F.col("idf") * F.col("idf"), 9).cast("decimal(38,9)")
        ).alias("_ssq")
    )
    w = wtok.join(ssq, "_id").select(
        "_id", "t",
        F.round(
            F.col("idf") / F.sqrt(F.col("_ssq").cast("double")), 9
        ).alias("w"),
    )
    warr = w.groupBy("_id").agg(
        F.sort_array(F.collect_list(F.struct("t", "w"))).alias("tw")
    )

    def directed_units(lt, rt):
        """Σ over a ∈ lt of nano-unit contributions against rt (long)."""
        def per_a(a):
            sims = F.transform(
                rt,
                lambda b: F.struct(
                    F.round(
                        F.lit(1.0)
                        - F.levenshtein(a["t"], b["t"]).cast("double")
                        / F.greatest(F.length(a["t"]), F.length(b["t"])),
                        9,
                    ).alias("s"),
                    b["w"].alias("w"),
                ),
            )
            best = F.array_max(F.transform(sims, lambda x: x["s"]))
            # argmax ties: the max weight among best-sim partners (a
            # deterministic total choice both engines express natively)
            maxw = F.array_max(
                F.transform(
                    F.filter(sims, lambda x: x["s"] == best),
                    lambda x: x["w"],
                )
            )
            return F.when(
                best > F.lit(theta),
                F.round(
                    F.round(a["w"] * maxw * best, 9) * F.lit(1000000000.0), 0
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long"))

        return F.aggregate(
            F.transform(lt, per_a), F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    pr = (
        pairs.join(
            warr.select(F.col("_id").alias("left_id"),
                        F.col("tw").alias("_ltw")),
            "left_id",
        )
        .join(
            warr.select(F.col("_id").alias("right_id"),
                        F.col("tw").alias("_rtw")),
            "right_id",
        )
    )
    u_lr = directed_units(F.col("_ltw"), F.col("_rtw"))
    u_rl = directed_units(F.col("_rtw"), F.col("_ltw"))
    return pr.select(
        "left_id", "right_id",
        F.round(
            (u_lr + u_rl).cast("double") / F.lit(1000000000.0) / F.lit(2.0), 6
        ).alias("soft_tfidf"),
    )


def build_idf(
    names: DataFrame, string_col: str = "match_key", n: int = 3
) -> dict:
    """Distributed document-frequency over char n-grams → {gram: (id, idf)}.

    ``n`` must match the ScoringConfig.ngram the vectors will use — the
    callers thread it through (a mismatched idf would silently zero the
    cosine channel, since every vector lookup would miss).

    ``explode(array_distinct(...)) → groupBy(gram).count()`` is a bounded-
    cardinality aggregation (map-side partial agg + one small shuffle).
    """
    n_docs = names.count()
    df_rows = (
        names.select(
            F.explode(
                F.array_distinct(trigram_strings_col(F.col(string_col), n))
            ).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    return {
        row["gram"]: (gid, similarity.smooth_idf(row["df"], n_docs))
        for gid, row in enumerate(sorted(df_rows, key=lambda r: r["gram"]))
    }


# float32 values: halves the vector bytes moved through shuffles and the
# Arrow boundary; cosine is computed in float64 after transfer (precision
# loss ~1e-7, far below any threshold granularity)
_VEC_SCHEMA = StructType(
    [
        StructField("tg_idx", ArrayType(IntegerType()), False),
        StructField("tg_val", ArrayType(FloatType()), False),
    ]
)


def featurize(names: DataFrame, idf: dict, cfg: ScoringConfig | None = None) -> DataFrame:
    """Attach per-record sparse TF-IDF vectors (one Arrow pass per record)."""
    cfg = cfg or ScoringConfig()
    spark = SparkSession.getActiveSession()
    idf_bc = spark.sparkContext.broadcast(idf)
    n = cfg.ngram

    @F.pandas_udf(_VEC_SCHEMA)
    def _vec_udf(match_key: pd.Series) -> pd.DataFrame:
        table = idf_bc.value
        idx, val = [], []
        for s in match_key:
            i, v = similarity.tfidf_vector(s or "", table, n)
            idx.append(i)
            val.append(v)
        return pd.DataFrame({"tg_idx": idx, "tg_val": val})

    return names.withColumn("_vec", _vec_udf("match_key")).select(
        "*", F.col("_vec.tg_idx").alias("tg_idx"), F.col("_vec.tg_val").alias("tg_val")
    ).drop("_vec")


_PAIR_UDF_SCHEMA = StructType(
    [
        StructField("cos_sim", DoubleType(), False),
        StructField("jw_sim", DoubleType(), False),
    ]
)


@F.pandas_udf(_PAIR_UDF_SCHEMA)
def _pair_sims_udf(
    l_cleaned: pd.Series,
    r_cleaned: pd.Series,
    l_idx: pd.Series,
    l_val: pd.Series,
    r_idx: pd.Series,
    r_val: pd.Series,
) -> pd.DataFrame:
    cos = np.empty(len(l_cleaned), dtype=np.float64)
    for k in range(len(l_cleaned)):
        cos[k] = similarity.sparse_cosine(
            np.asarray(l_idx.iloc[k], dtype=np.int64),
            np.asarray(l_val.iloc[k], dtype=np.float64),
            np.asarray(r_idx.iloc[k], dtype=np.int64),
            np.asarray(r_val.iloc[k], dtype=np.float64),
        )
    jw = similarity.jaro_winkler_batch(l_cleaned.tolist(), r_cleaned.tolist())
    return pd.DataFrame({"cos_sim": cos, "jw_sim": jw})


# light features: enough to decide exactness + post-rules — no arrays, no
# strings: match-key equality is decided on an 8-byte xxhash64 key id, so
# the 12.4M-row pair base never carries the key strings through its
# shuffles/scratch (the strings ride only the fuzzy-remainder heavy join).
# Collision budget: 64-bit ids expect ~n²/2⁶⁵ birthday collisions (≈3·10³
# at 10^12 distinct names — error rate 3e-9, same class as the xxhash64
# record ids used engine-wide). If that matters, widen to 128 bits with a
# second-seed hash pair: (xxhash64(k), xxhash64(k, lit(1))).
_LIGHT_COLS = ("record_id", "key_id", "entity_type", "has_repeat")
# heavy features: key string + token arrays + sparse vectors, joined only
# for fuzzy pairs
_HEAVY_COLS = ("record_id", "match_key", "tokens", "tg_idx", "tg_val")

_OUT_COLS = ("left_id", "right_id", "jaccard", "lev_sim", "cos_sim", "jw_sim",
             "score", "is_match")


def score_pairs(
    names: DataFrame,
    pairs: DataFrame,
    idf: dict | None = None,
    cfg: ScoringConfig | None = None,
) -> DataFrame:
    """pairs(left_id, right_id) × names features → scored pairs with
    ``is_match``. ``names`` is the normalize-stage output (record_id,
    match_key, tokens, entity_type, has_repeat — NOT pre-featurized);
    ``idf`` defaults to :func:`build_idf` over ``names``.

    Three-tier plan (the dominant cost at scale is moving the TF-IDF
    vectors through the join and the Arrow boundary, not the kernels):

    1. join only the LIGHT features (8-byte key id, entity_type,
       has_repeat — no UDF anywhere near them); pairs with equal match
       keys — the bulk of a dedup-heavy workload — are decided right there
       (score 1.0) and never touch the vectors;
    2. the fuzzy remainder is deduplicated to DISTINCT oriented key pairs;
       the featurize Arrow UDF runs over DISTINCT match keys only (corpus
       rows >> distinct names on web data), and only those key features
       cross into the pair UDF — kernel cost scales with unique name
       pairs, not page pairs;
    3. kernel results join back to the record pairs, where the
       record-level rules (repeat penalty, entity conflict, threshold)
       apply.
    """
    cfg = cfg or ScoringConfig()
    # config-aware kernel selection: with BOTH vector channels zero-weighted
    # (the SQL-expressible jaccard+lev configuration, e.g. the oracle-backed
    # fuzzy-ER entry) the TF-IDF vectors and the Arrow cos/JW kernel cannot
    # affect the score — skip the IDF build, the featurize UDF, and the pair
    # UDF entirely (sf0.1 fuzzy-ER entry: 40.2 → see BENCH.md)
    need_vectors = cfg.w_cosine != 0.0 or cfg.w_jw != 0.0
    if idf is None and need_vectors:
        idf = build_idf(names, n=cfg.ngram)
    light = names.withColumn("key_id", F.xxhash64("match_key")).select(
        *_LIGHT_COLS
    )
    l_light = light.select([F.col(c).alias(f"l_{c}") for c in _LIGHT_COLS])
    r_light = light.select([F.col(c).alias(f"r_{c}") for c in _LIGHT_COLS])
    # base stays LAZY (r6): it is consumed twice — once by the distinct-key
    # dedup below (narrow: two 8-byte ids) and once by the final assembly —
    # and re-deriving it costs one extra broadcast-join pass over the pair
    # list, strictly cheaper than the old write+read parquet barrier of the
    # full pair base (the in-memory cache alternative anti-scales, see
    # sources/store).
    base = (
        pairs.join(l_light, pairs.left_id == l_light.l_record_id)
        .join(r_light, pairs.right_id == r_light.r_record_id)
        .drop("l_record_id", "r_record_id")
    )
    from company_name_matching_spark.sources.store import materialize

    fuzzy = base.where(F.col("l_key_id") != F.col("r_key_id"))

    # Every kernel similarity (jaccard / lev / cosine / JW) is a pure
    # function of the ORIENTED match-key pair: tokens = split(match_key),
    # TF-IDF vectors = tfidf_vector(match_key), lev/JW run on the keys
    # themselves. Records sharing a key are interchangeable, so compute
    # kernels ONCE per distinct (l_key_id, r_key_id) and join the results
    # back to the record pairs — on duplicate-heavy web corpora the heavy
    # join + Arrow volume shrinks by the duplication factor squared
    # (record-level rules — repeat penalty, entity conflict — stay on the
    # record pair below). Orientation is preserved (no least/greatest
    # canonicalization) so every float matches the per-pair computation
    # bit-for-bit.
    ukp = fuzzy.select("l_key_id", "r_key_id").dropDuplicates()
    # per-key feature table: dedup to DISTINCT match keys, keep only keys
    # that actually appear in a fuzzy pair (on a long-tail corpus most
    # distinct names sit in dropped/singleton blocks and never pair — no
    # reason to featurize them), THEN run the vector UDF and materialize
    # once — it feeds BOTH sides of the kernel join, and without a barrier
    # each side would re-run the UDF (plan showed 2× ArrowEvalPython)
    fuzzy_key_ids = (
        ukp.select(F.col("l_key_id").alias("key_id"))
        .union(ukp.select(F.col("r_key_id").alias("key_id")))
        .dropDuplicates()
    )
    keys = (
        names.select("match_key", "tokens")
        .dropDuplicates(["match_key"])
        .withColumn("key_id", F.xxhash64("match_key"))
        .join(fuzzy_key_ids, "key_id", "left_semi")
    )
    if need_vectors:
        kf = materialize(
            featurize(keys, idf, cfg).select(
                "key_id", *[c for c in _HEAVY_COLS if c != "record_id"]
            ),
            "key_features",
        )
    else:
        # light per-key features: jaccard/lev need only the key string and
        # its token set — no Arrow boundary, no vector columns
        kf = materialize(
            keys.select("key_id", "match_key", "tokens"), "key_features_light"
        )
    _kf_cols = [c for c in kf.columns if c != "key_id"]
    l_kf = kf.select(
        F.col("key_id").alias("l_key_id"),
        *[F.col(c).alias(f"lh_{c}") for c in _kf_cols],
    )
    r_kf = kf.select(
        F.col("key_id").alias("r_key_id"),
        *[F.col(c).alias(f"rh_{c}") for c in _kf_cols],
    )
    k = ukp
    if need_vectors:
        # AQE coalesces the small distinct key-pair exchange into one
        # partition, which would run the pair UDF in one task; it never
        # coalesces a repartition by number. Spreading the id pairs before
        # the feature joins shuffles two longs a row, not the vectors.
        k = k.repartition(
            int(names.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        )
    k = k.join(l_kf, "l_key_id").join(r_kf, "r_key_id")

    inter = F.size(F.array_intersect("lh_tokens", "rh_tokens"))
    union = F.size(F.array_union("lh_tokens", "rh_tokens"))
    k = k.withColumn(
        "jaccard",
        F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(0.0),
    )
    max_len = F.greatest(F.length("lh_match_key"), F.length("rh_match_key"))
    k = k.withColumn(
        "lev_sim",
        F.when(
            max_len > 0,
            1.0
            - F.levenshtein("lh_match_key", "rh_match_key").cast("double") / max_len,
        ).otherwise(0.0),
    )
    if need_vectors:
        k = k.withColumn("_sims", _pair_sims_udf(
            "lh_match_key", "rh_match_key",
            "lh_tg_idx", "lh_tg_val", "rh_tg_idx", "rh_tg_val"
        )).select("l_key_id", "r_key_id", "jaccard", "lev_sim",
                  F.col("_sims.cos_sim").alias("cos_sim"),
                  F.col("_sims.jw_sim").alias("jw_sim"))
    else:
        k = k.select(
            "l_key_id", "r_key_id", "jaccard", "lev_sim",
            F.lit(0.0).alias("cos_sim"), F.lit(0.0).alias("jw_sim"),
        )

    # single-pass assembly (r6): LEFT-join the per-key-pair kernel table to
    # the FULL pair base and decide exact vs fuzzy per row with a CASE —
    # replaces the former exact-branch/fuzzy-branch union, which needed the
    # pair base twice (hence the removed barrier above). Exact pairs
    # (l_key_id == r_key_id) never appear in ``k`` (built from the fuzzy
    # key-pair domain), so their kernel columns come back NULL and the CASE
    # emits the same literal-1.0 row the old exact branch produced;
    # record-level rules (repeat penalty, entity conflict) apply to fuzzy
    # rows exactly as before. Values are bit-identical, only row order
    # changes (the old union ordered exact rows first).
    df = base.join(k, ["l_key_id", "r_key_id"], "left")
    is_exact = F.col("l_key_id") == F.col("r_key_id")

    fused = (
        F.lit(cfg.w_cosine) * F.col("cos_sim")
        + F.lit(cfg.w_jaccard) * F.col("jaccard")
        + F.lit(cfg.w_jw) * F.col("jw_sim")
        + F.lit(cfg.w_lev) * F.col("lev_sim")
    )
    fused = F.when(
        F.col("l_has_repeat") | F.col("r_has_repeat"),
        fused * F.lit(cfg.repeat_penalty),
    ).otherwise(fused)

    entity_conflict = (
        F.col("l_entity_type").isNotNull()
        & F.col("r_entity_type").isNotNull()
        & (F.col("l_entity_type") != F.col("r_entity_type"))
    )
    for c in ("jaccard", "lev_sim", "cos_sim", "jw_sim"):
        df = df.withColumn(c, F.when(is_exact, F.lit(1.0)).otherwise(F.col(c)))
    df = df.withColumn(
        "score", F.when(is_exact, F.lit(1.0)).otherwise(fused)
    )
    df = df.withColumn(
        "is_match",
        F.when(is_exact, F.lit(True))
        .when(entity_conflict, F.lit(False))
        .otherwise(F.col("score") >= F.lit(cfg.threshold)),
    )
    return df.select(*_OUT_COLS)
