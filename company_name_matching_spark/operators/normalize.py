"""Stage N — pages → normalized name mentions.

Input: the Common-Crawl-shaped ``pages`` table
(``url, warc_ts, html, text, lang`` per BASELINE.json input_hint).
Output: ``names(record_id, url, name, cleaned, norm_key, tokens,
entity_type, has_repeat)``.

Design notes (Spark-first):

* One Arrow pandas UDF produces the two derived strings in a single pass
  (shape of the reference's ``preprocess_batch_udf``,
  ``vietnamese_udfs.py:55-108``, but fully vectorized — no row loop).
* Everything downstream of the strings is JVM-native: tokenization
  (``split``), entity-type extraction (ordered ``array_contains`` coalesce,
  parity with ``matcher.py:15-23``), repeated-token detection (``rlike`` with
  backreferences, parity with ``matcher.py:26-38``), validation filters
  (parity with ``utils/validation.py:40-84``).
* ``record_id = xxhash64(url)`` — deterministic across runs, unlike the
  reference's ``monotonically_increasing_id`` (``stage2_deduplicate.py:87``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from company_name_matching_spark.functions import vnnorm

_NORM_SCHEMA = StructType(
    [
        StructField("cleaned", StringType(), False),
        StructField("norm_key", StringType(), False),
        StructField("match_key", StringType(), False),
    ]
)


@F.pandas_udf(_NORM_SCHEMA)
def _normalize_udf(text: pd.Series) -> pd.DataFrame:
    # one 53-rule canonical pass shared by both outputs (the former
    # clean_name + norm_key calls each re-ran the full chain)
    cleaned, nkey = vnnorm.clean_name_and_norm_key(text)
    return pd.DataFrame(
        {
            "cleaned": cleaned,
            "norm_key": nkey,
            # match_key re-applies only the alias layer on the cleaned string
            "match_key": vnnorm._apply_rules(cleaned, vnnorm.MATCH_ALIASES)
            .str.replace(r"\s+", " ", regex=True)
            .str.strip(),
        }
    )


@F.pandas_udf(StringType())
def clean_name_udf(s: pd.Series) -> pd.Series:
    """Standalone vectorized clean_company_name UDF (SURVEY.md F5/U1)."""
    return vnnorm.clean_name(s)


@F.pandas_udf(ArrayType(StringType()))
def dual_variants_udf(s: pd.Series) -> pd.Series:
    """F7 parity (``vietnamese_udfs.py:111-148``): per name, the two search
    variants ``[cleaned, accent-folded-raw]`` as one array-returning
    vectorized UDF (SURVEY U3) — callers ``explode`` it into variant rows,
    the reference's dual-variant indexing flow."""
    cleaned = vnnorm.clean_name(s)
    folded = (
        vnnorm.fold_accents(vnnorm.nfc_lower(s))
        .str.replace(r"\s+", " ", regex=True)
        .str.strip()
    )
    return pd.Series([[a, b] for a, b in zip(cleaned, folded)])


# Whole-token regexes (Java regex supports backreferences + lookarounds).
_REPEAT_UNIGRAM = r"(?<!\S)(\S{2,})\s+\1(?!\S)"
_REPEAT_BIGRAM = r"(?<!\S)(\S+)\s+(\S+)\s+\1\s+\2(?!\S)"


def entity_type_col(tokens_col):
    """First entity-type token present, in specificity order (JVM-native)."""
    expr = F.lit(None).cast("string")
    # build coalesce(when(contains tok1), when(contains tok2), ...) in order
    whens = [
        F.when(F.array_contains(tokens_col, et), F.lit(et))
        for et in vnnorm.ENTITY_TYPE_TOKENS
    ]
    return F.coalesce(*whens, expr)


def validate_mentions(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Null/empty, length-range, and special-chars-only filters
    (parity: ``utils/validation.py:40-84``). All pushdown-friendly natives."""
    c = F.col(text_col)
    return df.where(
        c.isNotNull()
        & (F.trim(c) != "")
        & F.length(c).between(3, 200)
        & ~c.rlike(r"^[^a-zA-Z0-9À-ɏḀ-ỿ]+$")
    )


def normalize_mentions(
    df: DataFrame, id_col: str, text_col: str, id_domain: str = "",
) -> DataFrame:
    """Generic mention normalization: any (id, text) table → normalized
    records with all scoring-side features. One shuffle-free map.

    CONTRACT: ``id_col`` must be unique within ``df`` — ``record_id`` is its
    hash, and a duplicated id fans out every downstream per-record join
    (the batch pipeline treats the url AS the page identity; the streaming
    path enforces uniqueness with its anti-join). When two normalized
    tables from DIFFERENT id spaces are unioned (e.g. search's corpus ∪
    queries), give each a distinct ``id_domain`` — it is hashed with the id
    so a corpus id that happens to equal a query id cannot collide."""
    # asNondeterministic (guide §4.4): downstream filters on UDF-derived
    # columns (``match_key != ""``, entry-level predicates) get pushed below
    # the projection by DUPLICATING the UDF — the normalize plan carried
    # FOUR ArrowEvalPython nodes for this one call, i.e. the 53-rule kernel
    # (the pipeline's hottest per-row cost) ran 4x per row. Marking it
    # non-deterministic forbids the optimizer from cloning or reordering it;
    # the kernel is a pure function of the text, so results are unchanged —
    # only the duplication disappears (plan now shows exactly one
    # ArrowEvalPython; differential tests unchanged).
    df = validate_mentions(df, text_col).withColumn(
        "_norm", _normalize_udf.asNondeterministic()(F.col(text_col))
    )
    rid = (
        F.xxhash64(F.concat(F.lit(id_domain), F.col(id_col).cast("string")))
        if id_domain
        else F.xxhash64(id_col)  # default path: ids unchanged, bit-for-bit
    )
    df = (
        df.select(
            rid.alias("record_id"),
            F.col(id_col).alias("source_id"),
            F.col(text_col).alias("name"),
            F.col("_norm.cleaned").alias("cleaned"),
            F.col("_norm.norm_key").alias("norm_key"),
            F.col("_norm.match_key").alias("match_key"),
        )
        .where(F.col("match_key") != "")
        .withColumn("tokens", F.split("match_key", " "))
        .withColumn("entity_type", entity_type_col(F.col("tokens")))
        .withColumn(
            "has_repeat",
            F.col("cleaned").rlike(_REPEAT_UNIGRAM)
            | F.col("cleaned").rlike(_REPEAT_BIGRAM),
        )
    )
    return df


def normalize_pages(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages → names with all scoring-side features (url is the identity)."""
    return normalize_mentions(pages, "url", text_col).withColumnRenamed(
        "source_id", "url"
    )


def group_original_names(
    names: DataFrame,
    key_col: str = "norm_key",
    name_col: str = "name",
    cap: int = 100,
    n_salts: int = 16,
) -> DataFrame:
    """``original_names`` group metadata (``stage2_deduplicate.py:106-148``)
    as a TWO-PHASE SALTED collect_list (SURVEY A1's skew note): phase 1
    aggregates within (key, salt) shards so no single reducer materializes a
    hot group's full list; phase 2 merges ≤ ``n_salts`` already-capped
    partials. Deterministic: each phase sorts before capping, and the
    lexicographically smallest ``cap`` names of the group always survive the
    per-salt cap (each is within its own salt's smallest ``cap``), so the
    result equals a global sort+slice regardless of partitioning.

    Returns (key_col, original_names: array<string> sorted, capped).
    """
    salted = names.select(key_col, name_col).withColumn(
        "_salt", F.pmod(F.xxhash64(name_col), F.lit(n_salts))
    )
    p1 = salted.groupBy(key_col, "_salt").agg(
        F.slice(F.sort_array(F.collect_list(name_col)), 1, cap).alias("_part")
    )
    return p1.groupBy(key_col).agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("_part"))), 1, cap
        ).alias("original_names")
    )
