"""Latent semantic analysis over char-trigram TF-IDF (SURVEY §2 V3).

The reference's optional LSA vectorizer (``src/vectorizer.py`` TruncatedSVD
path) factors its in-memory TF-IDF matrix with sklearn on one node. The
Spark-native equivalent never materializes the corpus matrix on the driver:

1. vocabulary = top-``vocab_size`` trigrams by document frequency
   (TakeOrdered — a bounded, deterministic collect);
2. L2-normalized TF-IDF entries ``(doc, term_idx, val)`` stay distributed;
3. the Gram matrix ``G = AᵀA`` is computed by a per-document self-join of
   each row's nonzeros and one ``groupBy(i, j).sum`` — G is
   ``vocab_size²`` cells (512² = 262k doubles ≈ 2 MB) regardless of corpus
   size, so collecting it is scale-free;
4. the driver eigendecomposes G (numpy, milliseconds at 512²) — the top-k
   eigenvectors of AᵀA are the right singular vectors of A;
5. the component matrix is broadcast and documents are projected
   distributed, entirely in JVM expressions (no UDF): one broadcast join
   plus k ``sum`` aggregates.

Per-document cost of step 3 is O(nnz²) — designed for short strings
(company names: ~20-30 trigrams → ≤900 intermediate rows/doc), the only
thing the reference applies LSA to. Determinism: vocabulary ties break on
the gram string, eigenvector signs are fixed by making each component's
largest-magnitude coordinate positive (pairwise inner products are
invariant to this anyway).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from company_name_matching_spark.operators import blocking


@dataclass(frozen=True)
class LsaModel:
    vocab: dict[str, int]          # gram -> column index
    idf: list[float]               # by column index
    components: "np.ndarray"       # (vocab_size, n_components) float64
    n: int = 3                     # char n-gram order


def _gram_counts(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram, tf) — distinct char n-grams with term frequency. A NULL
    text stages the gram array ``[NULL]``; its NULL gram is dropped, so
    such a document contributes no grams."""
    col = F.lower(F.col(text_col))
    n_grams = F.greatest(F.length(col) - F.lit(n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: col.substr(i, F.lit(n))
    )
    staged = df.select(F.col(id_col).alias("_id"), grams.alias("_grams"))
    return (
        blocking.explode_staged(staged, "_grams", "gram", "_id")
        .groupBy("_id", "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _tfidf_entries(
    gc: DataFrame, vocab_df: DataFrame
) -> DataFrame:
    """(_id, idx, val) with L2-normalized TF-IDF values (JVM-only)."""
    e = gc.join(F.broadcast(vocab_df), "gram").select(
        "_id", "idx", (F.col("tf") * F.col("idf")).alias("_raw")
    )
    norm = e.groupBy("_id").agg(
        F.sqrt(F.sum(F.col("_raw") * F.col("_raw"))).alias("_nrm")
    )
    # _nrm > 0 drops documents with no vocabulary gram (all-zero rows
    # contribute nothing to the Gram matrix anyway)
    return (
        e.join(norm, "_id")
        .where(F.col("_nrm") > 0)
        .select("_id", "idx", (F.col("_raw") / F.col("_nrm")).alias("val"))
    )


def fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_components: int = 16,
    vocab_size: int = 512,
    n: int = 3,
) -> LsaModel:
    """Fit an LSA model; only O(vocab_size²) bytes ever reach the driver."""
    spark = df.sparkSession
    gc = _gram_counts(df, id_col, text_col, n)
    n_docs = df.count()
    # deterministic top-V vocabulary: df desc, gram asc (TakeOrdered)
    top = (
        gc.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("gram"))
        .limit(vocab_size)
        .collect()
    )
    vocab = {r["gram"]: i for i, r in enumerate(top)}
    idf = [float(np.log((1.0 + n_docs) / (1.0 + r["df"])) + 1.0) for r in top]
    vocab_df = spark.createDataFrame(
        [(g, i, idf[i]) for g, i in vocab.items()], "gram string, idx int, idf double"
    )
    entries = _tfidf_entries(gc, vocab_df)
    # distributed Gram matrix: per-doc nonzero self-join, one shuffle
    l, r = entries.alias("l"), entries.alias("r")
    cells = (
        l.join(r, "_id")
        .select(
            F.col("l.idx").alias("i"),
            F.col("r.idx").alias("j"),
            (F.col("l.val") * F.col("r.val")).alias("v"),
        )
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    V = len(vocab)
    G = np.zeros((V, V))
    for c in cells:
        G[c["i"], c["j"]] = c["v"]
    w, U = np.linalg.eigh(G)                     # ascending eigenvalues
    order = np.argsort(w)[::-1][:n_components]
    comps = U[:, order]                          # (V, k)
    # sign convention: largest-|coordinate| positive per component
    for c in range(comps.shape[1]):
        m = np.argmax(np.abs(comps[:, c]))
        if comps[m, c] < 0:
            comps[:, c] = -comps[:, c]
    return LsaModel(vocab=vocab, idf=idf, components=comps, n=n)


def transform(
    df: DataFrame, model: LsaModel, id_col: str, text_col: str
) -> DataFrame:
    """Project documents into the LSA space → (id_col, lsa array<double>).

    JVM-only: broadcast-join the per-term component rows, scale, then k
    column sums per document (k aggregates, one shuffle).
    """
    spark = df.sparkSession
    k = model.components.shape[1]
    inv = {i: g for g, i in model.vocab.items()}
    comp_rows = [
        (inv[i], model.idf[i], [float(x) for x in model.components[i]])
        for i in range(len(inv))
    ]
    comp_df = spark.createDataFrame(
        comp_rows, "gram string, idf double, comp array<double>"
    )
    gc = _gram_counts(df, id_col, text_col, model.n)
    e = gc.join(F.broadcast(comp_df), "gram").select(
        "_id", (F.col("tf") * F.col("idf")).alias("_raw"), "comp"
    )
    norm = e.groupBy("_id").agg(
        F.sqrt(F.sum(F.col("_raw") * F.col("_raw"))).alias("_nrm")
    )
    scaled = (
        e.join(norm, "_id")
        .where(F.col("_nrm") > 0)
        .select(
            "_id",
            F.transform("comp", lambda x: x * F.col("_raw") / F.col("_nrm")).alias(
                "_c"
            ),
        )
    )
    agg = scaled.groupBy("_id").agg(
        F.array(*[F.sum(F.col("_c")[i]) for i in range(k)]).alias("lsa")
    )
    return agg.select(F.col("_id").alias(id_col), "lsa")
