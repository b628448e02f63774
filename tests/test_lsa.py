"""V3 LSA: the distributed TF-IDF → Gram → eigh factorization must agree
with an exact dense numpy SVD of the same matrix (subspace comparison —
pairwise inner products are invariant to sign/rotation within the span),
and the distributed projection must be the exact matmul of its own
components."""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).parent.parent))

from company_name_matching_spark.operators import lsa

SF_DIR = "/root/testdata/sf0.001"
K, V = 8, 256


def _grams(s: str, n: int = 3) -> list[str]:
    s = s.lower()
    return [s[i : i + n] for i in range(max(len(s) - (n - 1), 1))]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .select("p_partkey", "p_name")
        .collect()
    )
    return [(r["p_partkey"], r["p_name"]) for r in rows]


@pytest.fixture(scope="module")
def dense(corpus):
    """Exact local replica: vocab, idf, L2-normalized TF-IDF matrix."""
    n_docs = len(corpus)
    docs = {pid: Counter(_grams(name)) for pid, name in corpus}
    df_counts = Counter(g for tf in docs.values() for g in tf)
    top = sorted(df_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:V]
    vocab = {g: i for i, (g, _) in enumerate(top)}
    idf = np.array(
        [np.log((1.0 + n_docs) / (1.0 + df_counts[g])) + 1.0 for g in vocab]
    )
    ids = sorted(docs)
    A = np.zeros((n_docs, len(vocab)))
    for r, pid in enumerate(ids):
        for g, tf in docs[pid].items():
            if g in vocab:
                A[r, vocab[g]] = tf * idf[vocab[g]]
        nrm = np.linalg.norm(A[r])
        if nrm > 0:
            A[r] /= nrm
    return ids, vocab, A, idf


@pytest.fixture(scope="module")
def fitted(spark, corpus):
    df = spark.createDataFrame(corpus, "p_partkey long, p_name string")
    model = lsa.fit(df, "p_partkey", "p_name", n_components=K, vocab_size=V)
    emb = {
        r["p_partkey"]: np.array(r["lsa"])
        for r in lsa.transform(df, model, "p_partkey", "p_name").collect()
    }
    return model, emb


def test_vocab_and_idf_match_local(dense, fitted):
    ids, vocab, A, idf = dense
    model, _ = fitted
    assert model.vocab == vocab
    np.testing.assert_allclose(np.array(model.idf), idf, atol=1e-12)


def test_components_orthonormal(fitted):
    model, _ = fitted
    C = model.components
    np.testing.assert_allclose(C.T @ C, np.eye(K), atol=1e-10)


def test_projection_is_exact_matmul(dense, fitted):
    """The distributed transform == A @ components, to float tolerance."""
    ids, _, A, _ = dense
    model, emb = fitted
    E_expect = A @ model.components
    E_got = np.stack([emb[pid] for pid in ids])
    np.testing.assert_allclose(E_got, E_expect, atol=1e-10)


def test_subspace_matches_dense_svd(dense, fitted):
    """Pairwise inner products in LSA space match a dense numpy SVD's —
    the distributed Gram+eigh factorization found the same top-k subspace."""
    ids, _, A, _ = dense
    model, emb = fitted
    _, s, Vt = np.linalg.svd(A, full_matrices=False)
    assert s[K - 1] - s[K] > 1e-6  # eigengap: subspace is well-defined
    E_np = A @ Vt[:K].T
    G_np = E_np @ E_np.T
    E_sp = np.stack([emb[pid] for pid in ids])
    G_sp = E_sp @ E_sp.T
    np.testing.assert_allclose(G_sp, G_np, atol=1e-8)


def test_gram_scan_runs_once_and_null_text_adds_no_gram(spark):
    """The staged gram array is exploded without an inferred Filter that
    recomputes the ``sequence(`` scan, and a NULL text yields no gram —
    a NULL vocabulary slot could never join a document."""
    from tests.test_staged_explode import assert_staged_explodes

    df = spark.createDataFrame(
        [(1, "vinamilk"), (2, "vina milk"), (3, None)], "id long, text string"
    )
    gc = lsa._gram_counts(df, "id", "text", 3)
    assert_staged_explodes(gc, scan_once="sequence(")
    model = lsa.fit(df, "id", "text", n_components=2, vocab_size=512)
    assert None not in model.vocab
