"""Targeted tests for dedup / ANN / multimodal operators on controlled data."""

import pytest
from pyspark.sql import functions as F

from company_name_matching_spark.operators import ann, dedup, multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 44),
        (2, "The quick  brown fox jumps over the lazy dog", "en", "s", 45),  # ws/case dup
        (3, "the quick brown fox jumps over the lazy cat", "en", "s", 44),  # near-dup
        (4, "completely different text about spark engines", "en", "s", 46),
        (5, "ein ganz anderer deutscher text", "de", "s", 31),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_groups_and_keep_longest(spark, docs):
    groups = dedup.exact_groups(docs)
    sizes = {r["canonical_id"]: r["group_size"] for r in groups.collect()}
    assert sizes[1] == 2  # docs 1 & 2 share a fingerprint
    kept = dedup.dedup_keep_longest(docs)
    assert kept.count() == 4
    # longest of the dup group (doc 2, 45 chars) wins
    assert kept.where(F.col("doc_id") == 2).count() == 1
    assert kept.where(F.col("doc_id") == 1).count() == 0


def test_jaccard_pairs(spark, docs):
    pairs = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, block_col="lang", threshold=0.5).collect()
    }
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.7
    assert (1, 4) not in pairs
    # cross-language pair blocked away even if similar
    assert all(left != 5 and right != 5 for left, right in pairs)


def test_jaccard_prefix_equals_naive(spark):
    """The prefix-filter join is LOSSLESS: identical pairs+scores to the
    naive quadratic join, on a corpus engineered with boundary cases
    (J exactly at the threshold, subset pairs, disjoint sets, dup sets)."""
    words = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        # deterministic overlapping windows of varying size
        start, size = (i * 3) % 25, 4 + (i % 5)
        rows.append((i, " ".join(words[start:start + size]), "en", "s", 0))
    # exact-boundary pair: J = 4/5 = 0.8 precisely (float-ceil hazard)
    rows.append((100, "a b c d", "en", "s", 0))
    rows.append((101, "a b c d e", "en", "s", 0))
    rows.append((102, "a b c d", "de", "s", 0))  # cross-lang: must stay blocked
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    for t in (0.5, 0.8, 0.9):
        naive = {
            (r["left_id"], r["right_id"]): r["jaccard"]
            for r in dedup.jaccard_pairs(d, block_col="lang", threshold=t).collect()
        }
        pref = {
            (r["left_id"], r["right_id"]): r["jaccard"]
            for r in dedup.jaccard_pairs_prefix(
                d, block_col="lang", threshold=t
            ).collect()
        }
        assert pref == naive, f"threshold {t}: {set(pref) ^ set(naive)}"
    # the exact-boundary pair (J = 4/5) must survive the float-ceil hazard
    p8 = {
        (r["left_id"], r["right_id"])
        for r in dedup.jaccard_pairs_prefix(d, block_col="lang", threshold=0.8).collect()
    }
    assert (100, 101) in p8


def test_minhash_pairs_find_neardups(spark, docs):
    pairs = {(r["left_id"], r["right_id"]) for r in dedup.minhash_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs or (1, 3) in pairs  # near-dups surface
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_minhash_arrow_kernel_bit_identical(spark):
    """The Arrow signature kernel (``minhash_pairs``) is BIT-identical to
    the JVM HOF form (``generate_blocks``) — same trigram hashes in, same
    universal-hash integer arithmetic — on a corpus covering Vietnamese
    unicode, short/empty-ish strings, and long repetitive text."""
    from company_name_matching_spark.operators import blocking

    texts = [
        "công ty tnhh thương mại dịch vụ sài gòn",
        "CÔNG TY  TNHH thương mại dịch vụ sài gòn",  # case/ws near-dup of 0
        "x",  # shorter than one trigram → single truncated gram
        "ab",
        "the quick brown fox " * 50,  # long, repetitive
        "ᚠᛇᚻ᛫ᛗᛣ unicode ᚠᛇᚻ",
        " ",  # canonicalizes toward empty
    ]
    rows = [(i, t, "vi", "s", len(t)) for i, t in enumerate(texts)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).select(
        "doc_id",
        F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")).alias("ctext"),
    )
    cfg = blocking.BlockingConfig(minhash_bands=8, minhash_rows=4)
    th = blocking.trigram_hashes_col(F.col("ctext"))
    both = d.select(
        "doc_id",
        blocking.sig_from_hashes_col(th, cfg).alias("sig_jvm"),
        blocking.sig_arrow_kernel(cfg)(th).alias("sig_arrow"),
    ).collect()
    for r in both:
        assert r["sig_jvm"] == r["sig_arrow"], (
            f"doc {r['doc_id']}: {r['sig_jvm']} != {r['sig_arrow']}"
        )

    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    pairs = {
        (r["left_id"], r["right_id"])
        for r in dedup.minhash_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs


def test_multimodal_resize_and_frame_sampling(spark):
    """Resize = real 2x2 mean-pooling over the deterministic fake decode,
    checked against direct numpy on the same payloads."""
    import hashlib

    import numpy as np

    rows = [(1, "hello world", "en", "s", 11), (2, "khác", "vi", "s", 4)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    b = multimodal.attach_binary(d)
    got = {r["content_id"]: r["pixels"]
           for r in multimodal.resize_images(b, out_side=2).collect()}
    for doc_id, text, *_ in rows:
        img = np.frombuffer(
            hashlib.md5(text.encode()).digest(), dtype=np.uint8
        ).reshape(4, 4).astype(float)
        want = img.reshape(2, 2, 2, 2).mean(axis=(1, 3)).ravel()
        assert got[doc_id] == [round(float(x), 6) for x in want]


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe == n_cells degrades IVF gracefully to exact search."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(60)]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = v.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in ann.brute_force_topk(q, v, k=3).collect()}
    ivf = {(r["query_id"], r["neighbor_id"], r["rank"])
           for r in ann.ivf_topk(q, v, k=3, n_cells=6, nprobe=6).collect()}
    assert ivf == exact


def test_simhash_pairs(spark):
    """SimHash's hamming-locality property needs long documents (on short
    ones a single token flips many signature bits), so test on 50-token docs."""
    base = " ".join(f"tok{i}" for i in range(50))
    rows = [
        (1, base + " dog", "en", "s", 0),
        (2, base + " cat", "en", "s", 0),  # one-token change → tiny hamming
        (3, " ".join(f"other{i}" for i in range(50)), "en", "s", 0),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    pairs = {(r["left_id"], r["right_id"]): r["hamming"] for r in
             dedup.simhash_pairs(d, max_hamming=4).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 4
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_deterministic(spark, docs):
    a = dedup.simhash_pairs(docs, max_hamming=8).collect()
    b = dedup.simhash_pairs(docs, max_hamming=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.fixture(scope="module")
def vecs(spark):
    import math

    rows = []
    for i in range(40):
        base = [math.cos(0.3 * i + 0.1 * d) for d in range(8)]
        rows.append((i, [float(x) for x in base], i % 4))
    # vec 100 = exact copy of vec 0 → cosine 1
    rows.append((100, rows[0][1], 0))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk(spark, vecs):
    q = vecs.where(F.col("vec_id") == 0)
    top = ann.brute_force_topk(q, vecs, k=3).collect()
    assert len(top) == 3
    assert top[0]["neighbor_id"] == 100 and top[0]["cosine"] == pytest.approx(1.0)
    assert [r["rank"] for r in top] == [1, 2, 3]


def test_lsh_topk_recall_vs_brute_force(spark, vecs):
    q = vecs.where(F.col("vec_id") < 5)
    bf = {(r["query_id"], r["neighbor_id"]) for r in
          ann.brute_force_topk(q, vecs, k=3).collect()}
    lsh = {(r["query_id"], r["neighbor_id"]) for r in
           ann.lsh_topk(q, vecs, k=3, dim=8, n_planes=4, n_tables=6).collect()}
    recall = len(bf & lsh) / len(bf)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_embedding_neardup(spark, vecs):
    pairs = dedup.embedding_neardup_pairs(vecs, block_col="label", threshold=0.999)
    got = {(r["left_id"], r["right_id"]) for r in pairs.collect()}
    assert (0, 100) in got


def test_embedding_neardup_lsh_subset_of_exact(spark, vecs):
    """LSH-blocked near-dup: (a) every emitted pair is a TRUE pair (verify
    is exact cosine, so LSH output must be a subset of the quadratic join);
    (b) identical vectors share every bucket, so exact duplicates are always
    recalled; (c) cosines agree pairwise with the exact operator."""
    exact = {(r["left_id"], r["right_id"]): r["cosine"] for r in
             dedup.embedding_neardup_pairs(vecs, threshold=0.99).collect()}
    lsh = {(r["left_id"], r["right_id"]): r["cosine"] for r in
           dedup.embedding_neardup_pairs_lsh(
               vecs, threshold=0.99, dim=8, n_planes=4, n_tables=6
           ).collect()}
    assert set(lsh) <= set(exact)
    assert (0, 100) in lsh  # identical vectors: all sign bits equal
    for k, v in lsh.items():
        assert v == exact[k], k


def test_multimodal_plumbing(spark, docs):
    b = multimodal.attach_binary(docs)
    assert b.schema.simpleString().startswith(
        "struct<content_id:bigint,payload:binary,format:string"
    )
    feats = multimodal.extract_features(b)
    rows = {r["content_id"]: r for r in feats.collect()}
    assert rows[1]["feature_dim"] == 4
    assert rows[1]["features"][1] == 9.0  # token count of doc 1
    # unknown format fails loudly (decoder stub)
    bad = b.withColumn("format", F.lit("jpeg"))
    with pytest.raises(Exception, match="NotImplementedError|decoder"):
        multimodal.extract_features(bad).collect()


def test_prefix_ceil_guard_never_shortens_prefix():
    """Property (hypothesis): the 1e-9 epsilon in ceil(t·n − ε) may only
    ever LENGTHEN a prefix (safe — more candidates), never shorten it below
    the exact-rational requirement (unsafe — lost pairs). Verified against
    exact Fraction arithmetic over the float grid the engine actually uses;
    same property for the PPJoin positional-filter α = ceil(t/(1+t)·s − ε).
    (0.8·5 = 4.000000000000001 is the motivating case: naive ceil gives 5,
    silently dropping every J==0.8 pair among 5-token docs.)"""
    import math
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=2000, deadline=None)
    @given(
        t=st.floats(min_value=0.05, max_value=0.99,
                    allow_nan=False, allow_infinity=False),
        n=st.integers(min_value=1, max_value=2000),
    )
    def check(t, n):
        exact = math.ceil(Fraction(t) * n)
        guarded = math.ceil(t * n - 1e-9)
        assert guarded <= exact, (t, n, guarded, exact)
        # and the epsilon never over-relaxes by more than one integer step
        assert guarded >= exact - 1, (t, n, guarded, exact)
        s = 2 * n  # α operates on |A|+|B|
        exact_a = math.ceil(Fraction(t) / (1 + Fraction(t)) * s)
        guarded_a = math.ceil(t / (1.0 + t) * s - 1e-9)
        assert guarded_a <= exact_a, (t, s, guarded_a, exact_a)
        assert guarded_a >= exact_a - 1, (t, s, guarded_a, exact_a)

    check()


def test_winnow_pairs_planted_and_equivalent(spark):
    """winnow_pairs: (a) near-identical docs pair at fingerprint-Jaccard
    >= t; (b) docs sharing only a boilerplate sentence share fingerprints
    (the Schleimer guarantee) but correctly stay below the symmetric
    near-dup threshold; (c) the lossless prefix-filter plan equals the
    naive quadratic join over the same fingerprint sets."""
    from company_name_matching_spark.functions import textstats
    from company_name_matching_spark.operators import dedup

    boiler = "subscribe to our newsletter for weekly updates and offers"
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the rivers"),
        (3, f"completely different article about spark shuffles. {boiler}"),
        (4, f"yet another unrelated story on query optimizers. {boiler}"),
        (5, "nothing in common with anything else at all here"),
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {(r["left_id"], r["right_id"]): r["jaccard"]
             for r in dedup.winnow_pairs(d, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.5
    assert (3, 4) not in pairs  # boilerplate overlap diluted below 0.5
    # ...but the guarantee holds: 3 and 4 DO share fingerprints
    # (hash="arrow" matches winnow_pairs' production default, so the
    # naive quadratic twin below verifies the SAME fingerprint sets)
    fp = {r["doc_id"]: set(r["fp"])
          for r in textstats.winnow_fingerprint_table(
              d, hash="arrow").collect()}
    assert fp[3] & fp[4]
    assert not (fp[1] & fp[5])
    # naive quadratic twin over the same sets == prefix-filtered output
    import itertools

    naive = {}
    for a, b in itertools.combinations(sorted(fp), 2):
        inter = len(fp[a] & fp[b])
        union = len(fp[a] | fp[b])
        j = inter / union if union else 0.0
        if j >= 0.5:
            naive[(a, b)] = round(j, 6)
    assert pairs == naive


def test_ppjoin_randomized_equivalence_across_thresholds(spark):
    """Seeded randomized differential test for the shared PPJoin core:
    over a random corpus (skewed vocab, duplicate-heavy, variable lengths)
    the lossless prefix-filter output must equal the naive quadratic join
    at every threshold — including boundary-exact pairs (J == t)."""
    import random

    from company_name_matching_spark.operators import dedup

    rng = random.Random(20260817)
    vocab = [f"w{i}" for i in range(18)]
    rows = []
    for i in range(80):
        n = rng.randint(1, 9)
        toks = rng.sample(vocab, n)
        rows.append((i, " ".join(toks)))
        if rng.random() < 0.3:  # plant near-identical sibling
            sib = list(toks)
            if len(sib) > 1 and rng.random() < 0.5:
                sib.pop()
            else:
                sib.append(rng.choice(vocab))
            rows.append((1000 + i, " ".join(dict.fromkeys(sib))))
    d = spark.createDataFrame(rows, "doc_id int, text string")
    for t in (0.5, 0.75, 0.8):
        fast = {
            (r["left_id"], r["right_id"]): r["jaccard"]
            for r in dedup.jaccard_pairs_prefix(d, threshold=t).collect()
        }
        naive = {
            (r["left_id"], r["right_id"]): r["jaccard"]
            for r in dedup.jaccard_pairs(d, threshold=t).collect()
        }
        assert fast == naive, (t, len(fast), len(naive))
        assert naive, t  # the planted siblings guarantee non-vacuity


def test_ppjoin_dedup_order_equivalence(spark):
    """The r6 verify-then-dedup reordering is output-invariant: forcing
    either dedup order through the PPJoin core yields the identical pair
    set (verification is a pure function of the pair, so deduping the
    candidate fan-out before or after verify cannot change survivors)."""
    import random

    from pyspark.sql import functions as F

    from company_name_matching_spark.functions import textstats
    from company_name_matching_spark.operators.dedup import _ppjoin_exact_jaccard

    rng = random.Random(20260822)
    vocab = [f"w{i}" for i in range(15)]
    rows = []
    for i in range(70):
        toks = rng.sample(vocab, rng.randint(1, 8))
        rows.append((i, " ".join(toks)))
        if rng.random() < 0.4:
            sib = list(toks)
            (sib.pop() if len(sib) > 1 and rng.random() < 0.5
             else sib.append(rng.choice(vocab)))
            rows.append((1000 + i, " ".join(dict.fromkeys(sib))))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    toks = F.array_distinct(textstats.tokens_col(F.lower(F.col("text"))))
    d = docs.select(
        F.col("doc_id").alias("id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("items"),
        F.lit("all").alias("bk"),
    )
    for t in (0.5, 0.8):
        first = {
            (r["left_id"], r["right_id"]): r["jaccard"]
            for r in _ppjoin_exact_jaccard(
                d, t, "ordtest_a", verify_then_dedup=False
            ).collect()
        }
        after = {
            (r["left_id"], r["right_id"]): r["jaccard"]
            for r in _ppjoin_exact_jaccard(
                d, t, "ordtest_b", verify_then_dedup=True
            ).collect()
        }
        assert first == after, (t, len(first), len(after))
        assert first, t


def test_winnow_containment_detects_embedded_passage(spark):
    """winnow_containment_pairs: a short doc embedded verbatim inside a
    long page scores containment ≈ 1 (detected) even though symmetric
    Jaccard is far below any dedup threshold — the asymmetric boilerplate
    query."""
    from company_name_matching_spark.operators import dedup

    passage = ("subscribe to our weekly newsletter for updates offers "
               "and exclusive member discounts every single friday")
    rows = [
        (1, passage),
        (2, f"a very long page about spark shuffle internals and adaptive "
            f"query execution with many details. {passage} plus yet more "
            f"body text about partitions executors and codegen stages."),
        (3, "entirely unrelated content about cooking rice properly"),
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    out = {(r["left_id"], r["right_id"]): r["containment"]
           for r in dedup.winnow_containment_pairs(d, threshold=0.8).collect()}
    assert (1, 2) in out and out[(1, 2)] >= 0.8, out
    assert all(k == (1, 2) for k in out)
    # symmetric jaccard correctly does NOT pair them at dedup thresholds
    j = {(r["left_id"], r["right_id"])
         for r in dedup.winnow_pairs(d, threshold=0.5).collect()}
    assert (1, 2) not in j


def test_new_channels_degenerate_inputs(spark):
    """Empty / single-doc / empty-text corpora must produce empty results
    with stable schemas, not crashes — the shapes every 100-TB partition
    eventually feeds these operators."""
    from company_name_matching_spark.functions import textstats
    from company_name_matching_spark.operators import dedup

    empty = spark.createDataFrame([], "doc_id int, text string")
    single = spark.createDataFrame([(1, "only one document here")],
                                   "doc_id int, text string")
    blank = spark.createDataFrame([(1, ""), (2, "  "), (3, "ok text here")],
                                  "doc_id int, text string")
    for d in (empty, single, blank):
        assert dedup.winnow_pairs(d, threshold=0.5).count() == 0
        assert dedup.winnow_containment_pairs(d, threshold=0.5).count() == 0
    cols_fp = textstats.winnow_fingerprint_table(empty).columns
    assert cols_fp == ["doc_id", "fp"]
    lm_empty = textstats.char_lm_scores(empty)
    assert lm_empty.count() == 0
    assert lm_empty.columns == ["doc_id", "n_bigrams", "bits_per_bigram"]
    lm_blank = {r["doc_id"] for r in textstats.char_lm_scores(blank).collect()}
    assert lm_blank == {3}  # zero-bigram docs drop; real doc scored


def test_hot_bucket_cap_on_identical_population(spark, monkeypatch):
    """N identical documents (vectors) share every SimHash (sign-LSH)
    bucket: a cap below N drops those buckets and every pair with them, a
    cap of N keeps all C(N,2) pairs."""
    n = 8
    docs = spark.createDataFrame(
        [(i, "same boilerplate text") for i in range(n)], "doc_id int, text string"
    )
    vecs = spark.createDataFrame(
        [(i, [1.0, 0.5, -0.25, 2.0]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    for cap, want in ((n - 1, 0), (n, n * (n - 1) // 2)):
        monkeypatch.setattr(dedup, "MAX_BUCKET_SIZE", cap)
        assert dedup.simhash_pairs(docs).count() == want
        lsh = dedup.embedding_neardup_pairs_lsh(
            vecs, dim=4, n_planes=4, n_tables=2
        )
        assert lsh.count() == want


def test_winnow_fingerprint_twins_agree_on_blank_docs(spark, tmp_path):
    """Spark entry vs DuckDB twin on a corpus CONTAINING blank docs — the
    degenerate shape the blank-doc hardening must keep cross-engine exact
    (the oracle's xor fold previously threw on empty fingerprint lists)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod

    rows = [(1, "real text body with content"), (2, ""), (3, "   "),
            (4, "another real document body")]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    # fake sf dir with just the documents table
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sdf = (
        entrymod.queries()["docs_winnow_fingerprints"](spark, str(tmp_path))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    odf = (
        con.execute(entrymod.oracle_sql()["docs_winnow_fingerprints"])
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert sdf.astype(str).equals(odf.astype(str)), (sdf, odf)
    blank = sdf[sdf.doc_id.isin([2, 3])]
    assert (blank.n_fp == 0).all() and (blank.fp_xor == 0).all()
