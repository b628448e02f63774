"""Operator-level Spark tests: normalize, blocking, clustering."""

from pyspark.sql import functions as F

from company_name_matching_spark.operators import blocking, clustering, normalize
from company_name_matching_spark.sources import fixtures


def _names(spark, n=60, per=4):
    pages = fixtures.pages_dataframe(spark, n_companies=n, per_company=per)
    return pages, normalize.normalize_pages(pages)


def test_normalize_schema_and_filters(spark):
    pages, names = _names(spark, 40, 3)
    cols = set(names.columns)
    assert {"record_id", "url", "name", "cleaned", "norm_key", "match_key",
            "tokens", "entity_type", "has_repeat"} <= cols
    assert names.where(F.col("match_key") == "").count() == 0
    # record_id deterministic: re-run produces identical ids
    names2 = normalize.normalize_pages(pages)
    assert (
        names.select("record_id").exceptAll(names2.select("record_id")).count() == 0
    )


def test_normalize_entity_type_native_matches_pandas(spark):
    """JVM-native entity-type extraction must equal the vectorized kernel."""
    import pandas as pd

    from company_name_matching_spark.functions import vnnorm

    _, names = _names(spark, 60, 2)
    rows = names.select("match_key", "entity_type").collect()
    got = [r["entity_type"] for r in rows]
    want = vnnorm.extract_entity_type(pd.Series([r["match_key"] for r in rows])).tolist()
    assert got == [w if w is not None else None for w in want]


def test_dedup_exact_keeps_longest(spark):
    import datetime as dt

    # u1/u2 share a norm_key (differ only in case/diacritics/padding);
    # norm_key deliberately keeps special chars (reference-UDF parity), so
    # punctuation differences would be different keys.
    rows = [
        ("u1", dt.datetime(2026, 1, 1), b"x", "CÔNG TY TNHH SỮA VIỆT NAM  ", "vi", "e", "k"),
        ("u2", dt.datetime(2026, 1, 1), b"x", "cong ty tnhh sua viet nam", "vi", "e", "k"),
        ("u3", dt.datetime(2026, 1, 1), b"x", "CP KHÁC BIỆT", "vi", "e", "k"),
    ]
    pages = spark.createDataFrame(rows, fixtures.PAGES_SCHEMA)
    names = normalize.normalize_pages(pages)
    out = normalize.dedup_exact(names, keep="longest")
    grp = {r["norm_key"]: r for r in out.collect()}
    dup = [r for r in grp.values() if r["duplicate_group_size"] == 2]
    assert len(dup) == 1 and dup[0]["is_duplicate"]
    assert len(dup[0]["name"]) == max(len(rows[0][3]), len(rows[1][3]))


def test_group_original_names_salted_cap_deterministic(spark):
    """A hot group bigger than the cap: the salted two-phase aggregation
    must return exactly the lexicographically smallest `cap` names (i.e.
    equal a global sort+slice), independent of partitioning."""
    rows = [("k", f"name{i:03d}") for i in range(250)] + [("k2", "solo")]
    df = spark.createDataFrame(rows, "norm_key string, name string")
    for parts in (1, 7):
        out = {
            r["norm_key"]: r["original_names"]
            for r in normalize.group_original_names(
                df.repartition(parts), cap=100
            ).collect()
        }
        assert out["k"] == sorted(f"name{i:03d}" for i in range(250))[:100]
        assert out["k2"] == ["solo"]


def test_dedup_exact_collect_names(spark):
    import datetime as dt

    rows = [
        ("u1", dt.datetime(2026, 1, 1), b"x", "CÔNG TY TNHH SỮA VIỆT NAM  ", "vi", "e", "k"),
        ("u2", dt.datetime(2026, 1, 1), b"x", "cong ty tnhh sua viet nam", "vi", "e", "k"),
        ("u3", dt.datetime(2026, 1, 1), b"x", "CP KHÁC BIỆT", "vi", "e", "k"),
    ]
    names = normalize.normalize_pages(
        spark.createDataFrame(rows, fixtures.PAGES_SCHEMA)
    )
    out = normalize.dedup_exact(names, keep="longest", collect_names=10)
    dup = [r for r in out.collect() if r["is_duplicate"]]
    assert len(dup) == 1
    assert dup[0]["original_names"] == sorted([rows[0][3], rows[1][3]])


def test_blocking_variants_share_block(spark):
    _, names = _names(spark, 30, 4)
    blocks = blocking.generate_blocks(names)
    # every record has a prefix block + 4 LSH bands
    per_rec = blocks.groupBy("record_id").count().agg(F.min("count")).collect()[0][0]
    assert per_rec >= 1
    # records of the same entity share ≥1 block key (prefix key equality)
    pages = fixtures.pages_dataframe(spark, n_companies=30, per_company=4)
    ids = names.join(pages.select("url", "entity_id"), "url").select(
        "record_id", "entity_id"
    )
    pairs = blocking.candidate_pairs(names)
    truth_pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a.entity_id") == F.col("b.entity_id"))
        .where(F.col("a.record_id") < F.col("b.record_id"))
        .select(
            F.col("a.record_id").alias("left_id"), F.col("b.record_id").alias("right_id")
        )
    )
    missed = truth_pairs.join(pairs, ["left_id", "right_id"], "left_anti").count()
    total = truth_pairs.count()
    assert total > 0
    # blocking recall ≥ 99% of true pairs (north-star requirement)
    assert missed / total < 0.01, f"blocking missed {missed}/{total} true pairs"


def test_hot_block_cap_drops_oversized(spark):
    _, names = _names(spark, 40, 3)
    cfg = blocking.BlockingConfig(max_block_size=2)
    blocks = blocking.filter_blocks(blocking.generate_blocks(names, cfg), cfg)
    sizes = blocks.groupBy("block_key").count()
    assert sizes.agg(F.max("count")).collect()[0][0] <= 2


def test_minhash_deterministic(spark):
    df = spark.createDataFrame(
        [("a", "tnhh son ha viet"), ("b", "tnhh son ha viet")], "record_id string, match_key string"
    ).withColumn("tokens", F.split("match_key", " "))
    cfg = blocking.BlockingConfig()
    sig = (
        df.select(
            "record_id",
            blocking.trigram_hashes_col(F.col("match_key")).alias("th"),
        )
        .select("record_id", blocking.sig_from_hashes_col(F.col("th"), cfg).alias("sig"))
        .collect()
    )
    assert sig[0]["sig"] == sig[1]["sig"]
    assert len(sig[0]["sig"]) == cfg.minhash_bands * cfg.minhash_rows


def test_connected_components_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, singleton 99 absent from edges
    # driver_edge_threshold=0 pins the DISTRIBUTED star iteration
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    labels, rounds = clustering.connected_components(
        edges, driver_edge_threshold=0
    )
    got = {r["record_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert 1 <= rounds <= 5


def test_connected_components_driver_fast_path(spark):
    """The size-gated driver union-find must label the known graph
    identically to the star iteration (rounds == 0 marks the fast path)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    labels, rounds = clustering.connected_components(edges)
    got = {r["record_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert rounds == 0
    # empty edge set → empty labels, still the fast path
    empty, r0 = clustering.connected_components(
        spark.createDataFrame([], "src long, dst long")
    )
    assert empty.count() == 0 and r0 == 0


def test_connected_components_driver_equals_distributed(spark):
    """Randomized multi-component graphs (chains, stars, cycles, dups,
    reversed duplicates): driver union-find labels == star-iteration
    labels, and string ids survive the fast path."""
    import random

    rng = random.Random(20260817)
    rows = []
    for comp in range(40):
        base = comp * 100
        nodes = [base + i for i in range(rng.randint(2, 12))]
        # random spanning chain + extra random intra-component edges
        for a, b in zip(nodes, nodes[1:]):
            rows.append((a, b))
        for _ in range(rng.randint(0, 6)):
            a, b = rng.sample(nodes, 2)
            rows.append((a, b))
            if rng.random() < 0.3:
                rows.append((b, a))  # reversed duplicate
    edges = spark.createDataFrame(rows, "src long, dst long")
    fast, rf = clustering.connected_components(edges)
    slow, rs = clustering.connected_components(edges, driver_edge_threshold=0)
    assert rf == 0 and rs >= 1
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )
    # string ids (doc ids) through the fast path
    sedges = spark.createDataFrame(
        [("d-b", "d-a"), ("d-b", "d-c"), ("x-1", "x-2")],
        "src string, dst string",
    )
    slabels, _ = clustering.connected_components(sedges)
    sgot = {r["record_id"]: r["cluster_id"] for r in slabels.collect()}
    assert sgot == {"d-a": "d-a", "d-b": "d-a", "d-c": "d-a",
                    "x-1": "x-1", "x-2": "x-1"}


def test_connected_components_star_and_cycle(spark):
    edges = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3), (7, 8), (8, 9), (9, 7)], "src long, dst long"
    )
    labels, _ = clustering.connected_components(edges)
    got = {r["record_id"]: r["cluster_id"] for r in labels.collect()}
    assert got[5] == got[1] == got[2] == got[3] == 1
    assert got[7] == got[8] == got[9] == 7


def test_candidate_pairs_equals_naive_self_join(spark):
    """The fused collect_set pair expansion (blocking.candidate_pairs) must
    emit EXACTLY the pairs of the textbook blocked self-join over the same
    filtered blocks — on a corpus with cross-channel overlap (pairs found by
    both prefix and LSH band must appear once) and a hot-cap boundary."""
    from company_name_matching_spark.operators import blocking, normalize

    rows = []
    # 30 near-duplicate variants of one name (well under the hot cap) +
    # distinct names sharing tokens, + unrelated singletons
    for i in range(30):
        rows.append((f"u{i}", f"cong ty tnhh son ha {i % 3}"))
    for i in range(10):
        rows.append((f"v{i}", f"thuong mai dich vu hoa binh {i}"))
    rows += [("w1", "doc nhat vo nhi"), ("w2", "khong giong ai ca")]
    pages = spark.createDataFrame(rows, "pid string, text string")
    names = normalize.normalize_mentions(pages, "pid", "text")
    cfg = blocking.BlockingConfig()

    got = {
        (r["left_id"], r["right_id"])
        for r in blocking.candidate_pairs(names, cfg).collect()
    }
    blocks = blocking.filter_blocks(blocking.generate_blocks(names, cfg), cfg)
    l, r = blocks.alias("l"), blocks.alias("r")
    naive = {
        (row["left_id"], row["right_id"])
        for row in (
            l.join(r, "block_key")
            .where(F.col("l.record_id") < F.col("r.record_id"))
            .select(
                F.col("l.record_id").alias("left_id"),
                F.col("r.record_id").alias("right_id"),
            )
            .dropDuplicates(["left_id", "right_id"])
            .collect()
        )
    }
    assert got == naive and len(got) > 0, f"sym diff: {got ^ naive}"


def test_candidate_pairs_key_contraction_equals_record_level(spark):
    """The round-5 key-domain contraction (candidate_pairs) must emit the
    IDENTICAL pair set as the record-level expansion it contracts — under
    heavy exact duplication (the contraction axis), a static cap boundary
    that drops a hot key entirely (its within-key pairs must vanish in BOTH
    paths), and the adaptive cap (quantile over weighted vs row-count sizes
    must agree)."""
    import random as _random

    from company_name_matching_spark.operators import blocking, normalize

    rng = _random.Random(1234)
    base = [
        "cong ty tnhh son ha",
        "thuong mai dich vu hoa binh",
        "co phan dau tu xay dung thanh cong",
        "tnhh mot thanh vien minh anh",
        "doc nhat vo nhi",
    ]
    rows = []
    uid = 0
    for text in base:
        # duplication factors 1..12: several records share each match key
        for _ in range(rng.randint(1, 12)):
            rows.append((f"u{uid}", text))
            uid += 1
        # near variants (distinct keys, co-blocked via prefix/LSH)
        for j in range(rng.randint(1, 4)):
            for _ in range(rng.randint(1, 6)):
                rows.append((f"u{uid}", f"{text} {j}"))
                uid += 1
    # a hot key: enough exact duplicates to blow past max_block_size=20
    rows += [(f"h{i}", "viet nam viet nam") for i in range(30)]
    pages = spark.createDataFrame(rows, "pid string, text string")
    names = normalize.normalize_mentions(pages, "pid", "text").persist()

    for cfg in (
        blocking.BlockingConfig(max_block_size=20),
        blocking.BlockingConfig(adaptive_cap=True, adaptive_cap_floor=8),
        blocking.BlockingConfig(channels=("prefix", "lsh", "token"),
                                max_block_size=25),
    ):
        got = {
            (r["left_id"], r["right_id"])
            for r in blocking.candidate_pairs(names, cfg).collect()
        }
        want = {
            (r["left_id"], r["right_id"])
            for r in blocking.candidate_pairs_record_level(names, cfg).collect()
        }
        assert got == want and len(got) > 0, (
            f"cfg={cfg}: {len(got ^ want)} differing pairs"
        )
    # the hot key must have been dropped by the weighted cap in both paths
    hot_ids = {
        r["record_id"]
        for r in names.where(F.col("match_key") == "viet nam viet nam")
        .select("record_id").collect()
    }
    got_all = {
        (r["left_id"], r["right_id"])
        for r in blocking.candidate_pairs(
            names, blocking.BlockingConfig(max_block_size=20)
        ).collect()
    }
    assert not any(a in hot_ids or b in hot_ids for a, b in got_all)
    names.unpersist()


def test_generate_blocks_rejects_unknown_channels(spark):
    """A typo'd channel name must fail loudly, not silently lose recall."""
    import pytest as _pytest

    from company_name_matching_spark.operators import blocking, normalize

    names = normalize.normalize_mentions(
        spark.createDataFrame([("u1", "cong ty tnhh abc")], "pid string, text string"),
        "pid", "text",
    )
    with _pytest.raises(ValueError, match="tokens"):
        blocking.generate_blocks(
            names, blocking.BlockingConfig(channels=("prefix", "lsh", "tokens"))
        )
    with _pytest.raises(ValueError):
        blocking.generate_blocks(names, blocking.BlockingConfig(channels=()))


def test_adaptive_block_cap_tracks_distribution(spark):
    """Data-driven hot-block cap (VERDICT r3 #9): at 100x scale ORGANIC
    blocks outgrow any fixed max_block_size and a static cap silently drops
    their pairs; the adaptive cap (p-quantile x margin of the observed
    size distribution) keeps them while still dropping true skew outliers
    margin-fold beyond the quantile."""
    # body: 50 blocks of size ~4 (organic); one legit large block of 300
    # records (organically grown with the corpus); one pathological block
    # of 5000 (a degenerate key)
    rows = []
    for b in range(50):
        for i in range(4):
            rows.append((f"b{b}_{i}", f"k:body{b}"))
    for i in range(300):
        rows.append((f"L_{i}", "k:organic"))
    for i in range(5000):
        rows.append((f"H_{i}", "k:patho"))
    blocks = spark.createDataFrame(rows, "record_id string, block_key string")

    # static default (200): the organic 300-block is LOST with its pairs
    static_keys = {
        r["block_key"]
        for r in blocking.filter_blocks(
            blocks, blocking.BlockingConfig()
        ).select("block_key").distinct().collect()
    }
    assert "k:organic" not in static_keys

    # adaptive: p99.9 over {50 x 4, 300, 5000} lands at the tail (5000);
    # use p0.98 so the quantile sits in the body (size 4-300) -- cap =
    # ceil(q x 4) keeps the 300-block, drops the 5000 outlier
    cfg = blocking.BlockingConfig(
        adaptive_cap=True, adaptive_cap_quantile=0.98,
        adaptive_cap_margin=4.0, adaptive_cap_floor=64,
    )
    adaptive_keys = {
        r["block_key"]
        for r in blocking.filter_blocks(blocks, cfg)
        .select("block_key").distinct().collect()
    }
    assert "k:organic" in adaptive_keys, adaptive_keys
    assert "k:patho" not in adaptive_keys
    assert all(k.startswith("k:body") or k == "k:organic" for k in adaptive_keys)
    # floor guards degenerate distributions (all-tiny blocks): cap never
    # drops below adaptive_cap_floor
    tiny = spark.createDataFrame(
        [(f"t{i}", f"k:{i % 30}") for i in range(60)],
        "record_id string, block_key string",
    )
    cfg_floor = blocking.BlockingConfig(
        adaptive_cap=True, adaptive_cap_floor=64
    )
    kept = blocking.filter_blocks(tiny, cfg_floor).count()
    assert kept == 60  # all size-2 blocks kept under the floor


def test_failure_records_tie_and_suppression(spark):
    """erroranalysis.failure_records parity with analyze_errors.py:150-186:
    SCORE-tie hits (even across engine rank groups), promotion-aware
    top1_score (results[0] is the engine's first row, which promotion can
    give a lower score), suppressed queries, target_rank in engine order."""
    from company_name_matching_spark.operators import erroranalysis

    results = spark.createDataFrame(
        [
            # Q1: target B ties with A at top score -> hit
            ("Q1", "A", 0.9, 1), ("Q1", "B", 0.9, 1), ("Q1", "C", 0.5, 2),
            # Q2: target Z at rank 3 of the list -> miss, target_rank 3
            ("Q2", "A", 0.9, 1), ("Q2", "B", 0.8, 2), ("Q2", "Z", 0.7, 3),
            # Q3: target absent -> miss, no rank
            ("Q3", "A", 0.9, 1),
            # Q5: CROSS-GROUP score tie — engine ranked the target's group
            # 2, but its score equals rank-1's (the reference compares raw
            # scores: analyze_errors.py:164-166) -> hit
            ("Q5", "A", 0.9, 1), ("Q5", "B", 0.9, 2), ("Q5", "C", 0.5, 3),
            # Q6: entity promotion put a 0.8 row first; results[0].score
            # is 0.8, and D (score 0.8 at rank 2) ties with it -> hit;
            # the raw max 0.95 is NOT the reference's top1_score
            ("Q6", "A", 0.8, 1), ("Q6", "D", 0.8, 2), ("Q6", "B", 0.95, 3),
        ],
        "query_id string, company_id string, score double, rank int",
    )
    queries = spark.createDataFrame(
        [("Q1", "B", "m1"), ("Q2", "Z", "m1"), ("Q3", "X", "m2"),
         ("Q4", "Y", "m2"),  # Q4: suppressed (no results at all)
         ("Q5", "B", "m3"), ("Q6", "D", "m3")],
        "query_id string, target_id string, method string",
    )
    rows = {
        r["query_id"]: r
        for r in erroranalysis.failure_records(results, queries).collect()
    }
    assert rows["Q1"]["is_top1_hit"] and not rows["Q1"]["suppressed"]
    assert not rows["Q2"]["is_top1_hit"] and rows["Q2"]["target_rank"] == 3
    assert rows["Q2"]["target_in_topk"]
    assert not rows["Q3"]["is_top1_hit"] and rows["Q3"]["target_rank"] is None
    assert rows["Q4"]["suppressed"] and rows["Q4"]["top1_score"] == 0.0
    assert rows["Q5"]["is_top1_hit"] and rows["Q5"]["target_rank"] == 2
    assert rows["Q6"]["is_top1_hit"] and rows["Q6"]["top1_score"] == 0.8


def test_error_analysis_over_real_search(spark):
    """End-to-end: search failures collected and categorized over the
    labeled fixture corpus — the distributed twin of the reference's
    analyze_errors.py driver loop."""
    from company_name_matching_spark.operators import erroranalysis
    from company_name_matching_spark.operators.search import (
        SearchConfig,
        search_topk,
    )
    from company_name_matching_spark.sources import fixtures

    comps = fixtures.base_companies(30)
    corpus = spark.createDataFrame(comps, "company_id string, name string")
    q = fixtures.labeled_queries(comps, per_company=2)
    # plant guaranteed failures: unrelated gibberish (suppressed at
    # min_score) and a wrong-target label
    q = q + [
        ("QG_1", "zzz qqq unrelated gibberish", comps[0][0], "gibberish"),
        ("QW_1", comps[1][1], comps[2][0], "mislabel"),
    ]
    queries = spark.createDataFrame(
        q, "query_id string, query_text string, target_id string, method string"
    )
    res = search_topk(corpus, queries, SearchConfig(k=3, min_score=0.3))
    recs = erroranalysis.failure_records(res, queries)
    fails = recs.where(~F.col("is_top1_hit"))
    qmeta = queries.select(
        "query_id", "query_text",
        F.col("target_id").alias("_tid"),
    ).join(
        corpus.select(
            F.col("company_id").alias("_tid"),
            F.col("name").alias("target_name"),
        ),
        "_tid",
    )
    tagged = erroranalysis.tag_failures(fails.join(qmeta, "query_id"))
    dist = {
        r["tag"]: r["n"]
        for r in erroranalysis.tag_distribution(tagged).collect()
    }
    assert dist.get("method:gibberish", 0) == 1
    assert dist.get("suppressed", 0) >= 1      # gibberish emptied by min_score
    assert dist.get("method:mislabel", 0) == 1
    n_fail = fails.count()
    assert 2 <= n_fail <= 4  # planted failures dominate; accuracy stays high


def test_failure_records_rank_label_robust(spark):
    """(r4 review) outcome fields key to engine ORDER (row position), not
    the literal rank label: a 0-based rank column must not make queries
    look suppressed."""
    from company_name_matching_spark.operators import erroranalysis

    results = spark.createDataFrame(
        [("Q1", "A", 0.9, 0), ("Q1", "B", 0.5, 1)],  # 0-based ranks
        "query_id string, company_id string, score double, rank int",
    )
    queries = spark.createDataFrame(
        [("Q1", "A", "m")], "query_id string, target_id string, method string"
    )
    r = erroranalysis.failure_records(results, queries).collect()[0]
    assert not r["suppressed"] and r["top1_score"] == 0.9
    assert r["is_top1_hit"] and r["target_rank"] == 1


def test_winnow_fingerprints_match_reference_impl(spark):
    """Winnowing selection (textstats.winnow_fingerprint_table) must equal
    a direct python implementation of Schleimer'03 (k-gram md5-60bit
    rolling hashes, window-of-w minima, distinct sorted) and satisfy the
    guarantee: docs sharing a substring of >= w+k-1 chars share >= 1
    fingerprint."""
    import hashlib
    import re

    from company_name_matching_spark.functions import textstats

    def py_winnow(text, k=8, w=4):
        canon = re.sub(r"\s+", " ", text.strip()).lower()
        n = max(len(canon) - k + 1, 1)
        hs = [
            int(hashlib.md5(canon[i:i + k].encode()).hexdigest()[:15], 16)
            for i in range(n)
        ]
        nw = max(len(hs) - w + 1, 1)
        return sorted({min(hs[i:i + w]) for i in range(nw)})

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "  The   quick BROWN fox jumps over a sleepy dog ",
        "completely unrelated text about spark shuffles",
        "ab",  # shorter than one gram: single truncated gram, 1 fp
        "\tthe quick  brown fox jumps over the lazy dog \n",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: list(r["fp"])
        for r in textstats.winnow_fingerprint_table(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_winnow(t), i
    # tab/newline padding and internal whitespace runs canonicalize exactly
    # like the python reference (strip + collapse): doc 4 is doc 0 with
    # padding and a doubled space -> identical fingerprint sets
    assert got[4] == got[0]
    # guarantee: texts 0 and 1 share "fox jumps over" (>= 11 = w+k-1 chars)
    assert set(got[0]) & set(got[1])
    assert not set(got[0]) & set(got[2])


def test_winnow_xxhash64_path_structural_parity(spark):
    """The fast production gram hash (hash="xxhash64", VERDICT r5 #2) must
    drive the SAME selection structure as the oracle md5 path: applying
    the python Schleimer'03 window-min selection to the engine-produced
    xxhash64 gram arrays reproduces the full pipeline's fingerprints, the
    shared-substring guarantee holds, and the near-dup PAIRS found on a
    separated corpus agree with the md5 path."""
    from pyspark.sql import functions as F

    from company_name_matching_spark.functions import textstats
    from company_name_matching_spark.operators import dedup

    texts = [
        "the quick brown fox jumps over the lazy dog near the river",
        "the quick brown fox jumps over the lazy dog near the rivers",
        "completely unrelated text about spark shuffle internals",
        "ab",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    w = 4
    # engine gram hashes (staged canon, xxhash64 per k-gram)
    grams = {
        r["doc_id"]: list(r["gh"])
        for r in df.select(
            "doc_id",
            textstats.winnow_gram_hashes(
                textstats.canon_text(F.col("text")), 8, "xxhash64"
            ).alias("gh"),
        ).collect()
    }

    def py_select(hs):  # hash-agnostic Schleimer'03 window-min selection
        if not hs:
            return []
        nw = max(len(hs) - w + 1, 1)
        return sorted({min(hs[i:i + w]) for i in range(nw)})

    got = {
        r["doc_id"]: list(r["fp"])
        for r in textstats.winnow_fingerprint_table(
            df, hash="xxhash64").collect()
    }
    for i in range(len(texts)):
        assert got[i] == py_select(grams[i]), i
    assert set(got[0]) & set(got[1])          # shared-substring guarantee
    assert not set(got[0]) & set(got[2])
    assert got[4] == []                       # blank doc -> empty set
    # pair agreement between hash paths on a clearly-separated corpus
    md5_pairs = {(r["left_id"], r["right_id"])
                 for r in dedup.winnow_pairs(
                     df, threshold=0.5, hash="md5").collect()}
    xx_pairs = {(r["left_id"], r["right_id"])
                for r in dedup.winnow_pairs(df, threshold=0.5).collect()}
    assert md5_pairs == xx_pairs == {(0, 1)}
    # unknown hash fails loudly
    import pytest

    with pytest.raises(ValueError, match="winnow gram hash"):
        textstats.winnow_gram_hashes(F.col("text"), 8, "sha1")


def test_winnow_arrow_kernel_parity(spark):
    """The vectorized Arrow winnow kernel (hash="arrow", the round-5
    production default) must be BIT-identical to a direct python
    implementation of the same uint64 Horner rolling hash + Schleimer'03
    selection, replicate every HOF-engine edge semantic (blank → empty,
    null → empty, len<k → one truncated gram, whitespace canon), and find
    the identical near-dup pair set as the other engines."""
    import re

    from company_name_matching_spark.functions import textstats
    from company_name_matching_spark.operators import dedup

    B, M = 0x9E3779B97F4A7C55, 1 << 64

    def py_arrow(text, k=8, w=4):
        if text is None:
            return []
        canon = re.sub(r"\s+", " ", text.strip()).lower()
        if not canon:
            return []
        c = [ord(ch) for ch in canon]
        n = len(c)
        if n >= k:
            g = []
            for i in range(n - k + 1):
                h = 0
                for j in range(k):
                    h = (h * B + c[i + j]) % M
                g.append(h)
        else:  # one truncated gram
            h = 0
            for j in range(n):
                h = (h * B + c[j]) % M
            g = [h]
        nw = max(len(g) - w + 1, 1)
        mins = {min(g[i:i + w]) for i in range(nw)}
        return sorted(v - M if v >= 1 << 63 else v for v in mins)

    texts = [
        "the quick brown fox jumps over the lazy dog near the river",
        "the quick brown fox jumps over the lazy dog near the rivers",
        "completely unrelated text about spark shuffle internals",
        "công ty tnhh một thành viên sơn hà",   # non-ASCII codepoints
        "ab",                                     # shorter than one gram
        "  \t spaced\n\nout   text \n",           # canon edge
        "",                                       # blank -> empty
        None,                                     # null -> empty
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: list(r["fp"])
        for r in textstats.winnow_fingerprint_table(df, hash="arrow").collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_arrow(t), i
    assert got[6] == [] and got[7] == []
    assert set(got[0]) & set(got[1])          # shared-substring guarantee
    assert not set(got[0]) & set(got[2])
    # all three engines find the identical pair set
    psets = {
        h: {(r["left_id"], r["right_id"])
            for r in dedup.winnow_pairs(df, threshold=0.5, hash=h).collect()}
        for h in ("md5", "xxhash64", "arrow")
    }
    assert psets["md5"] == psets["xxhash64"] == psets["arrow"] == {(0, 1)}


def test_repetition_signals_hand_values(spark):
    """textstats.repetition_signals vs hand-computed Gopher-rule values,
    including the line-level path the synthetic docs (no newlines) leave
    trivially zero at the oracle: duplicate-line fractions, tie-broken
    top grams, degenerate inputs (blank, null, single word)."""
    from company_name_matching_spark.functions import textstats

    rows = [
        (1, "the cat sat on the mat the cat sat again"),
        (2, "line one\nline two\nline one\n\n  line one  "),
        (3, ""),
        (4, None),
        (5, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict()
           for r in textstats.repetition_signals(df).collect()}
    # doc 1: 10 words, "the"x3; 2-gram tie at 2 ("cat sat" < "the cat"
    # lexicographically) -> 12 of 31 non-space chars; "the cat sat"x2
    assert got[1]["n_words"] == 10 and got[1]["top_word_frac"] == 0.3
    assert got[1]["top_2gram_char_frac"] == round(12 / 31, 6)
    assert got[1]["top_3gram_char_frac"] == round(18 / 31, 6)
    assert got[1]["n_lines"] == 1 and got[1]["dup_line_frac"] == 0.0
    # doc 2: trimmed non-empty lines "line one"x3 + "line two";
    # beyond-first occurrences = 2 of 4 lines, 16 of 32 line chars
    assert got[2]["n_lines"] == 4
    assert got[2]["dup_line_frac"] == 0.5
    assert got[2]["dup_line_char_frac"] == 0.5
    assert got[2]["top_word_frac"] == 0.5          # "line" x4 of 8
    assert got[2]["top_2gram_char_frac"] == 0.75   # "line one" x3 -> 21/28
    # degenerate inputs: everything 0
    for d in (3, 4):
        assert got[d]["n_lines"] == 0 and got[d]["n_words"] == 0
        for c in ("dup_line_frac", "dup_line_char_frac", "top_word_frac",
                  "top_2gram_char_frac", "top_3gram_char_frac"):
            assert got[d][c] == 0.0, (d, c)
    # single word: top_word_frac 1, no 2-grams
    assert got[5]["top_word_frac"] == 1.0
    assert got[5]["top_2gram_char_frac"] == 0.0


def test_char_lm_scores_reference_and_signal(spark):
    """textstats.char_lm_scores vs a direct python implementation of the
    add-α bigram model (exact, incl. 6dp-round-before-mean), and the
    filter signal itself: gibberish scores more bits per char than fluent
    text under a model trained on a mostly-fluent corpus."""
    import math
    import re
    from collections import Counter
    from decimal import Decimal

    from company_name_matching_spark.functions import textstats

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "she sells sea shells by the sea shore every day",
        3: "the rain in spain stays mainly on the plain",
        4: "xq zvkj qwpf zzx vbnm kqj xxqz wvz pqf",  # gibberish
    }
    d = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["bits_per_bigram"])
           for r in textstats.char_lm_scores(d).collect()}

    def canon(t):
        return re.sub(r"\s+", " ", t.strip()).lower()

    bis = {i: [canon(t)[j:j + 2] for j in range(len(canon(t)) - 1)]
           for i, t in texts.items()}
    bg = Counter(b for v in bis.values() for b in v)
    ctx = Counter()
    for b, c in bg.items():
        ctx[b[0]] += c
    k = len({ch for b in bg for ch in b})
    bits = {b: round(-math.log2((c + 0.5) / (ctx[b[0]] + 0.5 * k)), 6)
            for b, c in bg.items()}
    for i, v in bis.items():
        total = sum(Decimal(str(bits[b])) for b in v)
        want = round(float(total) / len(v), 6)
        assert got[i] == (len(v), want), i
    fluent = [got[i][1] for i in (1, 2, 3)]
    # gibberish ranks above every fluent doc (on a 4-doc corpus the
    # separation is modest — the gibberish trains the model too; on a
    # real corpus the margin grows with corpus/model sharpness)
    assert got[4][1] > max(fluent) + 0.3


def test_phonetic_channel_recalls_prefix_typos(spark):
    """The 's:' phonetic channel (soundex-folded sorted prefix) blocks
    together typo'd first tokens that break the exact 'p:' prefix key —
    the north star's 'phonetic' blocking leg. Each channel is isolated
    (single-channel configs) so LSH cannot mask the comparison."""
    rows = [
        ("u1", None, None, "anvico zentrix", "vi", "e1", "corpus"),
        ("u2", None, None, "anvicco zentrix", "vi", "e1", "typo"),
    ]
    import datetime as dt

    rows = [
        (u, dt.datetime(2026, 1, 1), fixtures.render_html(t), t, lang, e, k)
        for (u, _, _, t, lang, e, k) in rows
    ]
    names = normalize.normalize_pages(
        spark.createDataFrame(rows, fixtures.PAGES_SCHEMA)
    )

    def shared_blocks(channels):
        cfg = blocking.BlockingConfig(channels=channels)
        b = blocking.generate_blocks(names, cfg)
        return (
            b.groupBy("block_key")
            .count()
            .where(F.col("count") >= 2)
            .count()
        )

    assert shared_blocks(("prefix",)) == 0       # exact prefix key broken
    assert shared_blocks(("phonetic",)) >= 1     # soundex fold recovers it
    # phonetic keys are namespaced and compose with the default channels
    both = blocking.generate_blocks(
        names, blocking.BlockingConfig(channels=("prefix", "lsh", "phonetic"))
    )
    assert both.where(F.col("block_key").startswith("s:")).count() == 2


def test_unknown_channel_raises(spark):
    import pytest

    _, names = _names(spark, 5, 2)
    with pytest.raises(ValueError, match="unknown blocking channels"):
        blocking.generate_blocks(
            names, blocking.BlockingConfig(channels=("prefix", "fonetic"))
        )


def test_dedup_normalize_paths_identical(spark):
    """The distinct-text contraction ('always') is bit-identical to the
    per-row kernel ('never') — the kernel is a pure function of the text,
    so only the plan changes. 'auto' picks contraction on this duplicated
    corpus and must also match. (Default is 'never': the A/B in the
    operator docstring measured the distinct shuffle costlier than the
    kernel on short mention strings.)"""
    pages = fixtures.pages_dataframe(spark, n_companies=20, per_company=3,
                                     upsample=4)
    outs = {}
    for mode in ("never", "always", "auto"):
        outs[mode] = sorted(
            map(tuple, normalize.normalize_pages(pages, dedup_normalize=mode)
                .select("record_id", "url", "name", "cleaned", "norm_key",
                        "match_key", "entity_type", "has_repeat")
                .collect())
        )
    assert outs["never"] == outs["always"] == outs["auto"]
    import pytest

    with pytest.raises(ValueError, match="dedup_normalize"):
        normalize.normalize_pages(pages, dedup_normalize="sometimes")
