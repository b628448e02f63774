"""Tests for the distributed top-k search API and rank-fusion operators."""

import pytest
from pyspark.sql import functions as F

from company_name_matching_spark.operators import rank
from company_name_matching_spark.operators.search import SearchConfig, search_topk
from company_name_matching_spark.sources import fixtures


@pytest.fixture(scope="module")
def corpus_queries(spark):
    comps = fixtures.base_companies(60)
    corpus = spark.createDataFrame(comps, "company_id string, name string")
    q = fixtures.labeled_queries(comps, per_company=3)
    queries = spark.createDataFrame(
        q, "query_id string, query_text string, target_id string, method string"
    )
    return corpus, queries


def test_search_top1_accuracy(spark, corpus_queries):
    corpus, queries = corpus_queries
    res = search_topk(corpus, queries, SearchConfig(k=3))
    # tie-as-rank-1 semantics (evaluate_matching.py:53-61): hit if the target
    # appears among rank-1 rows
    top1 = res.where(F.col("rank") == 1).select("query_id", "company_id")
    hits = (
        queries.join(
            top1.withColumnRenamed("company_id", "got"), "query_id", "left"
        )
        .groupBy("query_id", "target_id")
        .agg(F.max(F.when(F.col("got") == F.col("target_id"), 1).otherwise(0)).alias("hit"))
    )
    agg = hits.agg(F.avg("hit").alias("acc")).collect()[0]
    assert agg["acc"] >= 0.99, f"top-1 accuracy {agg['acc']:.4f}"


def test_search_min_score_gate(spark, corpus_queries):
    corpus, _ = corpus_queries
    junk = spark.createDataFrame(
        [("QX", "zzz qqq totally unrelated gibberish")],
        "query_id string, query_text string",
    )
    res = search_topk(corpus, junk, SearchConfig(k=3, min_score=0.9))
    assert res.count() == 0


def test_search_entity_promotion(spark):
    """Query names 'cp'; corpus has a TNHH and a CP sibling with near scores —
    the CP one must win rank 1 (matcher.py:640-657)."""
    corpus = spark.createDataFrame(
        [("C1", "CÔNG TY TNHH SƠN HÀ VIỆT"), ("C2", "CÔNG TY CỔ PHẦN SƠN HÀ VN")],
        "company_id string, name string",
    )
    queries = spark.createDataFrame(
        [("Q1", "ctcp son ha vn x")], "query_id string, query_text string"
    )
    cfg = SearchConfig(k=2)
    res = {r["rank"]: r["company_id"] for r in
           search_topk(corpus, queries, cfg).collect()}
    assert res.get(1) == "C2"


def test_rrf_fuse(spark):
    a = spark.createDataFrame(
        [("q", "c1", 0.9), ("q", "c2", 0.8), ("q", "c3", 0.1)],
        "query_id string, candidate_id string, score double",
    )
    b = spark.createDataFrame(
        [("q", "c2", 0.95), ("q", "c1", 0.2)],
        "query_id string, candidate_id string, score double",
    )
    fused = {r["candidate_id"]: r["rrf_score"] for r in
             rank.rrf_fuse({"a": a, "b": b}, k=60).collect()}
    # c1: 1/61 + 1/62; c2: 1/62 + 1/61 → tie; c3: 1/63 only
    assert fused["c1"] == pytest.approx(1 / 61 + 1 / 62, abs=1e-6)
    assert fused["c2"] == pytest.approx(fused["c1"], abs=1e-6)
    assert fused["c3"] < fused["c1"]


def test_adaptive_rerank(spark):
    df = spark.createDataFrame(
        [
            # q1: clear winner (gap 0.5) → keep stage-1 order
            ("q1", "a", 0.9, 0.1), ("q1", "b", 0.4, 0.99),
            # q2: ambiguous (gap 0.02) → stage-2 decides
            ("q2", "a", 0.80, 0.2), ("q2", "b", 0.78, 0.95),
        ],
        "query_id string, candidate_id string, score double, score2 double",
    )
    out = rank.adaptive_rerank(df, "score2", gap_threshold=0.05)
    rows = {(r["query_id"], r["candidate_id"]): r for r in out.collect()}
    assert not rows[("q1", "a")]["used_rerank"]
    assert rows[("q1", "a")]["final_score"] == 0.9
    assert rows[("q2", "a")]["used_rerank"]
    assert rows[("q2", "a")]["final_score"] == pytest.approx(0.2)
    assert rows[("q2", "b")]["final_score"] == pytest.approx(0.95)


def test_topk_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("q", "b", 1.0), ("q", "a", 1.0), ("q", "c", 0.5)],
        "query_id string, candidate_id string, score double",
    )
    out = rank.topk(df, 2).orderBy("rank").collect()
    assert [r["candidate_id"] for r in out] == ["a", "b"]


def test_create_table_ddl_and_quality_alerts(spark, tmp_path):
    from company_name_matching_spark.plans import quality
    from company_name_matching_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "catddl"))
    s = cat.create_table(spark, "t", "id BIGINT, name STRING")
    assert s == 0
    df = cat.read(spark, "t")
    assert df.count() == 0 and df.columns == ["id", "name"]
    # idempotent: second create is a no-op, table content untouched
    assert cat.create_table(spark, "t", "other STRING") is None
    assert cat.read(spark, "t").columns == ["id", "name"]

    matches = spark.createDataFrame(
        [(0.95, True), (0.91, True), (0.40, False), (0.80, True)],
        "score double, is_match boolean",
    )
    m = quality.match_quality_metrics(matches)
    assert m["n_pairs"] == 4 and abs(m["high_confidence_rate"] - 0.5) < 1e-9
    assert quality.check_quality_alerts(m, {"avg_score": 0.5}) == []
    alerts = quality.check_quality_alerts(
        m, {"avg_score": 0.9, "high_confidence_rate": 0.7}
    )
    assert len(alerts) == 2 and all(a.startswith("ALERT") for a in alerts)


def test_catalog_append_is_o_new_data(spark, tmp_path):
    """Iceberg-shaped append contract: committing new rows writes ONLY new
    data files — every pre-existing parquet file is byte-identical after the
    append (the round-1 version rewrote the whole table per append)."""
    import os

    from company_name_matching_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "cat2"))
    big = spark.range(0, 1000).withColumnRenamed("id", "k")
    cat.write("t", big)
    before = {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in (tmp_path / "cat2" / "t").rglob("*.parquet")
    }
    assert before
    small = spark.range(1000, 1010).withColumnRenamed("id", "k")
    s1 = cat.write("t", small, mode="append")
    for path, sig in before.items():
        st = os.stat(path)
        assert (st.st_size, st.st_mtime_ns) == sig, f"rewritten: {path}"
    assert cat.read(spark, "t").count() == 1010
    assert cat.read(spark, "t", snapshot=s1 - 1).count() == 1000  # time travel
    # merge-insert is O(new) too: only missing keys land in a new dir
    upd = spark.range(1005, 1020).withColumnRenamed("id", "k")
    cat.merge_insert_missing(spark, "t", upd, "k")
    for path, sig in before.items():
        st = os.stat(path)
        assert (st.st_size, st.st_mtime_ns) == sig
    assert cat.read(spark, "t").count() == 1020


def test_catalog_lifecycle(spark, tmp_path):
    from company_name_matching_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "cat"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    s0 = cat.write("t", df1)
    assert cat.read(spark, "t").count() == 2

    # merge: insert only missing keys
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    cat.merge_insert_missing(spark, "t", upd, "id")
    got = {r["id"]: r["v"] for r in cat.read(spark, "t").collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # id 2 NOT overwritten

    # time travel to the first snapshot
    assert cat.read(spark, "t", snapshot=s0).count() == 2

    # compact + expire
    cat.compact(spark, "t", target_partitions=1, sort_by=["id"])
    dropped = cat.expire_snapshots("t", keep_last=1)
    assert len(dropped) >= 2
    assert cat.read(spark, "t").count() == 3
    with pytest.raises(Exception):
        cat.read(spark, "t", snapshot=s0).count()


def test_catalog_partitioned_append_inherits_spec(spark, tmp_path):
    """Appends to a partitioned table must reuse the table's partition spec
    (ADVICE r2): mixed hive-partitioned + flat data dirs under one snapshot
    break partition-column discovery on read."""
    from company_name_matching_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "catp"))
    df1 = spark.createDataFrame(
        [(1, "x", "a"), (2, "y", "b")], "id long, v string, part string"
    )
    cat.write("t", df1, partition_by=["part"])
    # plain append (no spec given) inherits hive partitioning
    df2 = spark.createDataFrame([(3, "z", "a")], "id long, v string, part string")
    cat.write("t", df2, mode="append")
    got = cat.read(spark, "t")
    assert set(got.columns) == {"id", "v", "part"}
    assert got.count() == 3
    assert got.where("part = 'a'").count() == 2
    # merge-insert inherits too
    upd = spark.createDataFrame(
        [(3, "dup", "a"), (4, "w", "c")], "id long, v string, part string"
    )
    cat.merge_insert_missing(spark, "t", upd, "id")
    got = cat.read(spark, "t")
    assert got.count() == 4 and got.where("part = 'c'").count() == 1
    # the new data dirs really are hive-partitioned on disk
    dirs = sorted(p.name for p in (tmp_path / "catp" / "t").glob("data-*"))
    assert len(dirs) == 3
    for d in dirs:
        assert list((tmp_path / "catp" / "t" / d).glob("part=*")), d
    # an explicit conflicting spec is rejected
    with pytest.raises(ValueError):
        cat.write("t", df2, mode="append", partition_by=["v"])
    with pytest.raises(ValueError):
        cat.write("t", df2, mode="append", partition_by=[])


def test_search_window_counts_expanded_entries(spark):
    """matcher.py:615-625 parity (ADVICE r2): the scanned/returned list is
    truncated at top_k EXPANDED entries — each near-duplicate original counts
    toward top_k. A rank-1 group of 2 duplicates at k=2 fills the whole list,
    so NO second group may appear (the r2 representative-count window
    returned k groups regardless of their expanded sizes)."""
    corpus = spark.createDataFrame(
        [
            ("A1", "CÔNG TY TNHH XUẤT NHẬP KHẨU SAO MAI"),
            ("A2", "CÔNG TY TNHH XNK SAO MAI"),
            ("B1", "CÔNG TY TNHH SAO MAI XANH"),
        ],
        "company_id string, name string",
    )
    queries = spark.createDataFrame(
        [("Q1", "cong ty tnhh sao mai")], "query_id string, query_text string"
    )
    rows = search_topk(corpus, queries, SearchConfig(k=2)).collect()
    got = {r["company_id"] for r in rows}
    assert got == {"A1", "A2"}, got
    assert all(r["rank"] == 1 for r in rows)
    # at k=3 the cumulative bound admits the second group again
    rows3 = search_topk(corpus, queries, SearchConfig(k=3)).collect()
    assert {r["company_id"] for r in rows3} == {"A1", "A2", "B1"}


def test_search_hybrid_bm25_top1(spark, corpus_queries):
    """The reference's published headline config — 'tfidf-bm25' hybrid,
    0.5·cos + 0.5·max-normalized BM25 (matcher.py:60,366-376) — must hold
    the same Top-1 floor as the fused default on the labeled queries."""
    corpus, queries = corpus_queries
    res = search_topk(corpus, queries, SearchConfig(k=3, model="hybrid_bm25"))
    top1 = res.where(F.col("rank") == 1).select("query_id", "company_id")
    hits = (
        queries.join(
            top1.withColumnRenamed("company_id", "got"), "query_id", "left"
        )
        .groupBy("query_id", "target_id")
        .agg(F.max(F.when(F.col("got") == F.col("target_id"), 1).otherwise(0)).alias("hit"))
    )
    acc = hits.agg(F.avg("hit").alias("acc")).collect()[0]["acc"]
    assert acc >= 0.99, f"hybrid top-1 accuracy {acc:.4f}"
    # scores stay in [0,1] under the hybrid formula
    bad = res.where((F.col("score") < 0) | (F.col("score") > 1.0)).count()
    assert bad == 0


def test_search_hybrid_bm25_score_is_the_blend(spark):
    """Each hybrid_bm25 score is 0.5·cos_sim + 0.5·bm25/max, recomputed here
    from scoring.score_pairs' cos_sim and from bm25_pair_scores /
    bm25_query_max over the same normalized tables (matcher.py:60,366-376)."""
    import dataclasses

    from company_name_matching_spark.operators import bm25, normalize, scoring

    corpus = spark.createDataFrame(
        [
            ("A", "CÔNG TY TNHH SAO MAI"),
            ("B", "CÔNG TY CỔ PHẦN SAO VIỆT"),
            ("C", "CÔNG TY TNHH MAI LINH"),
            ("D", "CÔNG TY TNHH BÌNH MINH"),
            # unrelated names keep df(sao), df(mai) < N/2: positive idf
            ("E", "CÔNG TY TNHH HOÀNG LONG"),
            ("F", "CÔNG TY TNHH THIÊN PHÚ"),
            ("G", "CÔNG TY TNHH ĐẠI DƯƠNG"),
        ],
        "company_id string, name string",
    )
    queries = spark.createDataFrame(
        [("Q1", "sao mai xanh")], "query_id string, query_text string"
    )
    res = search_topk(corpus, queries, SearchConfig(k=7, model="hybrid_bm25"))
    got = {r["company_id"]: r["score"] for r in res.collect()}

    c = normalize.normalize_mentions(corpus, "company_id", "name", id_domain="c:")
    q = normalize.normalize_mentions(queries, "query_id", "query_text",
                                     id_domain="q:")
    assert not any(r["has_repeat"] for r in c.collect())  # no ×0.85 penalty
    cand = q.select(F.col("record_id").alias("left_id")).crossJoin(
        c.select(F.col("record_id").alias("right_id"))
    )
    cfg = dataclasses.replace(scoring.ScoringConfig(), repeat_penalty=1.0)
    scored = scoring.score_pairs(
        c.unionByName(q), cand, scoring.build_idf(c, n=cfg.ngram), cfg
    )
    fused = {r["right_id"]: (r["score"], r["cos_sim"]) for r in scored.collect()}
    bm = {r["right_id"]: r["bm25"]
          for r in bm25.bm25_pair_scores(c, q, cand).collect()}
    (bmax,) = [r["bm25_max"] for r in bm25.bm25_query_max(c, q).collect()]
    assert bmax > 0
    cid = {r["source_id"]: r["record_id"] for r in c.collect()}

    assert got and set(got) <= set(cid)
    fuzzy = 0
    for company, score in got.items():
        fused_score, cos = fused[cid[company]]
        if fused_score >= 1.0:
            want = fused_score
        else:
            fuzzy += 1
            want = 0.5 * cos + 0.5 * (bm.get(cid[company], 0.0) / bmax)
        assert abs(score - want) <= 1e-6, (company, score, want)
    assert fuzzy == len(got)  # the query matches no corpus key exactly


def test_search_hybrid_lsa_top1(spark, corpus_queries):
    """The reference's LSA vectorizer option as a dense search channel:
    0.5·tfidf-cos + 0.5·LSA-space cosine (operators/lsa.py fit on the
    corpus) must hold the same Top-1 floor as the fused default."""
    corpus, queries = corpus_queries
    res = search_topk(corpus, queries, SearchConfig(k=3, model="hybrid_lsa"))
    top1 = res.where(F.col("rank") == 1).select("query_id", "company_id")
    hits = (
        queries.join(
            top1.withColumnRenamed("company_id", "got"), "query_id", "left"
        )
        .groupBy("query_id", "target_id")
        .agg(F.max(F.when(F.col("got") == F.col("target_id"), 1).otherwise(0)).alias("hit"))
    )
    acc = hits.agg(F.avg("hit").alias("acc")).collect()[0]["acc"]
    assert acc >= 0.99, f"hybrid_lsa top-1 accuracy {acc:.4f}"
    bad = res.where((F.col("score") < 0) | (F.col("score") > 1.0 + 1e-9)).count()
    assert bad == 0


def test_search_cross_rerank_top1(spark, corpus_queries):
    """The reference's cross-encoder rerank shape: lexical fused score
    shortlists, the joint pair scorer (V11 seam, sigmoid-calibrated)
    refines fuzzy candidates. Top-1 floor must hold with the deterministic
    stand-in scorer."""
    corpus, queries = corpus_queries
    res = search_topk(corpus, queries, SearchConfig(k=3, model="cross_rerank"))
    top1 = res.where(F.col("rank") == 1).select("query_id", "company_id")
    hits = (
        queries.join(
            top1.withColumnRenamed("company_id", "got"), "query_id", "left"
        )
        .groupBy("query_id", "target_id")
        .agg(F.max(F.when(F.col("got") == F.col("target_id"), 1).otherwise(0)).alias("hit"))
    )
    acc = hits.agg(F.avg("hit").alias("acc")).collect()[0]["acc"]
    assert acc >= 0.99, f"cross_rerank top-1 accuracy {acc:.4f}"
    bad = res.where((F.col("score") < 0) | (F.col("score") > 1.0 + 1e-9)).count()
    assert bad == 0


def test_search_unknown_model_raises(spark):
    """A typo'd model name must fail loudly (ADVICE r4), not silently run
    the default fused scoring."""
    corpus = spark.createDataFrame(
        [("A", "CÔNG TY TNHH SAO MAI")], "company_id string, name string"
    )
    queries = spark.createDataFrame(
        [("Q1", "sao mai")], "query_id string, query_text string"
    )
    with pytest.raises(ValueError, match="hybrid-bm25"):
        search_topk(corpus, queries, SearchConfig(model="hybrid-bm25"))


def test_bm25_query_max_is_corpus_wide(spark):
    """bm25_query_max (the reference's matcher.py:371-373 normalizer) must
    equal the max of bm25_pair_scores over the FULL query×corpus cross —
    including docs a blocked candidate list would exclude."""
    from company_name_matching_spark.operators import bm25

    corpus = spark.createDataFrame(
        [
            (1, ["sao", "mai", "xnk"]),
            (2, ["sao", "mai"]),
            (3, ["xnk", "xnk", "toan", "cau"]),  # dup term: qtf/tf multiplicity
            (4, ["binh", "minh"]),
            (5, ["an", "phat"]),  # keeps df("xnk")=2 < N/2 → positive idf
        ],
        "record_id bigint, tokens array<string>",
    )
    queries = spark.createDataFrame(
        [(10, ["sao", "mai"]), (11, ["xnk", "xnk"]), (12, ["khong", "co"])],
        "record_id bigint, tokens array<string>",
    )
    cross = queries.select(F.col("record_id").alias("left_id")).crossJoin(
        corpus.select(F.col("record_id").alias("right_id"))
    )
    full = bm25.bm25_pair_scores(corpus, queries, cross)
    expected = {
        r["left_id"]: r["m"]
        for r in full.groupBy("left_id").agg(F.max("bm25").alias("m")).collect()
    }
    got = {r["left_id"]: r["bm25_max"] for r in bm25.bm25_query_max(corpus, queries).collect()}
    assert got == expected and len(got) == 2  # query 12 matches nothing
    # and the corpus max genuinely exceeds a candidate-restricted max when
    # the argmax doc is excluded from the candidate list
    restricted = bm25.bm25_pair_scores(
        corpus,
        queries,
        cross.where(~((F.col("left_id") == 11) & (F.col("right_id") == 3))),
    )
    r_max = {
        r["left_id"]: r["m"]
        for r in restricted.groupBy("left_id").agg(F.max("bm25").alias("m")).collect()
    }
    assert got[11] > r_max[11]


def test_catalog_partitioned_read_pins_written_schema(spark, tmp_path):
    """Partition-column types must come from the write-time schema, not
    per-root inference (ADVICE r4): a string partition value like '01' in
    one append and '1a' in another would infer int vs string per root and
    break (or silently widen) the union."""
    from company_name_matching_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "catsp"))
    df1 = spark.createDataFrame([(1, "01")], "id long, part string")
    cat.write("t", df1, partition_by=["part"])
    df2 = spark.createDataFrame([(2, "1a")], "id long, part string")
    cat.write("t", df2, mode="append")
    got = cat.read(spark, "t")
    assert dict(got.dtypes)["part"] == "string"
    assert {(r["id"], r["part"]) for r in got.collect()} == {(1, "01"), (2, "1a")}
    # time travel to the first snapshot keeps the written type too
    first = cat.read(spark, "t", snapshot=0)
    assert dict(first.dtypes)["part"] == "string"
    assert first.collect()[0]["part"] == "01"


def test_catalog_append_schema_mismatch_raises(spark, tmp_path):
    """read() pins the manifest schema over every root, so a drifting
    append would surface as SILENT null-fill/column loss — write() must
    reject it loudly instead (r4 review)."""
    from company_name_matching_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "catsch"))
    cat.write("t", spark.createDataFrame([(1, "a", "p")],
                                         "id long, v string, part string"),
              partition_by=["part"])
    # missing column
    with pytest.raises(ValueError, match="append schema"):
        cat.write("t", spark.createDataFrame([(2, "p")], "id long, part string"),
                  mode="append")
    # changed type
    with pytest.raises(ValueError, match="append schema"):
        cat.write("t", spark.createDataFrame([("2", "b", "p")],
                                             "id string, v string, part string"),
                  mode="append")
    # same names+types, different field order: fine (unionByName)
    cat.write("t", spark.createDataFrame([("b", 2, "q")],
                                         "v string, id long, part string"),
              mode="append")
    got = cat.read(spark, "t")
    assert got.count() == 2 and set(got.columns) == {"id", "v", "part"}


def test_catalog_legacy_append_checks_inferred_schema(spark, tmp_path):
    """First append to a pre-schema_json (legacy) snapshot must infer the
    existing roots' schema and run the SAME names+types gate — otherwise a
    drifting legacy append commits the appender's schema as authoritative
    and read() pins it, silently null-filling the old roots (ADVICE r5)."""
    import json

    from company_name_matching_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "catleg"))
    cat.write("t", spark.createDataFrame([(1, "a")], "id long, v string"))
    # simulate a pre-r4 manifest: drop the persisted schema
    meta_path = tmp_path / "catleg" / "t" / "_meta.json"
    meta = json.loads(meta_path.read_text())
    for s in meta["snapshots"]:
        s.pop("schema_json", None)
    meta_path.write_text(json.dumps(meta))
    # drifting append (changed type) must fail loudly, not null-fill
    with pytest.raises(ValueError, match="append schema"):
        cat.write("t", spark.createDataFrame([("2", "b")],
                                             "id string, v string"),
                  mode="append")
    # equivalent append passes, and the committed schema is the TABLE's
    cat.write("t", spark.createDataFrame([(2, "b")], "id long, v string"),
              mode="append")
    got = cat.read(spark, "t")
    assert got.count() == 2
    assert [f.dataType.simpleString() for f in got.schema.fields
            if f.name == "id"] == ["bigint"]


def test_hybrid_dense_dim_mismatch_raises(spark):
    """An encoder whose output width differs from dense_dim would null-pad
    against the hyperplanes and silently collapse every record into one
    bucket per table (a full cross join at scale) — must raise instead."""
    def bad_factory():
        import numpy as np

        def enc(texts):
            out = np.ones((len(texts), 32), dtype=np.float32)
            return out / np.linalg.norm(out, axis=1, keepdims=True)

        return enc

    corpus = spark.createDataFrame(
        [("A", "CÔNG TY TNHH SAO MAI")], "company_id string, name string"
    )
    queries = spark.createDataFrame(
        [("Q1", "sao mai")], "query_id string, query_text string"
    )
    with pytest.raises(ValueError, match="32-d vectors"):
        search_topk(
            corpus, queries,
            SearchConfig(model="hybrid_dense", dense_dim=64,
                         dense_encoder_factory=bad_factory),
        )


def test_catalog_append_nullability_and_order_stability(spark, tmp_path):
    """(r4 review) A parquet round-trip flips containsNull on array
    columns — such appends must pass the schema check; and an accepted
    field-order-differing append must NOT reorder read()'s columns (the
    table schema stays authoritative)."""
    from company_name_matching_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path / "catnul"))
    df = spark.createDataFrame([(1, "a b")], "id long, s string").selectExpr(
        "id", "split(s, ' ') AS toks"  # containsNull=false in-memory
    )
    cat.write("t", df)
    # round-trip through parquet: containsNull comes back true
    df.write.parquet(str(tmp_path / "rt"))
    back = spark.read.parquet(str(tmp_path / "rt"))
    cat.write("t", back, mode="append")  # must NOT raise
    assert cat.read(spark, "t").count() == 2
    # order-differing append keeps the ORIGINAL column order on read
    cat2 = ParquetCatalog(str(tmp_path / "catord"))
    cat2.write("o", spark.createDataFrame([(1, "x")], "id long, v string"))
    cat2.write("o", spark.createDataFrame([("y", 2)], "v string, id long"),
               mode="append")
    assert cat2.read(spark, "o").columns == ["id", "v"]


def test_hybrid_dense_default_encoder_tracks_dense_dim(spark):
    """(r4 review) hybrid_dense with a non-default dense_dim and NO custom
    factory must work: the default stand-in is built at cfg.dense_dim."""
    corpus = spark.createDataFrame(
        [("A", "CÔNG TY TNHH SAO MAI"), ("B", "CÔNG TY TNHH BINH MINH")],
        "company_id string, name string",
    )
    queries = spark.createDataFrame(
        [("Q1", "sao mai")], "query_id string, query_text string"
    )
    res = search_topk(
        corpus, queries, SearchConfig(k=1, model="hybrid_dense", dense_dim=32)
    )
    rows = res.collect()
    assert rows and rows[0]["company_id"] == "A"
