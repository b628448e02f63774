"""End-to-end acceptance: pairwise F1 ≥ 0.99 on labeled combinatorial pairs
at the same blocking key (BASELINE.json north_rule), plus checkpoint/resume.
"""

import json

from pyspark.sql import functions as F

from company_name_matching_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from company_name_matching_spark.sources import fixtures, store


def _f1(matches, ids, pred_col):
    sc = (
        matches.join(
            ids.withColumnRenamed("record_id", "left_id").withColumnRenamed(
                "entity_id", "l_ent"
            ),
            "left_id",
        ).join(
            ids.withColumnRenamed("record_id", "right_id").withColumnRenamed(
                "entity_id", "r_ent"
            ),
            "right_id",
        )
    ).withColumn("truth", F.col("l_ent") == F.col("r_ent"))
    agg = sc.agg(
        F.sum(F.when(F.col(pred_col) & F.col("truth"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col(pred_col) & ~F.col("truth"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col(pred_col) & F.col("truth"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return (2 * p * r / (p + r) if p + r else 0.0), tp, fp, fn


def test_pipeline_pairwise_f1(spark):
    pages = fixtures.pages_dataframe(spark, n_companies=120, per_company=5)
    res = run_pipeline(spark, pages)
    ids = (
        res.names.select("record_id", "url")
        .join(pages.select("url", "entity_id"), "url")
        .select("record_id", "entity_id")
    )
    f1, tp, fp, fn = _f1(res.matches, ids, "is_match")
    assert f1 >= 0.99, f"pair-level F1={f1:.4f} (tp={tp} fp={fp} fn={fn})"

    # cluster-level pairwise F1 over the same candidate universe
    lab = res.clusters.join(ids, "record_id")
    pred = (
        res.matches.select("left_id", "right_id")
        .join(
            lab.withColumnRenamed("record_id", "left_id")
            .withColumnRenamed("cluster_id", "l_cl"),
            "left_id",
        )
        .join(
            lab.withColumnRenamed("record_id", "right_id")
            .withColumnRenamed("cluster_id", "r_cl"),
            "right_id",
        )
        .withColumn("same_cluster", F.col("l_cl") == F.col("r_cl"))
        .select("left_id", "right_id", "same_cluster")
    )
    f1c, tp, fp, fn = _f1(pred, ids, "same_cluster")
    assert f1c >= 0.99, f"cluster-level F1={f1c:.4f} (tp={tp} fp={fp} fn={fn})"

    # every record is labeled exactly once
    assert res.clusters.count() == res.names.count()
    assert res.clusters.groupBy("record_id").count().where("count > 1").count() == 0


def test_sibling_legal_forms_stay_separate(spark):
    """TNHH vs CP of the same brand must land in different clusters
    (entity-type discrimination, matcher.py:640-657)."""
    import datetime as dt

    rows = []
    for i, t in enumerate(
        ["CÔNG TY TNHH SƠN HÀ", "cong ty tnhh son ha", "CÔNG TY CỔ PHẦN SƠN HÀ",
         "ctcp son ha"]
    ):
        rows.append((f"u{i}", dt.datetime(2026, 1, 1), fixtures.render_html(t),
                     t, "vi", "x", "k"))
    pages = spark.createDataFrame(rows, fixtures.PAGES_SCHEMA)
    res = run_pipeline(spark, pages)
    got = {r["url"]: r["cluster_id"] for r in
           res.clusters.join(res.names, "record_id").select("url", "cluster_id").collect()}
    assert got["u0"] == got["u1"]
    assert got["u2"] == got["u3"]
    assert got["u0"] != got["u2"]


def test_checkpoint_resume(spark, tmp_path):
    pages = fixtures.pages_dataframe(spark, n_companies=30, per_company=3)
    ck = str(tmp_path / "ck")
    # the distributed CC path, so the cluster stage runs > 0 rounds
    cfg = PipelineConfig(cc_driver_edge_threshold=0)
    res1 = run_pipeline(spark, pages, checkpoint_dir=ck, cfg=cfg)
    assert all(not m["resumed"] for m in res1.metrics)
    assert res1.cc_rounds > 0
    # markers + metrics written
    assert (tmp_path / "ck" / "normalize" / "_COMPLETE.json").exists()
    meta = json.loads((tmp_path / "ck" / "score" / "_COMPLETE.json").read_text())
    assert meta["rows"] > 0 and meta["elapsed_s"] > 0

    # resume: all stages restored, results identical; the bookkeeping and
    # each stage's schema come from the parquet footers on the driver, so
    # the resumed run launches no job at all
    sc = spark.sparkContext
    group = "test-checkpoint-resume"
    sc.setJobGroup(group, group)
    try:
        res2 = run_pipeline(spark, pages, checkpoint_dir=ck, cfg=cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert all(m["resumed"] for m in res2.metrics)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 0, sorted(jobs)
    # the round count comes back from the cluster stage's marker
    assert res2.cc_rounds == res1.cc_rounds
    assert (
        res1.clusters.exceptAll(res2.clusters).count() == 0
        and res2.clusters.exceptAll(res1.clusters).count() == 0
    )

    # a barrier's read-back takes the written frame's schema: the write is
    # its only job, and the schema equals the one Spark infers from the files
    probe = "test-materialize-readback"
    sc.setJobGroup(probe, probe)
    try:
        back = store.materialize(
            spark.range(10).withColumn("x", F.lit("a")), "probe"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(probe)) == 1
    written = back.inputFiles()[0].rsplit("/", 1)[0]
    assert back.schema == spark.read.parquet(written).schema

    # partial resume: delete the last stage marker → only it recomputes
    (tmp_path / "ck" / "cluster" / "_COMPLETE.json").unlink()
    res3 = run_pipeline(spark, pages, checkpoint_dir=ck, cfg=cfg)
    by_stage = {m["stage"]: m["resumed"] for m in res3.metrics}
    assert by_stage["normalize"] and by_stage["pairs"] and by_stage["score"]
    assert not by_stage["cluster"]
    assert res3.cc_rounds == res1.cc_rounds

    # metrics table accumulated rows for all runs, with per-file lineage
    metrics = spark.read.parquet(str(tmp_path / "ck" / "metrics"))
    assert metrics.count() >= 12
    first = json.loads(
        metrics.where(~F.col("resumed")).select("partitions_json").first()[0]
    )
    assert isinstance(first, list)


# Edge partitions a 100-TB run WILL hit: empty input, a single record, an
# all-identical corpus, one hot key whose every block weighs more than
# max_block_size=200 (blocking drops them all, so there are no pairs, and
# the exact-key contraction alone unites the records), and rows that fail
# every validation filter — name → (rows, want_clusters, want_matches).
DEGENERATE_CASES = {
    "empty": ([], 0, 0),
    "single": ([("u1", "CÔNG TY TNHH MỘT MÌNH")], 1, 0),
    "identical": (
        [(f"u{i}", "CÔNG TY TNHH GIỐNG NHAU") for i in range(5)], 1, 10
    ),
    "hot_block": (
        [(f"u{i}", "CÔNG TY TNHH NÓNG") for i in range(250)], 1, 0
    ),
    "all_invalid": ([("u1", ""), ("u2", "##$%"), ("u3", "ab")], 0, 0),
}

METRICS_SCHEMA = (
    "struct<run_id:string,stage:string,resumed:boolean,rows:bigint,"
    "elapsed_s:double,rows_per_s:double,partitions_json:string,ts:timestamp>"
)


def _degenerate_pages(spark, rows):
    import datetime as dt

    data = [
        (u, dt.datetime(2026, 1, 1), fixtures.render_html(t), t, "vi", "x", "k")
        for u, t in rows
    ]
    return spark.createDataFrame(data, fixtures.PAGES_SCHEMA)


def _check_counts(name, res, want_clusters, want_matches):
    got_c = res.clusters.select("cluster_id").distinct().count()
    got_m = res.matches.count()
    assert (got_c, got_m) == (want_clusters, want_matches), (
        f"{name}: got clusters={got_c} matches={got_m}"
    )


def _check_bookkeeping(res):
    """Every stage's recorded rows equal its output's count(), and its
    per-file lineage entries sum to them."""
    outputs = {"normalize": res.names, "pairs": res.pairs,
               "score": res.matches, "cluster": res.clusters}
    assert [m["stage"] for m in res.metrics] == list(outputs)
    for m in res.metrics:
        assert m["rows"] == outputs[m["stage"]].count(), m
        parts = m["partitions"]
        assert [p["partition_id"] for p in parts] == list(range(len(parts)))
        assert sum(p["rows"] for p in parts) == m["rows"], m


def test_pipeline_degenerate_inputs(spark):
    """Each degenerate input flows through normalize→block→score→cluster
    without error, with the a-priori-correct cluster/match counts."""
    for name, (rows, want_clusters, want_matches) in DEGENERATE_CASES.items():
        res = run_pipeline(spark, _degenerate_pages(spark, rows))
        _check_counts(name, res, want_clusters, want_matches)
        _check_bookkeeping(res)


def test_pipeline_degenerate_inputs_checkpoint_resume(spark, tmp_path):
    """The degenerate inputs through checkpoints, computed then resumed:
    recorded rows match count() either way, ``pairs`` lists one lineage
    entry per part file on disk, and the metrics table keeps its schema."""
    for name, (rows, want_clusters, want_matches) in DEGENERATE_CASES.items():
        pages = _degenerate_pages(spark, rows)
        ck = tmp_path / name
        for resumed in (False, True):
            res = run_pipeline(spark, pages, checkpoint_dir=str(ck))
            assert all(m["resumed"] == resumed for m in res.metrics), name
            _check_counts(name, res, want_clusters, want_matches)
            _check_bookkeeping(res)
            pairs = next(m for m in res.metrics if m["stage"] == "pairs")
            files = list((ck / "pairs" / "data").glob("part-*.parquet"))
            assert len(pairs["partitions"]) == len(files) > 0, name
        metrics = spark.read.parquet(str(ck / "metrics"))
        assert metrics.schema.simpleString() == METRICS_SCHEMA
        got = sorted((r.stage, r.resumed, r.rows) for r in metrics.collect())
        want = sorted((m["stage"], resumed, m["rows"])
                      for m in res.metrics for resumed in (False, True))
        assert got == want, name


def test_pipeline_pivot_method_and_golden(spark):
    """cluster_method='pivot' + emit_golden: labels well-formed (one label
    per record, exact-duplicate groups never split, every cluster id is a
    member of its own cluster), and the golden table is one canonical row
    per cluster whose member counts sum to the corpus."""
    from company_name_matching_spark.plans.pipeline import (
        PipelineConfig, run_pipeline,
    )

    pages = fixtures.pages_dataframe(spark, n_companies=40, per_company=4)
    cfg = PipelineConfig(cluster_method="pivot", emit_golden=True)
    res = run_pipeline(spark, pages, cfg=cfg)
    rows = res.clusters.collect()
    n_pages = pages.count()
    assert len(rows) == n_pages
    assert len({r.record_id for r in rows}) == n_pages
    by_c = {}
    for r in rows:
        by_c.setdefault(r.cluster_id, set()).add(r.record_id)
    # every cluster id labels itself (a real pivot / self-cluster)
    for cid, members in by_c.items():
        assert cid in members
    # exact-duplicate groups co-cluster
    mk = {r.record_id: r.match_key
          for r in res.names.select("record_id", "match_key").collect()}
    lab = {r.record_id: r.cluster_id for r in rows}
    from collections import defaultdict
    groups = defaultdict(set)
    for rid, k in mk.items():
        groups[k].add(lab[rid])
    assert all(len(v) == 1 for v in groups.values())
    # golden: one row per cluster, membership accounted exactly
    g = res.golden.collect()
    assert len(g) == len(by_c)
    assert sum(r.n_records for r in g) == n_pages
    assert all(r.canonical_name for r in g)


def test_pipeline_pivot_honours_driver_gate(spark, monkeypatch):
    """cc_driver_edge_threshold=0 sends pivot down the distributed path,
    with the labels and round count of the driver replay."""
    from company_name_matching_spark.operators import clustering, scoring

    # typo pages at a 0.8 threshold give fuzzy edges between match keys
    pages = fixtures.pages_dataframe(
        spark, n_companies=30, per_company=3, typos_per_company=2
    )
    loose = scoring.ScoringConfig(threshold=0.8)

    def labels(res):
        return sorted((r.record_id, r.cluster_id) for r in res.clusters.collect())

    driver = run_pipeline(
        spark, pages, cfg=PipelineConfig(cluster_method="pivot", scoring=loose)
    )
    want = labels(driver)

    def no_replay(*args, **kwargs):
        raise AssertionError("the driver pivot replay ran")

    monkeypatch.setattr(clustering, "_driver_pivot_rounds", no_replay)
    res = run_pipeline(
        spark, pages,
        cfg=PipelineConfig(cluster_method="pivot", scoring=loose,
                           cc_driver_edge_threshold=0),
    )
    assert res.cc_rounds == driver.cc_rounds > 0
    assert labels(res) == want


def test_pipeline_rejects_unknown_cluster_method(spark, tmp_path):
    """The config is rejected before any stage runs or checkpoints."""
    import pytest as _pytest

    pages = fixtures.pages_dataframe(spark, n_companies=5, per_company=2)
    ck = tmp_path / "ck"
    with _pytest.raises(ValueError, match="cluster_method"):
        run_pipeline(spark, pages, checkpoint_dir=str(ck),
                     cfg=PipelineConfig(cluster_method="x"))
    assert not ck.exists()
