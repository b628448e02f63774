"""Pivot clustering, survivorship, and cluster-stats operators
(clustering.pivot_clusters / golden_records / cluster_stats)."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from company_name_matching_spark.operators import clustering


def _pivot_reference(edge_list):
    """Round-based python simulation of the parallel pivot algorithm with
    md5(str(node)) ranks — the executable spec the Spark operator must
    match node-for-node."""
    adj: dict = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rank = {n: hashlib.md5(str(n).encode()).hexdigest() for n in adj}
    active = set(adj)
    labels: dict = {}
    while active:
        piv = {
            n for n in active
            if all(rank[n] < rank[m] for m in adj[n] if m in active)
        }
        newly = set(piv)
        for p in piv:
            labels[p] = p
        for n in active - piv:
            cands = [m for m in adj[n] if m in piv]
            if cands:
                labels[n] = min(cands, key=lambda m: rank[m])
                newly.add(n)
        active -= newly
    return labels


def _run_pivot(spark, edge_list, max_rounds=12, driver_edge_threshold=1_000_000):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels, rounds = clustering.pivot_clusters(
        edges, max_rounds=max_rounds,
        driver_edge_threshold=driver_edge_threshold,
    )
    got = {r["record_id"]: r["cluster_id"] for r in labels.collect()}
    return got, rounds


def test_pivot_matches_reference_on_random_graphs(spark):
    """BOTH execution strategies — the size-gated driver replay (default at
    these sizes) and the distributed round iteration (gate disabled) — must
    match the executable spec node-for-node, and each other; the empty
    edge set labels nothing on both."""
    graphs = {"empty": []}
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        n = 60
        graphs[f"seed {seed}"] = sorted({
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(120)
        })
    for name, edge_list in graphs.items():
        want = _pivot_reference(edge_list)
        got_driver, _ = _run_pivot(spark, edge_list)
        assert got_driver == want, f"driver path, {name}"
        got_dist, _ = _run_pivot(spark, edge_list, driver_edge_threshold=0)
        assert got_dist == want, f"distributed path, {name}"


def test_pivot_clusters_are_stars(spark):
    """Semantic guarantee vs CC: every member is a DIRECT neighbor of its
    pivot (diameter <= 2) — chain over-merge is structurally impossible."""
    rng = random.Random(3)
    n = 80
    edge_list = sorted({
        tuple(sorted(rng.sample(range(n), 2))) for _ in range(150)
    })
    got, _ = _run_pivot(spark, edge_list)
    adj = set(edge_list) | {(b, a) for a, b in edge_list}
    for node, c in got.items():
        assert node == c or (node, c) in adj
    # every node of the graph got exactly one label
    nodes = {a for e in edge_list for a in e}
    assert set(got) == nodes
    # every cluster id is itself a node labeled to itself (a real pivot)
    for c in set(got.values()):
        assert got[c] == c


def test_pivot_splits_chain_cc_would_merge(spark):
    """A path graph is ONE component for CC but pivot splits it into
    stars; with these md5 ranks the 6-chain yields >1 cluster."""
    chain = [(i, i + 1) for i in range(6)]
    got, _ = _run_pivot(spark, chain)
    want = _pivot_reference(chain)
    assert got == want
    assert len(set(want.values())) > 1


def test_pivot_raises_when_not_drained(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(Exception, match="not drained"):
        clustering.pivot_clusters(edges, max_rounds=0)
    with pytest.raises(Exception, match="not drained"):
        clustering.pivot_clusters(edges, max_rounds=0, driver_edge_threshold=0)


def test_golden_records_survivorship_rules(spark):
    labels = spark.createDataFrame(
        [(i, 1) for i in range(1, 6)] + [(10, 2)],
        "record_id long, cluster_id long",
    )
    names = spark.createDataFrame(
        [
            (1, "acme co"),      # freq 2 -> wins cluster 1
            (2, "acme co"),
            (3, "acme company"),  # freq 1, longer — loses on frequency
            (4, "bcme co"),       # freq 1
            (5, "acme"),          # freq 1
            (10, "solo ltd"),
        ],
        "record_id long, name string",
    )
    out = {
        r["cluster_id"]: r
        for r in clustering.golden_records(labels, names).collect()
    }
    assert out[1]["canonical_name"] == "acme co"
    assert out[1]["n_records"] == 5
    assert out[1]["n_distinct_names"] == 4
    assert out[2]["canonical_name"] == "solo ltd"
    assert out[2]["n_records"] == 1


def test_golden_records_tiebreaks(spark):
    # all frequency 1: longest wins; equal length: lexicographic smallest
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "record_id long, cluster_id long"
    )
    names = spark.createDataFrame(
        [(1, "bb cc"), (2, "aa cc"), (3, "dd")],
        "record_id long, name string",
    )
    row = clustering.golden_records(labels, names).collect()[0]
    assert row["canonical_name"] == "aa cc"  # len 5 beats 2; 'aa cc' < 'bb cc'


def test_cluster_stats_density_and_cut_edges(spark):
    # cluster 1 = chain 1-2-3 (CC-style over-merge: density 2/3);
    # cluster 4 = singleton; edge (3,4) is a CUT edge -> excluded
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "record_id long, cluster_id long"
    )
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (3, 4, 0.95)],
        "src long, dst long, score double",
    )
    out = {
        r["cluster_id"]: r
        for r in clustering.cluster_stats(labels, edges, "score").collect()
    }
    assert out[1]["cluster_size"] == 3
    assert out[1]["n_intra_edges"] == 2
    assert out[1]["density"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[1]["min_edge_score"] == pytest.approx(0.8)
    assert out[1]["mean_edge_score"] == pytest.approx(0.85)
    assert out[4]["cluster_size"] == 1
    assert out[4]["n_intra_edges"] == 0
    assert out[4]["density"] == 1.0
    assert out[4]["min_edge_score"] is None


def test_cluster_stats_cc_labels_have_no_cut_edges(spark):
    """CC labels over the same edges: every edge is intra; a complete
    triangle has density 1.0."""
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0)],
        "src long, dst long, score double",
    )
    labels, _ = clustering.connected_components(
        edges.select("src", "dst"), driver_edge_threshold=0
    )
    out = clustering.cluster_stats(labels, edges, "score").collect()
    assert len(out) == 1
    assert out[0]["density"] == 1.0
    assert out[0]["n_intra_edges"] == 3


def _vmeasure_ref(pairs):
    """(pred, gold) rows -> (h, c, v) with the engine's exact arithmetic."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def r(x, nd):
        return float(Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))

    cells = Counter(pairs)
    np_ = Counter(p for p, _ in pairs)
    ng = Counter(g for _, g in pairs)
    n = len(pairs)
    s_ck = sum(Decimal(repr(r((c / n) * math.log(c / np_[p]), 9)))
               for (p, g), c in cells.items())
    s_kc = sum(Decimal(repr(r((c / n) * math.log(c / ng[g]), 9)))
               for (p, g), c in cells.items())
    s_c = sum(Decimal(repr(r((c / n) * math.log(c / n), 9)))
              for c in ng.values())
    s_k = sum(Decimal(repr(r((c / n) * math.log(c / n), 9)))
              for c in np_.values())
    h = 1.0 if s_c == 0 else r(1.0 - float(s_ck) / float(s_c), 6)
    c = 1.0 if s_k == 0 else r(1.0 - float(s_kc) / float(s_k), 6)
    v = 0.0 if h + c == 0.0 else r(2.0 * h * c / (h + c), 6)
    return h, c, v


def test_vmeasure_perfect_and_degenerate(spark):
    # perfect clustering -> 1/1/1
    a = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y")],
        "record_id long, pred string, gold string",
    )
    row = clustering.vmeasure(a, pred_col="pred", gold_col="gold").collect()[0]
    assert (row["homogeneity"], row["completeness"], row["v_measure"]) == (
        1.0, 1.0, 1.0)
    # everything in ONE cluster: completeness 1 (no class split),
    # homogeneity 0 (maximal mixing of two equal classes)
    b = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "a", "y"), (4, "a", "y")],
        "record_id long, pred string, gold string",
    )
    row = clustering.vmeasure(b, pred_col="pred", gold_col="gold").collect()[0]
    assert row["completeness"] == 1.0
    assert row["homogeneity"] == 0.0
    assert row["v_measure"] == 0.0


def test_vmeasure_matches_reference_on_random(spark):
    import random

    rng = random.Random(5)
    pairs = [(f"p{rng.randint(0, 7)}", f"g{rng.randint(0, 4)}")
             for _ in range(200)]
    a = spark.createDataFrame(
        [(i, p, g) for i, (p, g) in enumerate(pairs)],
        "record_id long, pred string, gold string",
    )
    row = clustering.vmeasure(a, pred_col="pred", gold_col="gold").collect()[0]
    h, c, v = _vmeasure_ref(pairs)
    assert (row["homogeneity"], row["completeness"], row["v_measure"]) == (h, c, v)
    # sanity vs the textbook values (tolerance: our 9dp-term convention)
    try:
        from sklearn.metrics import (completeness_score,
                                     homogeneity_score, v_measure_score)
    except ImportError:
        return
    preds = [p for p, _ in pairs]
    golds = [g for _, g in pairs]
    assert abs(row["homogeneity"] - homogeneity_score(golds, preds)) < 1e-5
    assert abs(row["completeness"] - completeness_score(golds, preds)) < 1e-5
    assert abs(row["v_measure"] - v_measure_score(golds, preds)) < 1e-5


def test_correlation_objective_hand_computed(spark):
    # triangle 1-2-3 plus pendant edge 3-4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    # CC labeling: one cluster of 4 -> no cut edges, 2 co-clustered
    # non-edges ((1,4),(2,4)) -> 2 disagreements
    cc = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1)], "record_id long, cluster_id long"
    )
    row = clustering.correlation_objective(cc, edges).collect()[0]
    assert (row["n_clusters"], row["n_edges"], row["n_intra_edges"],
            row["n_disagreements"]) == (1, 4, 4, 2)
    # split labeling: {1,2,3} + {4} -> one cut edge, zero non-edges -> 1
    sp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "record_id long, cluster_id long"
    )
    row = clustering.correlation_objective(sp, edges).collect()[0]
    assert (row["n_clusters"], row["n_edges"], row["n_intra_edges"],
            row["n_disagreements"]) == (2, 4, 3, 1)


def test_pivot_deterministic_under_repartition(spark):
    """Labels are a pure function of the graph (md5 ranks + min_by), so
    partitioning must not change a single assignment."""
    rng = __import__("random").Random(9)
    n = 70
    edge_list = sorted({
        tuple(sorted(rng.sample(range(n), 2))) for _ in range(140)
    })
    e1 = spark.createDataFrame(edge_list, "src long, dst long").repartition(1)
    e13 = spark.createDataFrame(edge_list, "src long, dst long").repartition(13)
    l1, r1 = clustering.pivot_clusters(e1)
    l13, r13 = clustering.pivot_clusters(e13)
    assert r1 == r13
    assert {(r.record_id, r.cluster_id) for r in l1.collect()} == \
           {(r.record_id, r.cluster_id) for r in l13.collect()}


def test_sparsify_edges_hub_cap_and_modes(spark):
    """A hub with 5 neighbors, k=2: mutual keeps only the hub's top-2
    (degree bound holds); union keeps all 5 (every leaf's own top-1)."""
    edges = spark.createDataFrame(
        [(0, i, 1.0 - i / 100) for i in range(1, 6)] + [(1, 2, 0.5)],
        "src long, dst long, score double",
    )
    mut = clustering.sparsify_edges(edges, "score", k=2, mode="mutual")
    kept = {(r.src, r.dst) for r in mut.collect()}
    # hub keeps only its two best; (1,2) survives (top-2 of BOTH leaves)
    assert kept == {(0, 1), (0, 2), (1, 2)}
    assert sum(1 for a, b in kept if 0 in (a, b)) == 2  # degree bound at k
    uni = clustering.sparsify_edges(edges, "score", k=2, mode="union")
    kept_u = {(r.src, r.dst) for r in uni.collect()}
    assert {(0, i) for i in range(1, 6)} <= kept_u
    # reversed-duplicate input rows must not double votes
    both_dirs = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                     "score")
    )
    mut2 = clustering.sparsify_edges(both_dirs, "score", k=2, mode="mutual")
    assert {(r.src, r.dst) for r in mut2.collect()} == kept
    with pytest.raises(ValueError, match="mode"):
        clustering.sparsify_edges(edges, "score", k=2, mode="x")
