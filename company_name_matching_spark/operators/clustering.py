"""Stage C — transitive clustering via alternating large-star / small-star.

Connected components over the match-edge graph (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14), expressed purely
as DataFrame joins/aggregations — no GraphX/RDD. Converges in
O(log² n) rounds; our clusters are tiny variant groups (diameter ≲ 3), so in
practice 2–4 rounds. Below a size gate the labels come from one driver
union-find pass instead (see :func:`connected_components` — at small edge
counts the per-round barrier latency IS the cluster stage).

The reference never materializes the match graph (its transitive-entity
notion is only exact norm-key grouping, ``matcher.py:242-263``); this stage
is the scale path that generalizes it to fuzzy edges.

Each round materializes the edge set to a parquet barrier
(:func:`company_name_matching_spark.sources.store.materialize`): truncates the join
lineage (plan growth is the classic iterative-Spark failure mode) and gives a
cheap convergence checksum.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) ∪ {u}).

    No intra-step dropDuplicates: duplicates are bounded (≤2× per round) and
    the per-round materialization dedups once — two fewer shuffles per round.
    """
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    mins = mins.withColumn("_m", F.least(F.col("_mn"), F.col("src"))).drop("_mn")
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low; connect each smaller neighbor (and the center)
    to the minimum neighbor."""
    o = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = o.groupBy("src").agg(F.min("dst").alias("_m"))
    j = o.join(mins, "src")
    neigh = j.select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    center = j.select("src", F.col("_m").alias("dst"))
    return neigh.union(center).where(F.col("src") != F.col("dst"))


def _union_find_labels(pairs) -> dict:
    """Driver-side union-find with union-by-min + full path compression.
    Roots are the component MINIMUM, so labels match the converged
    star-contraction exactly. ``pairs`` is an iterable of (src, dst)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # compress
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        lo, hi = (ra, rb) if ra < rb else (rb, ra)
        parent[hi] = lo
        parent.setdefault(lo, lo)
    return {x: find(x) for x in parent}


def _driver_labels(e: DataFrame, driver_edge_threshold: int, solve):
    """Size-gated driver path shared by CC and pivot: at most
    ``driver_edge_threshold`` deduplicated edges are collected (Arrow, two
    id columns) and labeled by ``solve`` — an iterable of (src, dst) →
    ({record_id: cluster_id}, rounds). Returns None above the gate (or with
    the gate disabled by 0), where the caller iterates distributed. ``e`` is
    the barrier the caller just wrote, so its size comes from the parquet
    footers, not from a count job."""
    from company_name_matching_spark.sources.store import _written_rows

    if not driver_edge_threshold or _written_rows(e)[0] > driver_edge_threshold:
        return None
    pdf = e.toPandas()
    root, rounds = solve(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
    schema = e.select(
        F.col("src").alias("record_id"), F.col("src").alias("cluster_id")
    ).schema
    # a pandas frame goes through Arrow; a list of tuples would be pickled
    # row by row through plain Python workers
    labels = pd.DataFrame({"record_id": list(root), "cluster_id": list(root.values())})
    return e.sparkSession.createDataFrame(labels, schema), rounds


def connected_components(
    edges: DataFrame,
    max_iterations: int = 15,
    driver_edge_threshold: int = 1_000_000,
) -> tuple[DataFrame, int]:
    """edges(src, dst) → labels(record_id, cluster_id), plus rounds used.

    cluster_id is the minimum record_id in the component (deterministic).
    Nodes absent from ``edges`` are the caller's concern (singletons keep
    their own id — see :func:`attach_singletons`).

    Size-gated execution strategy (the same runtime-size dispatch AQE
    applies to join physical plans): after the dedup barrier, if the edge
    count is ≤ ``driver_edge_threshold`` the component labels are computed
    in ONE driver pass (Arrow collect of two id columns + union-find with
    union-by-min — identical labels to the converged star-contraction,
    pytest-equivalence-enforced on randomized graphs), because at that size
    each distributed round's fixed barrier latency dwarfs the actual work —
    the measured sub-threshold cluster-stage floor is rounds × ~1-2 s of
    job/parquet latency on EMPTY-ish shuffles. Above the gate (or with the
    gate disabled via ``driver_edge_threshold=0``) the alternating
    large-star/small-star iteration runs unchanged — that is the 100-TB
    path, and the default gate (10⁶ edges ≈ 16 MB of longs) keeps the
    driver collect bounded far below the broadcast-size class of state the
    engine already ships (the trigram-IDF dict). Returned ``rounds`` is 0
    on the driver path.
    """
    from company_name_matching_spark.sources.store import materialize

    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).dropDuplicates()
    e = materialize(e, "cc_edges")
    driver = _driver_labels(
        e, driver_edge_threshold, lambda pairs: (_union_find_labels(pairs), 0)
    )
    if driver is not None:
        return driver
    prev_sig = None
    rounds = 0
    for rounds in range(1, max_iterations + 1):
        # the single dedup here replaces per-star dedups (one shuffle per
        # round instead of three)
        e = materialize(
            _small_star(_large_star(e)).dropDuplicates(), "cc_round"
        )
        # bit_xor checksum: order-insensitive and overflow-free under ANSI mode
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        cur_sig = (sig["n"], sig["h"])
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    # converged state: star edges node→min; labels = edges + centers
    labels = e.select(F.col("src").alias("record_id"), F.col("dst").alias("cluster_id"))
    centers = e.select(F.col("dst").alias("record_id"), F.col("dst").alias("cluster_id"))
    return labels.union(centers).dropDuplicates(["record_id"]), rounds


def attach_singletons(labels: DataFrame, names: DataFrame) -> DataFrame:
    """All records not in any matched pair become their own cluster."""
    all_ids = names.select("record_id").dropDuplicates()
    missing = all_ids.join(labels, "record_id", "left_anti").select(
        "record_id", F.col("record_id").alias("cluster_id")
    )
    return labels.union(missing)


def _contract_exact(
    matches: DataFrame, names: DataFrame, solve
) -> tuple[DataFrame, int]:
    """Exact-key contraction shared by :func:`cluster_matches` and
    :func:`pivot_matches`: records sharing a ``match_key`` map to their
    min-record representative, ``solve`` (rep edges(src, dst) → (labels,
    rounds)) clusters the fuzzy edges BETWEEN representatives, and the
    labels expand back to every record. A rep without fuzzy edges labels
    itself, which covers pure-exact groups AND singletons."""
    from company_name_matching_spark.sources.store import materialize

    groups = names.groupBy("match_key").agg(F.min("record_id").alias("rep"))
    # LEFT join + self-coalesce so rep_of covers EVERY record (a NULL
    # match_key never equi-joins; such a record becomes its own rep). With
    # full coverage the final expansion already labels every record, so no
    # trailing singleton pass (a left_anti join + union over the full record
    # set) is needed.
    rep_of = materialize(
        names.select("record_id", "match_key")
        .join(groups, "match_key", "left")
        .select(
            "record_id",
            F.coalesce(F.col("rep"), F.col("record_id")).alias("rep"),
        ),
        "repmap",
    )
    edges = matches.where(F.col("is_match")).select(
        F.col("left_id").alias("src"), F.col("right_id").alias("dst")
    )
    l_map = rep_of.select(F.col("record_id").alias("src"), F.col("rep").alias("src_rep"))
    r_map = rep_of.select(F.col("record_id").alias("dst"), F.col("rep").alias("dst_rep"))
    rep_edges = (
        edges.join(l_map, "src").join(r_map, "dst")
        .where(F.col("src_rep") != F.col("dst_rep"))
        .select(F.col("src_rep").alias("src"), F.col("dst_rep").alias("dst"))
    )
    rep_labels, rounds = solve(rep_edges)
    expanded = (
        rep_of.join(
            rep_labels.withColumnRenamed("record_id", "rep"), "rep", "left"
        )
        .select(
            "record_id",
            F.coalesce(F.col("cluster_id"), F.col("rep")).alias("cluster_id"),
        )
    )
    return expanded, rounds


def cluster_matches(matches: DataFrame, names: DataFrame,
                    max_iterations: int = 15,
                    driver_edge_threshold: int = 1_000_000) -> tuple[DataFrame, int]:
    """Scored pairs (is_match=true) → clusters(record_id, cluster_id).

    Known exact-duplicate cliques are CONTRACTED before the iterative CC
    (:func:`_contract_exact`): records sharing a ``match_key`` are provably
    one component (exact pairs score 1.0), so each group maps to its
    min-record representative and CC runs only on fuzzy edges BETWEEN
    representatives. On dup-heavy corpora (the common web case) this
    shrinks the iterated graph by the duplicate factor and usually saves
    whole rounds — each round is a fixed-latency barrier, the dominant
    cluster-stage cost at high parallelism. Final labels expand back
    through the group map; cluster_id stays the min record_id of the full
    component (min is preserved: every group rep IS its group's min, and
    CC labels components by min rep)."""
    return _contract_exact(
        matches, names,
        lambda e: connected_components(e, max_iterations, driver_edge_threshold),
    )


def _driver_pivot_rounds(pairs, max_rounds: int) -> tuple[dict, int]:
    """Driver-side replay of the EXACT round-parallel pivot iteration (same
    pivots, same member assignments, same round count — not the sequential
    greedy, which assigns differently when a non-local-minimum becomes
    eligible in a later round). ``pairs`` is an iterable of (src, dst).
    Ranks are ``md5(str(node))`` hex — byte-identical to the engine's
    ``F.md5(cast(node as string))`` for the integer/string ids used
    engine-wide. Raises like the distributed path if the graph does not
    drain within ``max_rounds``."""
    import hashlib
    from collections import defaultdict

    adj: dict = defaultdict(set)
    for a, b in pairs:
        if a == b:
            continue
        adj[a].add(b)
        adj[b].add(a)
    rank = {n: hashlib.md5(str(n).encode()).hexdigest() for n in adj}
    active = set(adj)
    labels: dict = {}
    rounds = 0
    while active:
        if rounds >= max_rounds:
            raise RuntimeError(
                f"pivot_clusters: graph not drained after {max_rounds} rounds"
            )
        rounds += 1
        piv = {
            n
            for n in active
            if all(
                rank[n] < rank[v] for v in adj[n] if v in active
            )  # isolated actives are vacuously pivots, as in the engine
        }
        assigned = {p: p for p in piv}
        for n in active - piv:
            best = None
            for v in adj[n]:
                if v in piv and (best is None or rank[v] < rank[best]):
                    best = v
            if best is not None:
                assigned[n] = best
        labels.update(assigned)
        active -= set(assigned)
    return labels, rounds


def pivot_clusters(
    edges: DataFrame, max_rounds: int = 12,
    driver_edge_threshold: int = 1_000_000,
) -> tuple[DataFrame, int]:
    """Deterministic parallel PIVOT clustering — the principled alternative
    to transitive-closure CC for match graphs (Ailon, Charikar & Newman,
    JACM'08 3-approximation to correlation clustering; round-parallel
    local-minimum formulation per Chierichetti, Dalvi & Kumar, "Correlation
    Clustering in MapReduce", KDD'14).

    Connected components glue chains transitively: A~B~C~...~Z becomes one
    entity even when A and Z share nothing (the classic ER over-merge).
    Pivot clustering makes that structurally impossible: every output
    cluster is a STAR around its pivot — each member is a DIRECT neighbor
    of the pivot (cluster diameter ≤ 2, pytest-asserted).

    Determinism without randomness (scripts must replay identically across
    engines and resumes): node rank = ``md5(cast(node as string))``, a
    fixed pseudo-random total order both Spark and DuckDB compute natively;
    ranks are a pure FUNCTION of the node id, so no rank column is ever
    joined around — every consumer recomputes ``F.md5`` inline (whole-stage
    codegen, zero extra shuffle state).

    Per round, on the active (yet-unclustered) node-induced edge subgraph:

    1. a node is a pivot iff its rank precedes every active neighbor's
       (isolated actives are trivially pivots) — pivots form an
       independent set, so no member is ever contested by construction;
    2. each active non-pivot adjacent to ≥1 pivot joins the minimum-rank
       adjacent pivot (``min_by``; md5 ranks are unique per id);
    3. clustered nodes leave; edges are re-induced on the survivors.

    Round-parallel local-minimum pivoting drains the global minimum-rank
    active node every round, O(log n) rounds w.h.p. for random ranks.
    (It is NOT always identical to the fully sequential greedy: a
    non-local-minimum can become eligible in a later round after its
    smaller neighbor is absorbed elsewhere — the round formulation is the
    spec here, and the DuckDB oracle replays it round by round.)
    Each round is two hash joins + one aggregation, materialized
    through the parquet barrier (same iterative-lineage rule as
    :func:`connected_components`); the only driver state is the per-round
    footer count of the active set, used for loop control. The labels are
    the lazy union of the per-round assignment barriers. Raises if the
    graph does not drain within ``max_rounds`` (a silent partial
    clustering would corrupt downstream survivorship): on deterministic
    data the round count is deterministic, so callers pin a measured
    bound.

    Returns (labels(record_id, cluster_id = pivot id), rounds). Nodes
    absent from ``edges`` are the caller's concern (:func:`attach_singletons`).
    """
    from company_name_matching_spark.sources.store import _written_rows, materialize

    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).dropDuplicates()
    e = materialize(e, "pivot_edges_in")
    # Size-gated driver replay (the same runtime dispatch
    # connected_components applies): below the gate each distributed round
    # costs 3 parquet barriers + a footer read against near-empty shuffles —
    # fixed latency that dwarfs the actual work (measured 8.8 s for 5
    # rounds over 759k sf0.1 edges vs ~1 s on the driver). The replay is
    # the identical round algorithm (pytest-equivalence-enforced), so
    # labels AND the raise-if-undrained semantics are preserved; rounds
    # returned is the true round count. 10⁶ edges ≈ 16 MB of longs — the
    # same driver-state class as the CC gate. Pass 0 to always iterate
    # distributed (the 100-TB path, unchanged below).
    driver = _driver_labels(
        e, driver_edge_threshold,
        lambda pairs: _driver_pivot_rounds(pairs, max_rounds),
    )
    if driver is not None:
        return driver
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    active = materialize(sym.select(F.col("src").alias("node")).dropDuplicates(),
                         "pivot_active")
    spark = edges.sparkSession
    schema = sym.select(
        F.col("src").alias("record_id"), F.col("src").alias("cluster_id")
    ).schema
    labels = spark.createDataFrame([], schema)
    rounds = 0
    rank_of = lambda c: F.md5(F.col(c).cast("string"))  # noqa: E731
    # active is a barrier, so its size is read from the parquet footers
    while rounds < max_rounds:
        if _written_rows(active)[0] == 0:
            break
        rounds += 1
        # 1. min active-neighbor rank per node (sym is active×active here)
        nb = sym.groupBy("src").agg(F.min(rank_of("dst")).alias("_mn"))
        piv = (
            active.join(nb.withColumnRenamed("src", "node"), "node", "left")
            .where(F.col("_mn").isNull() | (rank_of("node") < F.col("_mn")))
            .select("node")
        )
        # 2. members join the min-rank adjacent pivot
        memb = (
            sym.join(piv.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min_by("dst", rank_of("dst")).alias("cluster_id"))
            .select(F.col("src").alias("node"), "cluster_id")
        )
        asg = materialize(
            piv.select("node", F.col("node").alias("cluster_id")).union(memb),
            "pivot_asg",
        )
        labels = labels.union(
            asg.select(F.col("node").alias("record_id"), "cluster_id")
        )
        # 3. shrink the active set and re-induce the edge subgraph
        active = materialize(active.join(asg, "node", "left_anti"), "pivot_active")
        sym = materialize(
            sym.join(active.withColumnRenamed("node", "src"), "src")
            .join(active.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst"),
            "pivot_edges",
        )
    else:
        if _written_rows(active)[0] > 0:
            raise RuntimeError(
                f"pivot_clusters: graph not drained after {max_rounds} rounds"
            )
    return labels, rounds


def sparsify_edges(
    edges: DataFrame,
    score_col: str,
    k: int = 10,
    mode: str = "mutual",
) -> DataFrame:
    """Top-k-per-node sparsification of a scored match-edge set — the
    standard web-scale move before clustering: a hub record (template
    chrome, generic name) can carry millions of match edges, and both CC
    (star aggregation on the hot node) and pivot (one cluster absorbing
    the hub's whole neighborhood) pay for every one. Keep only each
    node's ``k`` best edges (score desc, neighbor-id asc on ties —
    deterministic cross-engine):

    * ``mode="mutual"`` — edge kept iff it is top-k for BOTH endpoints:
      bounds every node's surviving degree at ``k`` (the strict skew cap);
    * ``mode="union"`` — kept iff top-k for EITHER endpoint: preserves
      connectivity better (a weak node keeps its best link to a strong
      neighbor) but a hub chosen by many keeps an unbounded in-degree —
      use when recall matters more than the degree bound.

    One symmetric fan-out + one row_number window partitioned by node —
    no per-pair state beyond the edge table. Returns the kept canonical
    (src, dst, score) rows, a subset of the input."""
    if mode not in ("mutual", "union"):
        raise ValueError(f"mode must be 'mutual' or 'union'; got {mode!r}")
    from pyspark.sql import Window

    # canonicalize FIRST (an input carrying both (a,b) and (b,a) would
    # otherwise double every vote), then fan out symmetrically once
    canon = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col(score_col).alias("_s"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    sym = canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "_s")
    )
    w = Window.partitionBy("src").orderBy(F.col("_s").desc(), F.col("dst").asc())
    kept = (
        sym.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_votes"))
    )
    need = 2 if mode == "mutual" else 1
    return (
        canon.join(kept.where(F.col("_votes") >= need), ["src", "dst"])
        .select("src", "dst", F.col("_s").alias(score_col))
    )


def correlation_objective(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """Correlation-clustering disagreement count of a labeling against a
    match-edge set (the objective pivot clustering 3-approximates, Bansal,
    Blum & Chawla '04): CUT positive edges (matched pairs split across
    clusters) + co-clustered NON-edges (pairs glued without a match edge —
    the over-merge term transitive CC pays on chains).

    Exact integers end to end: n_disagreements =
    (E − intra) + (Σ_c C(n_c, 2) − intra). One row out:
    (n_clusters, n_edges, n_intra_edges, n_disagreements). Scale shape:
    two label joins to tag edges + two bounded aggs — nothing per-pair
    beyond the edge table; the co-clustered-pair term comes from cluster
    SIZES, never enumeration."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    l_lab = labels.select(
        F.col("record_id").alias("src"), F.col("cluster_id").alias("_cl")
    )
    r_lab = labels.select(
        F.col("record_id").alias("dst"), F.col("cluster_id").alias("_cr")
    )
    tagged = e.join(l_lab, "src").join(r_lab, "dst")
    etot = tagged.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(
            F.when(F.col("_cl") == F.col("_cr"), F.lit(1)).otherwise(F.lit(0))
        ).alias("_ni"),
    )
    ctot = (
        labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(
                (F.col("_n") * (F.col("_n") - 1) / 2).cast("long")
            ).alias("_copairs"),
        )
    )
    ni = F.coalesce(F.col("_ni"), F.lit(0))
    return etot.crossJoin(ctot).select(
        "n_clusters",
        "n_edges",
        ni.cast("long").alias("n_intra_edges"),
        ((F.col("n_edges") - ni) + (F.col("_copairs") - ni))
        .cast("long").alias("n_disagreements"),
    )


def golden_records(
    labels: DataFrame,
    names: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    name_col: str = "name",
) -> DataFrame:
    """Survivorship — the golden record a downstream consumer actually
    reads: one canonical name per entity cluster. Rule (deterministic,
    classic most-frequent-wins): the cluster's MOST FREQUENT name; ties →
    LONGEST (more specific legal form survives), then lexicographically
    smallest. Returns (cluster_id, canonical_name, n_records,
    n_distinct_names).

    Scale shape: one shuffle to the (cluster, name) frequency cells
    (map-side combine absorbs duplicates), then a row_number window whose
    partitions are bounded by distinct names PER CLUSTER (variant groups —
    tiny), never by corpus size; the size dims ride the same cell table.
    """
    from pyspark.sql import Window

    j = labels.select(F.col(id_col), F.col(cluster_col)).join(
        names.select(F.col(id_col), F.col(name_col)), id_col
    )
    per = j.groupBy(cluster_col, name_col).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(cluster_col).orderBy(
        F.col("_c").desc(), F.length(name_col).desc(), F.col(name_col).asc()
    )
    best = per.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    sizes = per.groupBy(cluster_col).agg(
        F.sum("_c").alias("n_records"),
        F.count(F.lit(1)).alias("n_distinct_names"),
    )
    return best.join(sizes, cluster_col).select(
        cluster_col,
        F.col(name_col).alias("canonical_name"),
        "n_records",
        "n_distinct_names",
    )


def cluster_stats(
    labels: DataFrame,
    edges: DataFrame,
    score_col: str | None = None,
) -> DataFrame:
    """Per-cluster over-merge audit: (cluster_id, cluster_size,
    n_intra_edges, density[, min_edge_score, mean_edge_score]).

    ``density`` = 2E/(n(n-1)) of the cluster's INTRA-cluster match edges —
    the diagnostic a linkage reviewer thresholds: a transitive-closure
    cluster at density ≪ 1 is a chain/bridge merge (records glued through
    intermediaries, most pairs never actually matched), exactly the shape
    :func:`pivot_clusters` refuses to build. Singleton clusters report
    density 1.0 (vacuously complete).

    With ``score_col``, min/mean of the intra-edge scores are added —
    scores are 6dp-rounded then DECIMAL(18,6)-accumulated so the mean is
    order-independent and a SQL twin reproduces it bit-for-bit (the
    engine-wide decimal-mean rule). Edges whose endpoints land in
    DIFFERENT clusters (cut edges — the normal case for pivot clustering,
    impossible for CC labels) are excluded from every per-cluster figure.

    Scale shape: two label joins to tag edge endpoints, one hash agg per
    cluster, one label-side size agg — nothing is ever per-pair beyond
    the edge table itself.
    """
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    cols = [F.col("src"), F.col("dst")]
    if score_col:
        cols.append(F.round(F.col(score_col), 6).alias("_s"))
    l_lab = labels.select(
        F.col("record_id").alias("src"), F.col("cluster_id").alias("_cl")
    )
    r_lab = labels.select(
        F.col("record_id").alias("dst"), F.col("cluster_id").alias("_cr")
    )
    tagged = (
        edges.select(*cols)
        .join(l_lab, "src")
        .join(r_lab, "dst")
        .where(F.col("_cl") == F.col("_cr"))
    )
    aggs = [F.count(F.lit(1)).alias("n_intra_edges")]
    if score_col:
        aggs += [
            F.min("_s").alias("min_edge_score"),
            F.round(
                F.sum(F.col("_s").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_edge_score"),
        ]
    estats = tagged.groupBy(F.col("_cl").alias("cluster_id")).agg(*aggs)
    out = sizes.join(estats, "cluster_id", "left").withColumn(
        "n_intra_edges", F.coalesce(F.col("n_intra_edges"), F.lit(0))
    )
    out = out.withColumn(
        "density",
        F.when(F.col("cluster_size") > 1,
               F.round(
                   F.lit(2.0) * F.col("n_intra_edges")
                   / (F.col("cluster_size")
                      * (F.col("cluster_size") - F.lit(1))),
                   6,
               )).otherwise(F.lit(1.0)),
    )
    final = ["cluster_id", "cluster_size", "n_intra_edges", "density"]
    if score_col:
        final += ["min_edge_score", "mean_edge_score"]
    return out.select(*final)


def pivot_matches(
    matches: DataFrame, names: DataFrame,
    driver_edge_threshold: int = 1_000_000,
) -> tuple[DataFrame, int]:
    """Scored pairs (is_match=true) → pivot-clustered labels — the
    :func:`cluster_matches` counterpart built on :func:`pivot_clusters`
    instead of transitive closure (pipeline ``cluster_method="pivot"``).

    Exact-duplicate cliques are contracted first exactly as in
    :func:`cluster_matches` (records sharing a ``match_key`` are provably
    one entity — contraction is method-independent), pivot runs on the
    rep graph, and labels expand back through the group map. The star
    guarantee holds on the REP graph: every rep is a direct match-edge
    neighbor of its pivot rep; member records inherit via exact-duplicate
    equivalence. cluster_id is the pivot rep's record_id (deterministic,
    data-dependent — NOT the component minimum, unlike CC labels).
    ``driver_edge_threshold`` is :func:`pivot_clusters`' driver gate."""
    return _contract_exact(
        matches, names,
        lambda e: pivot_clusters(e, driver_edge_threshold=driver_edge_threshold),
    )


def _contingency_cells(
    assignments: DataFrame, record_col: str, pred_col: str, gold_col: str,
    metric: str,
) -> DataFrame:
    """(pred, gold) contingency cells ``(_p, _g, _c)`` — the one shuffle of
    the assignment table every cluster metric below factors through.
    Records with a NULL pred or gold are a contract violation and raise
    (a silent drop would inflate every score)."""
    a = assignments.select(
        F.col(record_col).alias("_r"),
        F.col(pred_col).alias("_p"),
        F.col(gold_col).alias("_g"),
    )
    a = a.withColumn(
        "_p",
        F.when(
            F.col("_p").isNull() | F.col("_g").isNull(),
            F.raise_error(F.lit(f"{metric}: NULL cluster or gold label")),
        ).otherwise(F.col("_p")),
    )
    return a.groupBy("_p", "_g").agg(F.count(F.lit(1)).alias("_c"))


def bcubed(
    assignments: DataFrame,
    record_col: str = "record_id",
    pred_col: str = "cluster_id",
    gold_col: str = "gold_id",
) -> DataFrame:
    """B-cubed extrinsic cluster evaluation (Bagga & Baldwin '98) —
    the standard ER clustering metric alongside pairwise F1 (which
    ``er_f1_labeled`` already covers): per-record precision
    |C(i)∩L(i)|/|C(i)| and recall |C(i)∩L(i)|/|L(i)| averaged over
    records, where C = predicted cluster and L = gold label set. Unlike
    pairwise F1 it doesn't over-weight large clusters quadratically.

    One row out: (n_records, bcubed_precision, bcubed_recall, bcubed_f1).

    Distributed shape: the record-level sums factor through the
    (pred, gold) contingency cells — sum_i P_i = Σ_cells c²/|C| — so the
    plan is one hash agg to the cell table (bounded by #clusters×#labels
    actually co-occurring, ≪ records), two bounded size dims joined back
    (AQE broadcasts them), and a final scalar agg. Nothing is ever
    per-pair; this evaluates a trillion-record clustering with one
    shuffle of the assignment table.

    Cross-engine determinism: per-cell contributions are 9dp-rounded
    doubles summed as DECIMAL(38,9) (order-independent — the PageRank
    pattern), the final means rounded to 6dp; F1 is derived from the two
    already-rounded means, so every engine computes it from identical
    operands. Records with a NULL pred or gold are a contract violation
    and raise (a silent drop would inflate both scores).
    """
    cells = _contingency_cells(
        assignments, record_col, pred_col, gold_col, "bcubed"
    )
    psz = cells.groupBy("_p").agg(F.sum("_c").alias("_np"))
    gsz = cells.groupBy("_g").agg(F.sum("_c").alias("_ng"))
    contrib = (
        cells.join(psz, "_p").join(gsz, "_g")
        .select(
            F.col("_c"),
            F.round(
                (F.col("_c") * F.col("_c")).cast("double") / F.col("_np"), 9
            ).cast("decimal(38,9)").alias("_pc"),
            F.round(
                (F.col("_c") * F.col("_c")).cast("double") / F.col("_ng"), 9
            ).cast("decimal(38,9)").alias("_rc"),
        )
    )
    out = contrib.agg(
        F.sum("_c").alias("n_records"),
        F.round(
            F.sum("_pc").cast("double") / F.sum("_c"), 6
        ).alias("bcubed_precision"),
        F.round(
            F.sum("_rc").cast("double") / F.sum("_c"), 6
        ).alias("bcubed_recall"),
    )
    return out.withColumn(
        "bcubed_f1",
        F.round(
            F.lit(2.0) * F.col("bcubed_precision") * F.col("bcubed_recall")
            / (F.col("bcubed_precision") + F.col("bcubed_recall")),
            6,
        ),
    )


def vmeasure(
    assignments: DataFrame,
    record_col: str = "record_id",
    pred_col: str = "cluster_id",
    gold_col: str = "gold_id",
) -> DataFrame:
    """V-measure: homogeneity / completeness / their harmonic mean
    (Rosenberg & Hirschberg, EMNLP'07) — the entropy-based cluster
    agreement metric beside :func:`bcubed` (record-averaged) and
    :func:`rand_scores` (pair-counting), completing the standard trio.
    h = 1 − H(C|K)/H(C) penalizes clusters that MIX gold classes;
    c = 1 − H(K|C)/H(K) penalizes gold classes SPLIT across clusters.

    Everything factors through the same (pred, gold) contingency cells as
    the other two metrics — one shuffle of the assignment table at any
    scale, cell/size dims bounded by co-occurring labels, never records.

    Cross-engine determinism: each entropy term
    ``round((c/N)·ln(c/size), 9)`` is a 9dp-rounded double accumulated as
    DECIMAL(38,9) (order-independent — the engine-wide decimal-sum rule;
    9dp absorbs last-ulp ``ln`` differences between libm and the JVM),
    ratios divide the two decimal sums in doubles in a fixed op order,
    and h/c are 6dp-rounded before the harmonic mean — so a SQL twin
    reproduces every figure exactly. Degenerate partitions (H = 0: one
    cluster, or all singleton classes) score 1.0 per the reference
    definition. One row out: (n_records, homogeneity, completeness,
    v_measure)."""
    cells = _contingency_cells(
        assignments, record_col, pred_col, gold_col, "vmeasure"
    )
    psz = cells.groupBy("_p").agg(F.sum("_c").alias("_np"))
    gsz = cells.groupBy("_g").agg(F.sum("_c").alias("_ng"))
    tot = cells.agg(F.sum("_c").alias("_n"))

    def _ent_sum(df, num, den, out):
        """Σ round((num/N)·ln(num/den), 9) as DECIMAL(38,9) — the (negated)
        entropy; terms are ≤ 0, signs cancel in the ratios."""
        t = df.crossJoin(tot).select(
            F.round(
                (F.col(num).cast("double") / F.col("_n"))
                * F.log(F.col(num).cast("double") / F.col(den)),
                9,
            ).cast("decimal(38,9)").alias("_t")
        )
        return t.agg(F.coalesce(
            F.sum("_t"), F.lit(0).cast("decimal(38,9)")
        ).alias(out))

    hck = _ent_sum(cells.join(psz, "_p"), "_c", "_np", "s_ck")   # −H(C|K)
    hc = _ent_sum(gsz, "_ng", "_n", "s_c")                      # −H(C)
    hkc = _ent_sum(cells.join(gsz, "_g"), "_c", "_ng", "s_kc")   # −H(K|C)
    hk = _ent_sum(psz, "_np", "_n", "s_k")                       # −H(K)
    j = tot.crossJoin(hck).crossJoin(hc).crossJoin(hkc).crossJoin(hk)
    h = F.when(F.col("s_c") == 0, F.lit(1.0)).otherwise(
        F.round(
            F.lit(1.0)
            - F.col("s_ck").cast("double") / F.col("s_c").cast("double"),
            6,
        )
    )
    c = F.when(F.col("s_k") == 0, F.lit(1.0)).otherwise(
        F.round(
            F.lit(1.0)
            - F.col("s_kc").cast("double") / F.col("s_k").cast("double"),
            6,
        )
    )
    j = j.select(
        F.col("_n").alias("n_records"),
        h.alias("homogeneity"),
        c.alias("completeness"),
    )
    return j.withColumn(
        "v_measure",
        F.when(
            F.col("homogeneity") + F.col("completeness") == 0.0, F.lit(0.0)
        ).otherwise(
            F.round(
                F.lit(2.0) * F.col("homogeneity") * F.col("completeness")
                / (F.col("homogeneity") + F.col("completeness")),
                6,
            )
        ),
    )


def rand_scores(
    assignments: DataFrame,
    record_col: str = "record_id",
    pred_col: str = "cluster_id",
    gold_col: str = "gold_id",
) -> DataFrame:
    """Rand index + Adjusted Rand Index (Hubert & Arabie '85) between a
    predicted clustering and a gold partition — the pair-counting
    agreement metrics beside :func:`bcubed`'s record-averaged ones.

    Everything factors through the same (pred, gold) contingency cells:
    with S_ij = Σ C(n_ij,2), S_a = Σ C(a_i,2), S_b = Σ C(b_j,2),
    T = C(N,2):  RI = 1 − (S_a + S_b − 2·S_ij)/T and
    ARI = (S_ij − S_a·S_b/T) / ((S_a+S_b)/2 − S_a·S_b/T). The pair
    counts are exact integers; only the final ratios are doubles, built
    with an identical op order in the DuckDB twin (products computed in
    DOUBLE — at 10^12 records C(N,2)² overflows int64, so the cast
    happens BEFORE the multiply) and rounded 6dp in-engine.

    One row out: (n_records, rand_index, adjusted_rand). Same
    one-shuffle scale shape as bcubed; NULL labels raise there, and this
    reuses the same guarded input contract by construction.
    """
    cells = _contingency_cells(
        assignments, record_col, pred_col, gold_col, "rand_scores"
    )

    def _c2(col):
        return (F.col(col) * (F.col(col) - 1) / 2).cast("long")

    sij = cells.agg(
        F.sum(_c2("_c")).alias("s_ij"), F.sum("_c").alias("n")
    )
    sa = (
        cells.groupBy("_p").agg(F.sum("_c").alias("_a"))
        .agg(F.sum(_c2("_a")).alias("s_a"))
    )
    sb = (
        cells.groupBy("_g").agg(F.sum("_c").alias("_b"))
        .agg(F.sum(_c2("_b")).alias("s_b"))
    )
    j = sij.crossJoin(sa).crossJoin(sb).select(
        "*",
        (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("t"),
    )
    exp = (
        F.col("s_a").cast("double") * F.col("s_b").cast("double")
    ) / F.col("t").cast("double")
    return j.select(
        F.col("n").alias("n_records"),
        F.round(
            F.lit(1.0)
            - (F.col("s_a") + F.col("s_b") - F.lit(2) * F.col("s_ij"))
            .cast("double") / F.col("t").cast("double"),
            6,
        ).alias("rand_index"),
        F.round(
            (F.col("s_ij").cast("double") - exp)
            / ((F.col("s_a") + F.col("s_b")).cast("double") / F.lit(2.0) - exp),
            6,
        ).alias("adjusted_rand"),
    )
