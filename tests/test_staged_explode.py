"""Plan shape and output of the staged key explodes (blocking module
docstring): each expensive key array is computed once per row, and no
Filter recomputes it."""

import re
from collections import Counter

from pyspark.sql import functions as F

from company_name_matching_spark.operators import blocking, normalize
from company_name_matching_spark.sources import fixtures

ALL_CHANNELS = ("prefix", "lsh", "token", "phonetic")
_ATTR = re.compile(r"\b\w+#\d+L?\b")


def _plan_nodes(df):
    """Every node of ``df``'s executed physical plan, through the AQE
    wrapper and its query stages."""
    nodes, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        nodes.append(node)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def _exprs(node):
    seq = node.expressions()
    return [seq.apply(i).toString() for i in range(seq.size())]


def assert_staged_explodes(df, scan_once=None):
    """Assert that no Filter in ``df``'s executed plan contains the input
    of a generator, with every projected alias inlined on both sides (the
    filter ``InferFiltersFromGenerate`` adds is pushed below the staging
    projection, where the input is no longer an attribute). Inputs that
    inline to a bare column are skipped: a Filter on a column recomputes
    nothing. With
    ``scan_once``, also assert that this text occurs in exactly one plan
    expression. Returns the plan nodes."""
    nodes = _plan_nodes(df)
    defs = {}
    for node in nodes:
        if node.getClass().getSimpleName() == "ProjectExec":
            plist = node.projectList()
            for i in range(plist.size()):
                e = plist.apply(i)
                if e.getClass().getSimpleName() == "Alias":
                    defs[e.toAttribute().toString()] = e.child().toString()

    def inline(text):
        for _ in range(len(defs) + 1):
            new = _ATTR.sub(lambda m: defs.get(m.group(0), m.group(0)), text)
            if new == text:
                return text
            text = new
        return text

    inputs = []
    for node in nodes:
        if node.getClass().getSimpleName() == "GenerateExec":
            kids = node.generator().children()
            for i in range(kids.size()):
                ref = kids.apply(i).toString()
                # a rename of a stored column computes nothing to repeat
                if ref in defs and not _ATTR.fullmatch(inline(ref)):
                    inputs.append((ref, inline(ref)))
    assert inputs, "no staged generator input in the plan"
    filters = [
        inline(n.condition().toString())
        for n in nodes
        if n.getClass().getSimpleName() == "FilterExec"
    ]
    for ref, full in inputs:
        for cond in filters:
            assert full not in cond, f"a Filter recomputes {ref}: {cond[:300]}"
    if scan_once is not None:
        hits = sum(e.count(scan_once) for n in nodes for e in _exprs(n))
        assert hits == 1, f"{scan_once!r} occurs {hits} times in the plan"
    return nodes


def _fixture_names(spark):
    pages = fixtures.pages_dataframe(spark, n_companies=60, per_company=4)
    return normalize.normalize_pages(pages).select(
        "record_id", "match_key", "tokens"
    )


def _blocking_names(spark):
    """Fixtures corpus names plus edge rows: 1- and 2-char match keys,
    one-token keys, a key of short tokens."""
    names = _fixture_names(spark)
    edge = spark.createDataFrame(
        [(-1, "a"), (-2, "ab"), (-3, "vinamilk"), (-4, "a b"), (-5, "ab cd ef")],
        "record_id long, match_key string",
    ).withColumn("tokens", F.split("match_key", " "))
    return names.unionByName(edge)


def _inline_blocks(names, cfg):
    """The single-expression form of ``generate_blocks`` that preceded the
    staged one: the whole signature inline under the band keys, a plain
    ``explode``."""
    sig = blocking.sig_from_hashes_col(
        blocking.trigram_hashes_col(F.col("match_key")), cfg
    )
    keys = [
        F.array(blocking.prefix_key_col(F.col("tokens"), cfg)),
        blocking.band_keys_from_sig(sig, cfg),
        blocking.token_keys_col(F.col("tokens")),
        F.array(blocking.phonetic_key_col(F.col("tokens"), cfg)),
    ]
    return names.select(
        "record_id", F.concat(*keys).alias("_keys")
    ).select("record_id", F.explode("_keys").alias("block_key"))


def test_generate_blocks_plan_computes_signature_once(spark):
    # one input branch: a union would compute the scan once per branch
    names = _fixture_names(spark)
    cfg = blocking.BlockingConfig(channels=ALL_CHANNELS)
    nodes = assert_staged_explodes(
        blocking.generate_blocks(names, cfg), scan_once="sequence("
    )
    xxh = sum(e.count("xxhash64(") for n in nodes for e in _exprs(n))
    # one in the trigram scan, one per band key, one for the record ids
    assert xxh <= cfg.minhash_bands + 2, xxh


def test_generate_blocks_equals_inline_form(spark):
    names = _blocking_names(spark)
    cfg = blocking.BlockingConfig(channels=ALL_CHANNELS)
    got = [
        (r["record_id"], r["block_key"])
        for r in blocking.generate_blocks(names, cfg).collect()
    ]
    want = [
        (r["record_id"], r["block_key"])
        for r in _inline_blocks(names, cfg).collect()
    ]
    assert all(k is not None for _, k in got)
    assert Counter(got) == Counter(want)
    edge_keys = {k for i, k in got if i < 0}
    assert {"p:a", "p:ab", "p:vinamilk", "t:vinamilk"} <= edge_keys


def test_embedding_lsh_bucket_plan(spark, monkeypatch):
    import math

    from company_name_matching_spark.operators import dedup
    from company_name_matching_spark.sources import store

    rows = [
        (i, [math.cos(0.3 * i + 0.1 * d) for d in range(8)]) for i in range(20)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seen = {}
    real = store.materialize

    def spy(df, name, *args, **kwargs):
        seen[name] = df
        return real(df, name, *args, **kwargs)

    monkeypatch.setattr(store, "materialize", spy)
    dedup.embedding_neardup_pairs_lsh(
        vecs, threshold=0.99, dim=8, n_planes=4, n_tables=6
    )
    buckets = seen["emb_lsh_buckets"]
    assert_staged_explodes(buckets)
    assert buckets.where(F.col("block_key").isNull()).count() == 0
    assert buckets.count() == 20 * 6


def test_search_hybrid_dense_plan(spark):
    from company_name_matching_spark.operators.search import (
        SearchConfig,
        search_topk,
    )

    comps = fixtures.base_companies(20)
    corpus = spark.createDataFrame(comps, "company_id string, name string")
    q = fixtures.labeled_queries(comps, per_company=1)
    queries = spark.createDataFrame(
        q, "query_id string, query_text string, target_id string, method string"
    )
    res = search_topk(corpus, queries, SearchConfig(k=3, model="hybrid_dense"))
    nodes = assert_staged_explodes(res)
    generators = [
        n for n in nodes if n.getClass().getSimpleName() == "GenerateExec"
    ]
    # query-side blocks plus the query and corpus dense buckets
    assert len(generators) >= 3


def test_pair_expansion_plans_stage_rest(spark):
    """The pair expansions explode the staged id-array tail without a
    Filter recomputing it."""
    names = _fixture_names(spark)
    cfg = blocking.BlockingConfig()
    blocks = blocking.generate_blocks(names, cfg)
    for df in (
        blocking.candidate_pairs_record_level(names, cfg),
        blocking.candidate_pairs(names, cfg),
        blocking.pair_block_weights(blocks),
    ):
        assert_staged_explodes(df)
