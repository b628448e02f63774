"""score_pairs: the Arrow pair kernel's values, its laziness, and the number
of Python passes its plan holds."""

import re

import numpy as np
import pytest

from company_name_matching_spark.functions import similarity
from company_name_matching_spark.operators import blocking, normalize, scoring
from company_name_matching_spark.operators.search import SearchConfig, search_topk
from company_name_matching_spark.sources import fixtures, store

# physical nodes that run Python: ArrowEvalPython, BatchEvalPython,
# MapInPandas, MapInArrow, FlatMapGroupsInPandas, ...
_PYTHON_NODE = re.compile(r"\b\w*(?:Python|InPandas|InArrow)\b")


def _executed_plan(df) -> str:
    """``df``'s executed (final adaptive) plan, after running it."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()


def _python_nodes(df) -> list[str]:
    """Python-running nodes of ``df``'s executed (final adaptive) plan."""
    return _PYTHON_NODE.findall(_executed_plan(df))


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="module")
def names_pairs(spark):
    pages = fixtures.pages_dataframe(spark, n_companies=40, per_company=4)
    names = store.materialize(normalize.normalize_pages(pages), "t_names")
    pairs = store.materialize(
        blocking.candidate_pairs(names, blocking.BlockingConfig()), "t_pairs"
    )
    return names, pairs


def test_pair_kernel_matches_scalar_recomputation(spark, names_pairs):
    """Every fuzzy pair's cos_sim and jw_sim equal (==) the scalar kernels:
    float32-rounded tfidf_vector → sparse_cosine, and jaro_winkler."""
    names, pairs = names_pairs
    cfg = scoring.ScoringConfig()
    idf = scoring.build_idf(names, n=cfg.ngram)
    scored = scoring.score_pairs(names, pairs, idf, cfg)
    key = dict(names.select("record_id", "match_key").collect())

    def vec(s):
        ids, vals = similarity.tfidf_vector(s, idf, cfg.ngram)
        return (np.asarray(ids, dtype=np.int64),
                np.asarray(vals, dtype=np.float32).astype(np.float64))

    fuzzy = 0
    for r in scored.collect():
        a, b = key[r["left_id"]], key[r["right_id"]]
        if a == b:
            continue
        fuzzy += 1
        assert r["cos_sim"] == similarity.sparse_cosine(*vec(a), *vec(b)), (a, b)
        assert r["jw_sim"] == similarity.jaro_winkler(a, b), (a, b)
    assert fuzzy > 100


def test_score_pairs_is_lazy_with_one_python_pass(spark, names_pairs):
    names, pairs = names_pairs
    idf = scoring.build_idf(names)
    scored, jobs = _jobs_in(
        spark, "test-score-pairs-lazy",
        lambda: scoring.score_pairs(names, pairs, idf),
    )
    assert jobs == []
    assert _python_nodes(scored) == ["ArrowEvalPython"]

    light = scoring.ScoringConfig(w_cosine=0.0, w_jw=0.0)
    scored, jobs = _jobs_in(
        spark, "test-score-pairs-lazy-light",
        lambda: scoring.score_pairs(names, pairs, cfg=light),
    )
    assert jobs == []
    assert _python_nodes(scored) == []


def test_score_pairs_plans_no_sort_aggregate(spark, names_pairs):
    """The distinct-key table deduplicates the key string alone: no
    aggregate of the plan falls back to a sorted first(tokens)."""
    names, pairs = names_pairs
    scored = scoring.score_pairs(names, pairs, scoring.build_idf(names))
    assert "SortAggregate" not in _executed_plan(scored)


def test_build_idf_takes_a_known_row_count(spark, names_pairs):
    names, _ = names_pairs
    counted, count_jobs = _jobs_in(
        spark, "test-build-idf-count", lambda: scoring.build_idf(names)
    )
    n = names.count()
    given, given_jobs = _jobs_in(
        spark, "test-build-idf-n-docs",
        lambda: scoring.build_idf(names, n_docs=n),
    )
    assert given == counted
    # with the row count given, build_idf runs no count job
    assert 0 < len(given_jobs) < len(count_jobs)


def test_search_topk_runs_one_python_pass(spark):
    comps = fixtures.base_companies(20)
    corpus = spark.createDataFrame(comps, "company_id string, name string")
    queries = spark.createDataFrame(
        fixtures.labeled_queries(comps, per_company=2),
        "query_id string, query_text string, target_id string, method string",
    )
    res = search_topk(corpus, queries, SearchConfig(k=3))
    assert _python_nodes(res) == ["ArrowEvalPython"]
