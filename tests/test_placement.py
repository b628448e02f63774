"""One placement rule: every repartition goes through ``store`` (``spread``
before a fan-out, ``spread_to_cores`` before a kernel) and every hot-bucket
cap through ``blocking.filter_blocks``. The source scans below need no
Spark, so a re-inlined spread or cap fails here before any plan runs."""

import ast
from pathlib import Path

from company_name_matching_spark.sources import store

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "company_name_matching_spark"
SHUFFLE_WIDTH = "spark.sql.shuffle.partitions"


def _sources():
    files = [*PACKAGE.rglob("*.py"), ROOT / "__spark_entry__.py",
             *(ROOT / "scripts").glob("*.py")]
    return {p.relative_to(ROOT).as_posix(): ast.parse(p.read_text())
            for p in files}


def test_shuffle_width_read_only_by_spread():
    """The session sets the shuffle width and ``store`` alone reads it."""
    reads, sets = set(), set()
    for path, tree in _sources().items():
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            if any(isinstance(a, ast.Constant) and a.value == SHUFFLE_WIDTH
                   for a in node.args):
                (reads if node.func.attr == "get" else sets).add(path)
    assert reads == {"company_name_matching_spark/sources/store.py"}
    assert sets == {"company_name_matching_spark/session.py"}


def test_no_second_spread_or_cap():
    defined = {
        node.name
        for tree in _sources().values()
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
    }
    assert "fanout_repartition" not in defined
    assert "_cap_buckets" not in defined


def test_spread_reaches_shuffle_width(spark):
    df = spark.range(0, 50, numPartitions=1)
    out = store.spread(df)
    width = int(spark.conf.get(SHUFFLE_WIDTH))
    assert out.rdd.getNumPartitions() == width
    assert sorted(r.id for r in out.collect()) == list(range(50))


def test_repartition_only_in_store():
    """Every repartition goes through ``store`` (``spread`` before a
    fan-out, ``spread_to_cores`` before a kernel); ``fixtures`` builds
    multi-partition test inputs."""
    callers = {
        path
        for path, tree in _sources().items()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "repartition"
    }
    assert callers == {
        "company_name_matching_spark/sources/store.py",
        "company_name_matching_spark/sources/fixtures.py",
    }


def test_spread_to_cores_reaches_core_count(spark):
    df = spark.range(0, 50, numPartitions=1)
    out = store.spread_to_cores(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(50))
