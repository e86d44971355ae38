"""Session-conf hygiene: `session.scoped_conf` and every operator built
on it leave the shared session's conf as they found it, a key that was
unset included."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from xorq_spark.session import scoped_conf, static_compile

# the keys the operators below scope; "unset" cases clear them first,
# so a restore that sets a default back shows up in getAll
SCOPED = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.sources.partitionOverwriteMode",
)
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"
TEST_KEY = "spark.xorq.test.scopedConf"

EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (2, 7), (7, 7), (None, 1)]


@pytest.fixture
def shared_conf(spark):
    """Put the shared test session's conf back after each test, whatever
    the test (or the code under test) left behind."""
    before = dict(spark.conf.getAll)
    yield
    for key in set(spark.conf.getAll) - set(before):
        spark.conf.unset(key)
    for key, value in before.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def _edges(spark, src="src", dst="dst"):
    return spark.createDataFrame(EDGES, f"{src} long, {dst} long")


def _pagerank(spark, tmp_path):
    from xorq_spark.functions.graph import pagerank

    return pagerank(_edges(spark))


def _label_propagation(spark, tmp_path):
    from xorq_spark.functions.graph import label_propagation

    return label_propagation(_edges(spark))


def _kcore(spark, tmp_path):
    from xorq_spark.functions.graph import kcore

    return kcore(_edges(spark), k=2)


def _bfs_hops(spark, tmp_path):
    from xorq_spark.functions.graph import bfs_hops

    return bfs_hops(_edges(spark), spark.createDataFrame([(1,)], "node long"))


def _hits(spark, tmp_path):
    from xorq_spark.functions.graph import hits

    return hits(_edges(spark))


def _cc_star_rounds(spark, tmp_path):
    from xorq_spark.functions.dedup import connected_components

    return connected_components(_edges(spark, "id_a", "id_b"), small_graph_threshold=0)


def _cc_driver_side(spark, tmp_path):
    from xorq_spark.functions.dedup import connected_components

    return connected_components(_edges(spark, "id_a", "id_b"))


def _overwrite_partitions(spark, tmp_path):
    from xorq_spark.writes import overwrite_partitions

    path = str(tmp_path / "pt")
    rows = [(d, i) for d in ("a", "b") for i in range(3)]
    spark.createDataFrame(rows, "day string, k int").write.partitionBy("day").parquet(path)
    overwrite_partitions(spark.createDataFrame([("b", 9)], "day string, k int"), path, "day")
    return spark.read.parquet(path)


def _static_compile(spark, tmp_path):
    with static_compile(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        df = spark.range(20)
        return df.groupBy((df.id % 3).alias("g")).count()


OPERATORS = [
    _pagerank,
    _label_propagation,
    _kcore,
    _bfs_hops,
    _hits,
    _cc_star_rounds,
    _cc_driver_side,
    _overwrite_partitions,
    _static_compile,
]


@pytest.mark.parametrize("keys", ["as_set", "unset"])
@pytest.mark.parametrize("op", OPERATORS, ids=lambda f: f.__name__.lstrip("_"))
def test_operator_leaves_conf_unchanged(spark, shared_conf, tmp_path, op, keys):
    if keys == "unset":
        for key in SCOPED:
            spark.conf.unset(key)
    before = dict(spark.conf.getAll)
    out = op(spark, tmp_path)
    assert dict(spark.conf.getAll) == before
    assert out.count() > 0
    assert dict(spark.conf.getAll) == before


def test_overwrite_partitions_failure_leaves_conf_unchanged(spark, shared_conf, tmp_path):
    from xorq_spark.writes import overwrite_partitions

    spark.conf.unset(OVERWRITE_MODE)
    before = dict(spark.conf.getAll)
    df = spark.createDataFrame([("b", 9)], "day string, k int")
    with pytest.raises(AnalysisException):
        overwrite_partitions(df, str(tmp_path / "pt"), "no_such_column")
    assert dict(spark.conf.getAll) == before


class _Boom(Exception):
    pass


def _run_scope(spark, key, value, raises):
    if raises:
        with pytest.raises(_Boom):
            with scoped_conf(spark, key, value):
                assert spark.conf.get(key) == value
                raise _Boom
    else:
        with scoped_conf(spark, key, value):
            assert spark.conf.get(key) == value


@pytest.mark.parametrize("raises", [False, True], ids=["returns", "raises"])
def test_scoped_conf_unset_key_comes_back_unset(spark, shared_conf, raises):
    spark.conf.unset(TEST_KEY)
    _run_scope(spark, TEST_KEY, "inside", raises)
    assert spark.conf.get(TEST_KEY, None) is None
    assert TEST_KEY not in spark.conf.getAll


@pytest.mark.parametrize("raises", [False, True], ids=["returns", "raises"])
def test_scoped_conf_unset_registered_key_keeps_its_default(spark, shared_conf, raises):
    # a key Spark knows, with a default: the default must not be
    # written back as an explicit setting
    spark.conf.unset(OVERWRITE_MODE)
    _run_scope(spark, OVERWRITE_MODE, "dynamic", raises)
    assert OVERWRITE_MODE not in spark.conf.getAll
    assert spark.conf.get(OVERWRITE_MODE).upper() == "STATIC"


@pytest.mark.parametrize("raises", [False, True], ids=["returns", "raises"])
def test_scoped_conf_set_key_comes_back_to_its_value(spark, shared_conf, raises):
    spark.conf.set(TEST_KEY, "outside")
    _run_scope(spark, TEST_KEY, "inside", raises)
    assert spark.conf.getAll[TEST_KEY] == "outside"


def test_scoped_conf_nested_scopes_unwind_in_order(spark, shared_conf):
    spark.conf.unset(TEST_KEY)
    with scoped_conf(spark, TEST_KEY, "outer"):
        with pytest.raises(_Boom):
            with scoped_conf(spark, TEST_KEY, "inner"):
                assert spark.conf.get(TEST_KEY) == "inner"
                raise _Boom
        assert spark.conf.get(TEST_KEY) == "outer"
        with scoped_conf(spark, TEST_KEY, "inner2"):
            assert spark.conf.get(TEST_KEY) == "inner2"
        assert spark.conf.get(TEST_KEY) == "outer"
    assert TEST_KEY not in spark.conf.getAll


def test_fitted_shuffle_clamps_to_the_session_width(spark, shared_conf):
    from xorq_spark.operators.partitioning import fitted_shuffle

    spark.conf.set("spark.sql.shuffle.partitions", "8")
    for rows, want in [(0, 1), (499_999, 1), (500_000, 2), (3_499_999, 7), (10**9, 8)]:
        with fitted_shuffle(spark, rows, 500_000) as fit:
            assert fit == want
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(want)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
