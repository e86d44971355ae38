"""triangle_counts / snapshot_diff / histogram_drift unit tests:
hand-computed small cases, a brute-force Python reference replay, edge
canonicalization, null-safety, and plan-quality asserts."""

from itertools import combinations

import pyspark.sql.functions as F
import pytest


def _tri(spark, edges, **kw):
    from xorq_spark.functions.graph import triangle_counts

    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r for r in triangle_counts(df, **kw).collect()}


def test_triangle_counts_k4_plus_pendant(spark):
    # K4 (every node in 3 triangles) + pendant node 5 hanging off 1
    k4 = [(a, b) for a, b in combinations([1, 2, 3, 4], 2)]
    out = _tri(spark, k4 + [(1, 5)])
    for n in (2, 3, 4):
        assert out[n]["n_triangles"] == 3 and out[n]["degree"] == 3
        # coef = 2*3/(3*2) = 1.0
        assert out[n]["clustering_coef_e9"] == 10**9
    assert out[1]["degree"] == 4 and out[1]["n_triangles"] == 3
    # coef(1) = 2*3/(4*3) = 0.5
    assert out[1]["clustering_coef_e9"] == 5 * 10**8
    assert out[5]["n_triangles"] == 0 and out[5]["clustering_coef_e9"] == 0


@pytest.mark.parametrize("bound", [4_000_000, 0], ids=["bc_deg", "shuffled_deg"])
@pytest.mark.parametrize("offset", [0, 2**31, -1000],
                         ids=["encoded", "struct", "negative_struct"])
def test_triangle_counts_matches_bruteforce_reference(spark, offset, bound):
    # deterministic pseudo-random graph; compare against an O(n^3)
    # Python model. Node ids shifted by `offset` pick the orientation
    # key: ids in [0, 2^31) take the long-encoded path, others the
    # struct path. broadcast_edge_bound=0 takes the shuffled degree
    # attach (and keeps AQE on).
    nodes = [n + offset for n in range(30)]
    edges = [
        (u, v)
        for u, v in combinations(nodes, 2)
        if (u * 7919 + v * 104729) % 5 == 0
    ]
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    expected = {
        n: sum(1 for a, b in combinations(sorted(adj[n]), 2) if b in adj[a])
        for n in nodes
        if adj[n]
    }
    out = _tri(spark, edges, broadcast_edge_bound=bound)
    assert {n: r["n_triangles"] for n, r in out.items()} == expected
    assert {n: r["degree"] for n, r in out.items()} == {
        n: len(adj[n]) for n in nodes if adj[n]
    }


def test_triangle_counts_canonicalizes_input(spark):
    # duplicates, reversed duplicates and self-loops must not change
    # the count: one triangle 1-2-3
    messy = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    out = _tri(spark, messy)
    assert all(out[n]["n_triangles"] == 1 for n in (1, 2, 3))
    assert all(out[n]["degree"] == 2 for n in (1, 2, 3))


def test_triangle_counts_plan_has_no_cartesian(spark):
    from xorq_spark.functions.graph import triangle_counts

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    plan = triangle_counts(df)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def _diff(spark, old_rows, new_rows, **kw):
    from xorq_spark.functions.reconcile import snapshot_diff

    schema = "k long, a string, b long"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    return {
        r["k"]: r
        for r in snapshot_diff(old, new, keys=["k"], **kw).collect()
    }


def test_snapshot_diff_statuses_and_changed_cols(spark):
    out = _diff(
        spark,
        old_rows=[(1, "x", 10), (2, "y", 20), (3, "z", 30)],
        new_rows=[(2, "y", 21), (3, "z", 30), (4, "w", 40)],
    )
    assert out[1]["diff_status"] == "removed"
    assert out[4]["diff_status"] == "added"
    assert out[2]["diff_status"] == "changed"
    assert out[2]["changed_cols"] == "b" and out[2]["n_changed_cols"] == 1
    assert 3 not in out  # unchanged dropped by default


def test_snapshot_diff_null_safe_and_multi_col(spark):
    out = _diff(
        spark,
        old_rows=[(1, None, 10), (2, "y", None), (3, None, None)],
        new_rows=[(1, None, 10), (2, "z", 5), (3, "q", None)],
        include_unchanged=True,
    )
    assert out[1]["diff_status"] == "unchanged"  # NULL == NULL
    assert out[2]["diff_status"] == "changed"
    assert out[2]["changed_cols"] == "a,b" and out[2]["n_changed_cols"] == 2
    assert out[3]["changed_cols"] == "a"  # NULL -> value is a change


def test_snapshot_diff_plan_is_single_shuffle_join(spark):
    from xorq_spark.functions.reconcile import snapshot_diff

    old = spark.createDataFrame([(1, "x", 1)], "k long, a string, b long")
    new = spark.createDataFrame([(1, "x", 2)], "k long, a string, b long")
    plan = (
        snapshot_diff(old, new, ["k"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_histogram_drift_identical_and_shifted(spark):
    from xorq_spark.functions.reconcile import histogram_drift

    a = spark.createDataFrame([(v,) for v in (1, 5, 12, 17, 25)], "x long")
    same = {
        r["bin"]: r for r in histogram_drift(a, a, "x", 10).collect()
    }
    assert all(r["drift_e9"] == 0 for r in same.values())
    assert same[0]["old_n"] == 2 and same[1]["old_n"] == 2 and same[2]["old_n"] == 1

    b = spark.createDataFrame([(v,) for v in (35, 38)], "x long")
    disj = {r["bin"]: r for r in histogram_drift(a, b, "x", 10).collect()}
    # disjoint supports: every occupied bin carries one side's full share
    assert disj[3]["new_p_e9"] == 10**9 and disj[3]["old_p_e9"] == 0
    assert disj[0]["old_p_e9"] == 400_000_000 and disj[0]["new_p_e9"] == 0


def test_histogram_drift_floor_not_round(spark):
    from xorq_spark.functions.reconcile import histogram_drift

    # 9.7 must land in bin 0 (floor), not bin 1 (round)
    a = spark.createDataFrame([(9.7,), (10.2,)], "x double")
    out = {r["bin"]: r for r in histogram_drift(a, a, "x", 10).collect()}
    assert out[0]["old_n"] == 1 and out[1]["old_n"] == 1
