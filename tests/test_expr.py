"""Expression-layer tests: build deferred exprs, execute on Spark,
check against pandas/DuckDB-computed expectations (the reference's
per-operator oracle style, SURVEY §5.1)."""

from __future__ import annotations

import pandas as pd
import pytest

import xorq_spark as xo
from xorq_spark import _


@pytest.fixture(scope="module")
def lineitem(sf_dir):
    return xo.deferred_read_parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(sf_dir):
    return xo.deferred_read_parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture(scope="module")
def li_pd(spark, sf_dir):
    return pd.read_parquet(f"{sf_dir}/lineitem.parquet")


def test_read_filter_select(spark, lineitem, li_pd):
    got = (
        lineitem.filter(_.l_quantity > 45)
        .select("l_orderkey", "l_quantity", disc_price=_.l_extendedprice * (1 - _.l_discount))
        .execute(spark)
    )
    exp = li_pd[li_pd.l_quantity > 45]
    assert len(got) == len(exp)
    assert list(got.columns) == ["l_orderkey", "l_quantity", "disc_price"]
    assert got.disc_price.sum() == pytest.approx(
        (exp.l_extendedprice * (1 - exp.l_discount)).sum()
    )


def test_group_by_agg(spark, lineitem, li_pd):
    got = (
        lineitem.group_by("l_returnflag")
        .agg(n=_.l_quantity.count(), total_qty=_.l_quantity.sum(), avg_price=_.l_extendedprice.mean())
        .execute(spark)
        .sort_values("l_returnflag")
        .reset_index(drop=True)
    )
    exp = (
        li_pd.groupby("l_returnflag")
        .agg(n=("l_quantity", "count"), total_qty=("l_quantity", "sum"), avg_price=("l_extendedprice", "mean"))
        .reset_index()
        .sort_values("l_returnflag")
        .reset_index(drop=True)
    )
    assert (got.n == exp.n).all()
    assert got.total_qty.tolist() == pytest.approx(exp.total_qty.tolist())
    assert got.avg_price.tolist() == pytest.approx(exp.avg_price.tolist())


def test_mutate_case_order_limit(spark, lineitem, li_pd):
    got = (
        lineitem.mutate(
            big=(_.l_quantity > 30).ifelse("big", "small"),
        )
        .order_by(_.l_orderkey.asc(), _.l_linenumber.asc())
        .limit(10)
        .select("l_orderkey", "l_linenumber", "big")
        .execute(spark)
    )
    exp = li_pd.sort_values(["l_orderkey", "l_linenumber"]).head(10)
    assert got.l_orderkey.tolist() == exp.l_orderkey.tolist()
    assert got.big.tolist() == ["big" if q > 30 else "small" for q in exp.l_quantity]


def test_join(spark, lineitem, orders, sf_dir):
    got = (
        lineitem.join(orders, [("l_orderkey", "o_orderkey")])
        .filter(_.o_orderpriority == "1-URGENT")
        .group_by("o_orderpriority")
        .agg(n=_.l_quantity.count())
        .execute(spark)
    )
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    exp = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
    exp = exp[exp.o_orderpriority == "1-URGENT"]
    assert got.n.iloc[0] == len(exp)


def test_semi_anti_join(spark, lineitem, orders, li_pd, sf_dir):
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    urgent = orders.filter(_.o_orderpriority == "1-URGENT")
    semi = lineitem.join(urgent, [("l_orderkey", "o_orderkey")], how="semi").count(spark)
    anti = lineitem.join(urgent, [("l_orderkey", "o_orderkey")], how="anti").count(spark)
    urgent_keys = set(od[od.o_orderpriority == "1-URGENT"].o_orderkey)
    exp_semi = li_pd.l_orderkey.isin(urgent_keys).sum()
    assert semi == exp_semi
    assert anti == len(li_pd) - exp_semi


def test_union_distinct(spark, lineitem):
    a = lineitem.select("l_returnflag").limit(100)
    n = a.union(a).distinct().count(spark)
    assert n == a.distinct().count(spark)


def test_param_binding(spark, lineitem, li_pd):
    qty = xo.param("min_qty", "int64", default=40)
    e = lineitem.filter(_.l_quantity > qty)
    assert e.count(spark) == (li_pd.l_quantity > 40).sum()  # default
    got = e.to_spark(spark, params={"min_qty": 49}).count()
    assert got == (li_pd.l_quantity > 49).sum()


def test_memtable_and_join(spark):
    mt = xo.memtable({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    other = xo.memtable({"k": [2, 3, 4], "w": [20.0, 30.0, 40.0]})
    got = (
        mt.join(other, ["k"]).order_by("k").execute(spark)
    )
    assert got.k.tolist() == [2, 3]
    assert got.w.tolist() == [20.0, 30.0]


def test_register_arrow_keeps_nullable_int64_and_decimal(spark):
    """An Arrow table binds straight from Arrow: a pandas hop would turn
    a nullable int64 into double."""
    from decimal import Decimal

    import pyarrow as pa

    table = pa.table({
        "i": pa.array([1, None, 3], pa.int64()),
        "d": pa.array([Decimal("1.25"), None, Decimal("2.50")], pa.decimal128(10, 2)),
    })
    e = xo.register(spark, table, "arrow_nullable_src")
    assert dict(spark.table("arrow_nullable_src").dtypes) == {"i": "bigint", "d": "decimal(10,2)"}
    got = e.order_by("i").execute(spark)
    assert got.i.isna().tolist() == [True, False, False]
    assert got.d.tolist()[1:] == [Decimal("1.25"), Decimal("2.50")]


def test_unbound_table_binding(spark):
    t = xo.table({"x": "int64", "y": "float64"}, "inp")
    e = t.group_by("x").agg(s=_.y.sum())
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 1, 2], "y": [1.0, 2.0, 3.0]}))
    got = e.execute(spark, bindings={"inp": df}).sort_values("x")
    assert got.s.tolist() == [3.0, 3.0]


def test_window_over(spark, lineitem, li_pd):
    got = (
        lineitem.filter(_.l_orderkey < 100)
        .mutate(rk=xo.expr.api.row_number().over(group_by=_.l_orderkey, order_by=_.l_linenumber.asc()))
        .filter(_.rk == 1)
        .count(spark)
    )
    exp = li_pd[li_pd.l_orderkey < 100].l_orderkey.nunique()
    assert got == exp


def test_sql_escape_hatch(spark, lineitem, li_pd):
    got = lineitem.sql(
        "SELECT l_returnflag, count(*) AS n FROM li GROUP BY l_returnflag", alias="li"
    ).execute(spark)
    exp = li_pd.groupby("l_returnflag").size()
    assert dict(zip(got.l_returnflag, got.n)) == exp.to_dict()


def test_fill_drop_null(spark):
    mt = xo.memtable(pd.DataFrame({"a": [1.0, None, 3.0], "b": ["x", "y", None]}))
    assert xo.Expr(mt.node).fill_null({"a": 0.0}).execute(spark).a.tolist() == [1.0, 0.0, 3.0]
    assert mt.drop_null(["b"]).count(spark) == 2


def test_memtable_binds_from_arrow_exactly(spark):
    # past 2**53 a float64 hop rounds: 2**62 + 1 came back as 2**62
    from decimal import Decimal

    import pyarrow as pa

    tbl = pa.table(
        {
            "a": pa.array([2**62 + 1, None], pa.int64()),
            "d": pa.array([Decimal("12345678.91"), None], pa.decimal128(10, 2)),
        }
    )
    got = xo.memtable(tbl).to_pyarrow(spark)
    assert got.column("a").to_pylist() == [2**62 + 1, None]
    assert got.column("d").to_pylist() == [Decimal("12345678.91"), None]
    assert got.schema.field("d").type == pa.decimal128(10, 2)


def test_unnest(spark):
    mt = xo.memtable({"k": [1, 2], "xs": [[1, 2, 3], [4]]})
    got = mt.unnest("xs").order_by("k", "xs").execute(spark)
    assert got["xs"].tolist() == [1, 2, 3, 4]


def test_distinct_subset(spark, lineitem, li_pd):
    n = lineitem.distinct(on=["l_orderkey"]).count(spark)
    assert n == li_pd.l_orderkey.nunique()


def test_sample(spark, lineitem):
    n_all = lineitem.count(spark)
    n_s = lineitem.sample(0.1, seed=42).count(spark)
    assert 0 < n_s < n_all


def test_deferred_repr_and_hashability(lineitem):
    e1 = lineitem.filter(_.l_quantity > 10).select("l_orderkey")
    e2 = lineitem.filter(_.l_quantity > 10).select("l_orderkey")
    assert e1.node == e2.node
    assert hash(e1.node) == hash(e2.node)
    e3 = lineitem.filter(_.l_quantity > 11).select("l_orderkey")
    assert e1.node != e3.node


def test_schema_declared_read_builds_without_files(tmp_path):
    e = xo.deferred_read_parquet("/nonexistent/path.parquet", schema={"a": "int64"})
    # building the expression graph must not touch the filesystem
    assert e.node.schema == "a bigint"


def test_sinks_roundtrip(spark, tmp_path, lineitem):
    p = str(tmp_path / "out.parquet")
    sub = lineitem.select("l_orderkey", "l_quantity").limit(50)
    sub.to_parquet(p, spark)
    back = xo.deferred_read_parquet(p).count(spark)
    assert back == 50
    arrow = sub.to_pyarrow(spark)
    assert arrow.num_rows == 50
    rb = sub.to_pyarrow_batches(spark, chunk_size=10)
    assert sum(b.num_rows for b in rb) == 50


def test_reference_vocabulary_aliases(spark):
    """Reference (ibis-style) op names lower to the right Spark
    semantics: 0-indexed substr/find, truncate units, clip, initcap."""
    import datetime as dt

    mt = xo.memtable(
        pd.DataFrame(
            {
                "s": ["hello world", "abc"],
                "x": [5.0, -3.0],
                "ts": [dt.datetime(2026, 3, 15, 13, 45), dt.datetime(2026, 1, 1, 0, 0)],
            }
        )
    )
    got = (
        mt.select(
            sub=_.s.substr(1, 3),
            pos=_.s.find("l"),
            missing=_.s.find("zz"),
            cap=_.s.capitalize(),
            clipped=_.x.clip(-1.0, 4.0),
            day=_.ts.truncate("D"),
            dow=_.ts.day_of_week_name(),
        )
        .execute(spark)
    )
    assert got["sub"].tolist() == ["ell", "bc"]
    assert got.pos.tolist() == [2, -1]
    assert got.missing.tolist() == [-1, -1]
    assert got.cap.tolist() == ["Hello World", "Abc"]
    assert got.clipped.tolist() == [4.0, -1.0]
    assert str(got.day.tolist()[0]) == "2026-03-15 00:00:00"
    assert got.dow.tolist()[1] == "Thursday"


def test_partitioned_parquet_sink(spark, tmp_path, lineitem):
    import os

    p = str(tmp_path / "by_flag")
    lineitem.select("l_orderkey", "l_quantity", "l_returnflag").limit(200).to_parquet(
        p, spark, partition_by="l_returnflag"
    )
    parts = [d for d in os.listdir(p) if d.startswith("l_returnflag=")]
    assert len(parts) >= 2
    # partition pruning: reading one partition value scans only that dir
    back = xo.deferred_read_parquet(p).filter(_.l_returnflag == "R")
    plan = back.to_spark(spark)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan or "l_returnflag" in plan


def test_csv_json_roundtrip(spark, tmp_path):
    mt = xo.memtable({"k": [1, 2], "v": ["x", "y"]})
    jp, cp = str(tmp_path / "j"), str(tmp_path / "c")
    mt.to_json(jp, spark)
    mt.to_csv(cp, spark)
    jback = xo.deferred_read_json(jp, schema={"k": "int64", "v": "string"})
    cback = xo.deferred_read_csv(cp, schema={"k": "int64", "v": "string"})
    assert jback.order_by("k").execute(spark).v.tolist() == ["x", "y"]
    assert cback.order_by("k").execute(spark).v.tolist() == ["x", "y"]


def test_read_delta_missing_log(spark, tmp_path):
    e = xo.expr.api.deferred_read_delta(str(tmp_path / "dl"))  # builds fine
    assert e.node.path.endswith("dl")
    # no delta-spark jar here AND no _delta_log on disk -> clear error
    with pytest.raises(FileNotFoundError, match="_delta_log"):
        e.count(spark)


def test_tag_and_hashing_tag(spark, lineitem):
    """tag() is execution- and hash-transparent; hashing_tag() salts the
    token (reference: tag/hashing_tag, types/relations.py:3509,3553)."""
    base = lineitem.select("l_orderkey", "l_quantity").limit(10)
    tagged = base.tag("experiment", owner="alice", run="7")
    assert tagged.ls.tokenized == base.ls.tokenized
    assert tagged.execute(spark).equals(base.execute(spark))
    assert [t.name for t in tagged.ls.tags] == ["experiment"]
    assert dict(tagged.ls.tags[0].meta) == {"owner": "alice", "run": "7"}

    salted = base.hashing_tag("v2")
    assert salted.ls.tokenized != base.ls.tokenized
    assert salted.execute(spark).equals(base.execute(spark))
    # distinct hashing tags -> distinct tokens (separate cache entries)
    assert salted.ls.tokenized != base.hashing_tag("v3").ls.tokenized


def test_tag_roundtrips_through_build(spark, lineitem, tmp_path):
    from xorq_spark.builds import to_data, from_data

    e = lineitem.select("l_orderkey").limit(5).tag("m", k="v").hashing_tag("n")
    back = from_data(to_data(e.node))
    assert back == e.node


def test_pipe(spark, sf_dir):
    import xorq_spark as xo
    from xorq_spark import _

    def top_regions(t, n):
        return t.group_by("n_regionkey").agg(c=_.n_nationkey.count()).limit(n)

    e = xo.deferred_read_parquet(f"{sf_dir}/nation.parquet").pipe(top_regions, 2)
    assert e.to_spark(spark).count() == 2


def test_module_level_bind_params(spark, sf_dir):
    """xo.bind_params (reference expr/api.py) rebinds named params on a
    relational tree without executing it."""
    import xorq_spark as xo
    from xorq_spark import _

    n = xo.param("min_key", "int64", default=0)
    e = (
        xo.deferred_read_parquet(f"{sf_dir}/nation.parquet")
        .filter(_.n_nationkey >= n)
        .aggregate(c=_.n_nationkey.count())
    )
    default_count = e.to_spark(spark).first()["c"]
    bound = xo.bind_params(e, {"min_key": 20})
    assert bound.to_spark(spark).first()["c"] < default_count


def test_compat_spellings(spark):
    """pandas/reference spellings: dropna/fillna/to_pandas/nunique/
    first/alias/view/tee/preview."""
    t = xo.memtable({"k": ["a", "a", None, "b"], "v": [1.0, None, 3.0, 4.0]})
    assert t.dropna(["k"]).count(spark) == 3
    filled = t.fillna({"v": 0.0}).execute(spark)
    assert filled.v.tolist() == [1.0, 0.0, 3.0, 4.0]
    assert t.nunique(spark) == 4
    pdf = t.to_pandas(spark)
    assert len(pdf) == 4
    row = t.dropna(["v"]).order_by("v").first(spark)
    assert row["v"] == 1.0
    assert xo.memtable({"x": []}, schema={"x": "int64"}).first(spark) is None

    # alias feeds .sql's relation name
    out = (
        xo.memtable({"x": [1, 2, 3]})
        .alias("numbers")
        .sql("SELECT sum(x) AS s FROM numbers")
        .execute(spark)
    )
    assert out.s.tolist() == [6]

    # view(): self-join both sides distinct, token differs
    base = xo.memtable({"k": [1, 2], "v": [10.0, 20.0]})
    assert base.view().ls.tokenized != base.ls.tokenized
    assert base.view().execute(spark).v.tolist() == [10.0, 20.0]

    prev = t.preview(spark, max_rows=2)
    assert "│" in prev and "more rows" in prev


def test_expr_tee(spark, tmp_path):
    t = xo.memtable({"k": [1, 2], "v": ["a", "b"]})
    back = t.tee(str(tmp_path / "teed"), spark)
    assert back.order_by("k").execute(spark).v.tolist() == ["a", "b"]


def test_grouped_having_and_mutate(spark):
    t = xo.memtable(
        {"k": ["a", "a", "b", "b", "c"], "v": [1.0, 9.0, 2.0, 3.0, 4.0]}
    )
    # having: keep groups whose max v exceeds 3
    got = (
        t.group_by("k").having(_.v.max() > 3.0).agg(n=_.v.count(), s=_.v.sum())
        .order_by("k").execute(spark)
    )
    assert got.k.tolist() == ["a", "c"]
    assert got.s.tolist() == [10.0, 4.0]
    assert list(got.columns) == ["k", "n", "s"]  # hidden having cols dropped

    # grouped mutate: group aggregate broadcast to every row, no join
    gm = (
        t.group_by("k").mutate(gmean=_.v.mean()).order_by("k", "v").execute(spark)
    )
    assert gm.gmean.tolist() == [5.0, 5.0, 2.5, 2.5, 4.0]

    # size alias
    assert t.group_by("k").size().order_by("k").execute(spark)["count"].tolist() == [2, 2, 1]


def test_orc_roundtrip(spark, tmp_path):
    """ORC source/sink: schema-declared deferred read builds without
    files; write -> read -> identical rows; direct-path Spark SQL scan
    (orc.`path`) matches the DataFrame lowering."""
    from xorq_spark.expr.api import memtable, read_orc
    from xorq_spark.sql_compile import to_sql

    path = str(tmp_path / "t.orc")
    src = memtable([(1, "a"), (2, "b"), (3, None)], schema="id bigint, s string")
    src.to_orc(path, spark=spark)

    # deferred read with declared schema: plan builds with no session
    e = read_orc(path, schema="id bigint, s string")
    assert e.schema() is not None
    got = sorted(
        (r["id"], r["s"]) for r in e.to_spark(spark).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, None)]

    # inferred-schema read
    e2 = read_orc(path)
    assert sorted((r["id"], r["s"]) for r in e2.to_spark(spark).collect()) == got

    # filter pushes into the scan like parquet
    filtered = e.filter(_.id >= 2)
    assert filtered.count(spark) == 2

    # direct-path SQL
    sql = to_sql(e)
    assert "orc." in sql
    assert sorted((r["id"], r["s"]) for r in spark.sql(sql).collect()) == got
