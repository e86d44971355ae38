"""Arrow Flight serving tests (reference model: flight/ tests —
do_exchange round-trip of an unbound expression, do_get of a bound one)."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest

import xorq_spark as xo
from xorq_spark import _
from xorq_spark.flight import (
    HAVE_FLIGHT,
    flight_exchange,
    flight_get,
    flight_serve,
    unbind,
)

pytestmark = pytest.mark.skipif(not HAVE_FLIGHT, reason="pyarrow.flight absent")


@pytest.fixture(scope="module")
def server(spark):
    # unbound expression: schema-only template -> filter + aggregate
    template = xo.table({"g": "string", "v": "float64"}, "input")
    expr = template.filter(_.v > 0).group_by("g").agg(s=_.v.sum())
    srv = flight_serve(expr, spark, name="sum_by_g")
    bound = xo.memtable({"k": [1, 2]}).mutate(doubled=_.k * 2)
    srv.register_expr("bound_doubles", bound, "input")
    yield srv
    srv.shutdown()


def test_do_exchange_roundtrip(spark, server):
    table = pa.table({"g": ["a", "a", "b"], "v": [1.0, 2.0, -5.0]})
    out = flight_exchange(server.endpoint, "sum_by_g", table)
    got = out.to_pandas().sort_values("g")
    assert got.g.tolist() == ["a"]  # b filtered out entirely (v<0)
    assert got.s.tolist() == [3.0]


def test_do_exchange_second_call_fresh_binding(spark, server):
    table = pa.table({"g": ["z"], "v": [7.0]})
    got = flight_exchange(server.endpoint, "sum_by_g", table).to_pandas()
    assert got.g.tolist() == ["z"]
    assert got.s.tolist() == [7.0]


def test_do_get_bound_expr(spark, server):
    got = flight_get(server.endpoint, "bound_doubles").to_pandas().sort_values("k")
    assert got.doubled.tolist() == [2, 4]


def test_unbind_rewrites_sources(spark, tmp_path):
    p = str(tmp_path / "x.parquet")
    pd.DataFrame({"v": [1.0]}).to_parquet(p)
    e = xo.deferred_read_parquet(p).filter(_.v > 0)
    u = unbind(e, "inp")
    from xorq_spark.expr import nodes as N

    leaves = [n for n in N.walk(u.node) if isinstance(n, N.UnboundTable)]
    assert len(leaves) == 1 and leaves[0].name == "inp"
    # still executable by binding a frame
    df = spark.createDataFrame(pd.DataFrame({"v": [-1.0, 2.0]}))
    assert u.execute(spark, bindings={"inp": df}).v.tolist() == [2.0]


def test_spark_connect_gated():
    """Spark Connect execution is import-gated in this container (no
    grpcio); the gate raises with a clear message instead of failing
    deep inside pyspark."""
    import pytest

    from xorq_spark import remote as C

    assert C.connect_available() is False
    with pytest.raises(ImportError, match="grpcio"):
        C.remote_session("sc://localhost:15002")


def test_flight_server_facade_with_basic_auth(spark):
    """Reference-shaped surface: FlightServer on a FlightUrl behind
    BasicAuth; connect() with the right credentials works, wrong or
    missing credentials are rejected at the gRPC layer."""
    import pyarrow.flight as fl

    from xorq_spark.flight import BasicAuth, FlightServer, FlightUrl, connect

    template = xo.table({"v": "float64"}, "input")
    expr = template.agg(s=_.v.sum())
    url = FlightUrl()
    with FlightServer(url, spark, auth=BasicAuth("alice", "s3cret")) as srv:
        srv.register_expr("sum_v", expr)
        table = pa.table({"v": [1.0, 2.0, 3.5]})

        ok = connect(url.host, srv.server.port, "alice", "s3cret")
        out = ok.exchange("sum_v", table)
        assert out.to_pandas().s.tolist() == [6.5]
        ok.close()

        bad = connect(url.host, srv.server.port, "alice", "wrong")
        with pytest.raises(fl.FlightUnauthenticatedError):
            bad.exchange("sum_v", table)
        bad.close()

        anon = connect(url.host, srv.server.port)
        with pytest.raises(fl.FlightUnauthenticatedError):
            anon.get("sum_v")
        anon.close()


def test_flight_url_binds_free_port():
    from xorq_spark.flight import FlightUrl

    u = FlightUrl()
    assert u.port > 0
    assert u.to_location() == f"grpc://127.0.0.1:{u.port}"


def test_do_exchange_keeps_nullable_int64_and_decimal(spark, server):
    """The exchanged table binds straight from Arrow: a pandas hop would
    turn a nullable int64 into double and narrow decimal(10,2)."""
    from decimal import Decimal

    server.register_expr("pass_through", xo.table({"i": "int64", "d": "decimal(10,2)"}, "input"))
    table = pa.table({
        "i": pa.array([1, None, 3], pa.int64()),
        "d": pa.array([Decimal("1.25"), None, Decimal("2.50")], pa.decimal128(10, 2)),
    })
    out = flight_exchange(server.endpoint, "pass_through", table)
    assert out.schema == table.schema
    assert out.sort_by("i").equals(table.sort_by("i"))


def test_register_expr_keeps_each_unbound_name(spark, server):
    """A second unbound expression with its own unbound name on the same
    server: each exchange binds its own expression's name."""
    maxes = xo.table({"g": "string", "v": "float64"}, "other_input").agg(m=_.v.max())
    server.register_expr("max_v", maxes, "other_input")
    table = pa.table({"g": ["a", "a"], "v": [1.0, 4.0]})
    assert flight_exchange(server.endpoint, "max_v", table).column("m").to_pylist() == [4.0]
    assert flight_exchange(server.endpoint, "sum_by_g", table).column("s").to_pylist() == [5.0]
