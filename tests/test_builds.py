"""Build-artifact round-trip tests (reference model:
ibis_yaml/tests/test_compiler.py — expr -> YAML -> expr equality,
build/load determinism; SURVEY §5.5)."""

from __future__ import annotations

import subprocess
import sys

import pandas as pd
import pytest

import xorq_spark as xo
from xorq_spark import _
from xorq_spark.builds import build, from_data, load, to_data


@pytest.fixture
def src(tmp_path):
    p = str(tmp_path / "src.parquet")
    pd.DataFrame({"k": [1, 1, 2], "v": [10.0, 20.0, 30.0]}).to_parquet(p)
    return p


def test_to_from_data_roundtrip(src):
    e = (
        xo.deferred_read_parquet(src)
        .filter(_.v > 5)
        .group_by("k")
        .agg(s=_.v.sum())
        .order_by("k")
    )
    data = to_data(e.node)
    back = from_data(data)
    assert back == e.node


def test_yaml_is_plain_data(src):
    import yaml

    e = xo.deferred_read_parquet(src).filter(_.v > xo.param("t", "float64", 5.0))
    text = yaml.safe_dump(to_data(e.node))
    assert "ReadParquet" in text and "Param" in text
    assert from_data(yaml.safe_load(text)) == e.node


def test_build_load_execute(spark, src, tmp_path):
    e = xo.deferred_read_parquet(src).group_by("k").agg(s=_.v.sum()).order_by("k")
    out = build(e, str(tmp_path / "builds"))
    e2 = load(out, spark)
    assert e2.node == e.node
    got = e2.execute(spark)
    assert got.s.tolist() == [30.0, 30.0]


def test_build_hash_deterministic(src, tmp_path):
    e = xo.deferred_read_parquet(src).filter(_.v > 5)
    p1 = build(e, str(tmp_path / "b1"))
    p2 = build(e, str(tmp_path / "b2"))
    assert p1.split("/")[-1] == p2.split("/")[-1]


def test_build_with_memtable(spark, tmp_path):
    mt = xo.memtable({"a": [1, 2, 3]})
    e = mt.filter(_.a > 1)
    out = build(e, str(tmp_path / "builds"))
    # load in THIS process after clearing the registry (simulates restart)
    from xorq_spark.expr.core import _MEMTABLES

    _MEMTABLES.clear()
    e2 = load(out, spark)
    assert e2.execute(spark).a.tolist() == [2, 3]


def test_build_with_udf(spark, src, tmp_path):
    from xorq_spark import udf

    @udf.scalar.pandas(dtype="double", name="double_it")
    def double_it(s):
        return s * 2

    e = xo.deferred_read_parquet(src).mutate(w=double_it(_.v)).order_by("v")
    out = build(e, str(tmp_path / "builds"))
    e2 = load(out, spark)
    assert e2.execute(spark).w.tolist() == [20.0, 40.0, 60.0]


def test_cli_build_run(src, tmp_path):
    script = tmp_path / "pipeline.py"
    script.write_text(
        "import xorq_spark as xo\n"
        "from xorq_spark import _\n"
        f"expr = xo.deferred_read_parquet({src!r}).group_by('k').agg(s=_.v.sum()).order_by('k')\n"
    )
    bd = str(tmp_path / "builds")
    r = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "build", str(script), "-e", "expr", "--builds-dir", bd],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr
    build_dir = r.stdout.strip()
    r2 = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "run", build_dir, "--format", "text"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r2.returncode == 0, r2.stderr
    assert "30.0" in r2.stdout


def test_cli_inspect_shows_sql(src, tmp_path):
    """inspect prints the metadata, the YAML IR, and — for a
    SQL-expressible plan — the compiled Spark SQL, all without starting
    a Spark session."""
    script = tmp_path / "pipeline.py"
    script.write_text(
        "import xorq_spark as xo\n"
        "from xorq_spark import _\n"
        f"expr = xo.deferred_read_parquet({src!r}).filter(_.v > 1).order_by('k')\n"
    )
    bd = str(tmp_path / "builds")
    r = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "build", str(script), "-e", "expr", "--builds-dir", bd],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr
    r2 = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "inspect", r.stdout.strip()],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r2.returncode == 0, r2.stderr
    assert "-- sql --" in r2.stdout
    assert "SELECT * FROM" in r2.stdout and "WHERE" in r2.stdout
    # no Spark session was started by inspect (stderr free of JVM logs)
    assert "SparkSession" not in r2.stderr


def test_cli_run_with_param(src, tmp_path):
    script = tmp_path / "p.py"
    script.write_text(
        "import xorq_spark as xo\n"
        "from xorq_spark import _\n"
        f"expr = xo.deferred_read_parquet({src!r}).filter(_.v > xo.param('t', 'float64', 0.0)).aggregate(n=_.k.count())\n"
    )
    bd = str(tmp_path / "builds")
    r = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "build", str(script), "-e", "expr", "--builds-dir", bd],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr
    build_dir = r.stdout.strip()
    out_default = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "run", build_dir, "--format", "text"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert "3" in out_default.stdout  # t=0.0 default keeps all rows
    out_bound = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "run", build_dir, "--format", "text", "-p", "t=25.0"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out_bound.returncode == 0, out_bound.stderr
    assert "1" in out_bound.stdout  # only v=30 passes


def test_build_writes_profile_and_run_reconnects(spark, sf_dir, tmp_path):
    """builds/<hash>/profile.yaml records the connection (profiles.yaml
    analog); load_profile reconnects from it (env master still wins)."""
    import yaml

    from xorq_spark.builds import build, load_profile
    from xorq_spark.expr.api import deferred_read_parquet

    e = deferred_read_parquet(f"{sf_dir}/lineitem.parquet")
    d = build(e.select("l_orderkey").limit(3), str(tmp_path / "b"))
    prof = yaml.safe_load(open(f"{d}/profile.yaml"))
    assert "master" in prof and "spark.sql.adaptive.enabled" in prof["conf"]
    s = load_profile(d)
    assert s is not None and s.sql("SELECT 1").collect()[0][0] == 1


def test_profile_leaves_out_host_gated_conf(src, tmp_path, monkeypatch):
    """profile.yaml records only the portable conf: the scratch dir and
    the worker daemon are gated on the host and master, so load_profile
    must not replay them into connect() on another master."""
    import yaml

    from xorq_spark import builds, session

    host_keys = ("spark.local.dir", "spark.python.daemon.module")
    monkeypatch.setenv("XORQ_SPARK_MASTER", "local[2]")
    monkeypatch.setenv("XORQ_SPARK_LOCAL_DIR", str(tmp_path / "scratch"))
    monkeypatch.setattr(session, "_workers_import_package", lambda: True)
    assert all(k in session.options() for k in host_keys)

    d = build(xo.deferred_read_parquet(src), str(tmp_path / "b"))
    prof = yaml.safe_load(open(f"{d}/profile.yaml"))
    assert "spark.sql.adaptive.enabled" in prof["conf"]
    assert not set(host_keys) & set(prof["conf"])

    calls = []
    monkeypatch.setattr(session, "connect", lambda **kw: calls.append(kw))
    monkeypatch.setenv("XORQ_SPARK_MASTER", "spark://h:7077")
    builds.load_profile(d)
    assert calls[0]["master"] == "spark://h:7077"
    assert not set(host_keys) & set(calls[0]["extra_conf"])


def test_cli_run_cached(src, tmp_path):
    script = tmp_path / "pipeline.py"
    script.write_text(
        "import xorq_spark as xo\n"
        "from xorq_spark import _\n"
        f"expr = xo.deferred_read_parquet({src!r}).group_by('k').agg(s=_.v.sum()).order_by('k')\n"
    )
    bd = str(tmp_path / "builds")
    r = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "build", str(script), "-e", "expr", "--builds-dir", bd],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr
    build_dir = r.stdout.strip()
    import os as _os
    env = {**_os.environ, "XORQ_SPARK_CACHE_DIR": str(tmp_path / "cache")}
    r2 = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "run-cached", build_dir],
        capture_output=True, text=True, cwd="/root/repo", env=env,
    )
    assert r2.returncode == 0, r2.stderr
    assert "30.0" in r2.stdout
    # the cache artifact landed; a second run replays it
    import glob as _glob
    assert _glob.glob(str(tmp_path / "cache" / "**" / "*.parquet"), recursive=True)
    r3 = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "run-cached", build_dir],
        capture_output=True, text=True, cwd="/root/repo", env=env,
    )
    assert r3.returncode == 0 and "30.0" in r3.stdout


def test_cli_serve_unbound_run_unbound(spark, src, tmp_path):
    """serve-unbound + run-unbound round trip, in-process (the CLI
    command functions drive the same flight_serve/flight_exchange)."""
    import pandas as pd
    import pyarrow.parquet as pq

    import xorq_spark as xo
    from xorq_spark import _
    from xorq_spark.flight import flight_exchange, flight_serve, unbind

    pytest.importorskip("pyarrow.flight")
    expr = (
        xo.deferred_read_parquet(src).filter(_.v > 1.0).group_by("k").agg(s=_.v.sum())
    )
    server = flight_serve(unbind(expr, "input"), spark, name="expr")
    try:
        inp = tmp_path / "in.parquet"
        pd.DataFrame({"k": ["a", "a", "b"], "v": [5.0, 0.5, 7.0]}).to_parquet(inp)
        out = flight_exchange(server.endpoint, "expr", pq.read_table(str(inp)))
        got = out.to_pandas().sort_values("k")
        assert got.k.tolist() == ["a", "b"]
        assert got.s.tolist() == [5.0, 7.0]
    finally:
        server.shutdown()


def test_cli_uv_group(src, tmp_path):
    """`uv build` delegates to the normal build (env pins recorded);
    `uv run` is gated on the uv binary."""
    import shutil as _shutil

    script = tmp_path / "pipeline.py"
    script.write_text(
        "import xorq_spark as xo\n"
        "from xorq_spark import _\n"
        f"expr = xo.deferred_read_parquet({src!r}).select('k')\n"
    )
    bd = str(tmp_path / "builds")
    r = subprocess.run(
        [sys.executable, "-m", "xorq_spark", "uv", "build", str(script), "-e", "expr", "--builds-dir", bd],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr
    build_dir = r.stdout.strip()
    import os as _os
    assert _os.path.exists(_os.path.join(build_dir, "requirements.txt"))
    if _shutil.which("uv") is None:
        r2 = subprocess.run(
            [sys.executable, "-m", "xorq_spark", "uv", "run", build_dir],
            capture_output=True, text=True, cwd="/root/repo",
        )
        assert r2.returncode != 0
        assert "uv binary" in (r2.stderr + r2.stdout)
