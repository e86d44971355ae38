"""Options/config surface (reference parity: xorq/config.py) and the
interactive repr it drives."""

from __future__ import annotations

import pathlib

import pytest

import xorq_spark as xo
from xorq_spark.config import Interactive, Options, options


@pytest.fixture(autouse=True)
def _reset_options():
    yield
    options.interactive = False
    options.repr.interactive.max_rows = 10
    options.repr.interactive.max_columns = None
    options.repr.interactive.max_string = 80
    options.repr.interactive.show_types = True
    options.cache.default_relative_path = ".xorq_cache"


def test_singleton_and_spelling():
    # the reference spelling `xo.options` resolves to the Options singleton
    assert xo.options is options
    assert isinstance(xo.options, Options)
    assert xo.options.interactive is False
    assert isinstance(xo.options.repr.interactive, Interactive)


def test_unknown_option_rejected():
    with pytest.raises(AttributeError, match="unknown option"):
        options.interactiv = True
    with pytest.raises(AttributeError, match="unknown option"):
        options.repr.interactive.maxrows = 3


def test_validation():
    with pytest.raises(TypeError):
        options.interactive = "yes"
    with pytest.raises(TypeError):
        options.repr.interactive.max_rows = "many"
    with pytest.raises(ValueError):
        options.repr.interactive.max_rows = 0
    # max_columns accepts None (meaning: no column limit)
    options.repr.interactive.max_columns = None
    options.repr.interactive.max_columns = 3
    assert options.repr.interactive.max_columns == 3


def test_cache_and_sql_groups(monkeypatch, tmp_path):
    from xorq_spark.cache import cache_root

    assert options.sql.dialect == "spark"
    assert options.cache.default_relative_path == pathlib.Path(".xorq_cache")
    # cache_root() reads the option (relative to the working directory)
    # unless XORQ_SPARK_CACHE_DIR is set
    monkeypatch.delenv("XORQ_SPARK_CACHE_DIR", raising=False)
    monkeypatch.chdir(tmp_path)
    assert cache_root() == str(tmp_path / ".xorq_cache")
    options.cache.default_relative_path = "elsewhere/cache"
    assert cache_root() == str(tmp_path / "elsewhere" / "cache")
    monkeypatch.setenv("XORQ_SPARK_CACHE_DIR", str(tmp_path / "env"))
    assert cache_root() == str(tmp_path / "env")
    with pytest.raises(AttributeError, match="unknown option"):
        options.cache.key_prefix = "p-"


def test_env_names_match_readme_table():
    """Every XORQ_* name the library reads is in README's Configuration
    table, and the table lists no other name."""
    import re

    root = pathlib.Path(xo.__file__).parent
    used = set()
    for path in root.rglob("*.py"):
        used |= set(re.findall(r"XORQ_[A-Z0-9_]+", path.read_text()))
    readme = (root.parent / "README.md").read_text()
    section = readme.split("\n## Configuration\n", 1)[1].split("\n## ", 1)[0]
    documented = set(re.findall(r"^\| `(XORQ_[A-Z0-9_]+)`", section, re.M))
    assert used == documented


def test_backend_property(spark):
    xo.set_backend(spark)
    assert options.backend is spark


def test_repr_does_not_spin_up_session():
    # repr of the options object must not resolve backend/profiles/pins
    r = repr(options)
    assert "interactive=" in r
    assert "backend" not in r


def test_interactive_repr_renders_table(spark):
    xo.set_backend(spark)
    t = xo.memtable({"a": [1, 2, 3], "s": ["x", "yy", "zzz"]})
    options.interactive = True
    r = repr(t)
    assert "│" in r and "a" in r and "zzz" in r
    assert "bigint" in r  # show_types row
    options.repr.interactive.show_types = False
    assert "bigint" not in repr(t)


def test_interactive_repr_truncates(spark):
    xo.set_backend(spark)
    t = xo.memtable({"a": list(range(100)), "b": ["v" * 200] * 100})
    options.interactive = True
    options.repr.interactive.max_rows = 3
    options.repr.interactive.max_string = 12
    options.repr.interactive.max_columns = 1
    r = repr(t)
    assert "more rows" in r
    assert "1 more columns" in r
    assert "v" * 12 not in r  # strings clipped to max_string


def test_non_interactive_repr_is_tree(spark):
    t = xo.memtable({"a": [1]})
    assert repr(t).startswith("<Expr")


def test_alias_modules():
    import xorq_spark.api as api
    import xorq_spark.caching as caching
    from xorq_spark import cache

    assert api.deferred_read_parquet is xo.deferred_read_parquet
    assert caching.ParquetCache is cache.ParquetCache
    for name in api.__all__:
        assert getattr(api, name) is not None
    for name in caching.__all__:
        assert getattr(caching, name) is not None
