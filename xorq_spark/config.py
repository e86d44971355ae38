"""Global options, mirroring the reference's ``xorq.config`` surface.

The reference (xorq/config.py, which subclasses the vendored
ibis.config.Config) exposes a singleton ``xo.options`` with nested
``repr.interactive`` display knobs, ``sql.dialect``, ``cache`` paths,
a ``backend`` property resolving the default backend, and the
top-level ``interactive`` switch that makes ``repr(expr)`` execute the
expression and print a preview table instead of the logical tree.

This is an independent implementation: plain Python property-validated
classes (no vendored ibis), with the same attribute spellings so
reference code like ``xo.options.interactive = True`` or
``xo.options.repr.interactive.max_rows = 20`` runs unchanged.
"""

from __future__ import annotations

import pathlib
from typing import Optional


class Config:
    """Attribute container that rejects unknown option names.

    Assigning an attribute not declared on the class raises, so typos
    like ``options.interactiv = True`` fail loudly instead of silently
    creating a dead knob (same contract as ibis.config.Config).
    """

    __slots__ = ()

    def __setattr__(self, name, value):
        if name.startswith("_") or hasattr(type(self), name):
            object.__setattr__(self, name, value)
        else:
            raise AttributeError(
                f"unknown option {name!r} on {type(self).__name__}; "
                f"valid options: {sorted(self._option_names())}"
            )

    @classmethod
    def _option_names(cls):
        return [
            n
            for n in dir(cls)
            if not n.startswith("_") and n not in ("get", "set")
        ]

    _repr_exclude: tuple = ()

    def __repr__(self):
        parts = []
        for n in sorted(self._option_names()):
            if n in self._repr_exclude:
                continue
            try:
                parts.append(f"{n}={getattr(self, n)!r}")
            except Exception:  # unresolvable lazily (no session, gated dep)
                parts.append(f"{n}=<unavailable>")
        return f"{type(self).__name__}({', '.join(parts)})"


def _int_property(name, default, minimum=None, none_ok=False):
    attr = "_" + name

    def get(self):
        return getattr(self, attr, default)

    def set(self, value):
        if value is None and none_ok:
            object.__setattr__(self, attr, None)
            return
        if not isinstance(value, int) or isinstance(value, bool):
            raise TypeError(f"{name} must be an int, got {value!r}")
        if minimum is not None and value < minimum:
            raise ValueError(f"{name} must be >= {minimum}, got {value}")
        object.__setattr__(self, attr, value)

    return property(get, set)


def _bool_property(name, default):
    attr = "_" + name

    def get(self):
        return getattr(self, attr, default)

    def set(self, value):
        if not isinstance(value, bool):
            raise TypeError(f"{name} must be a bool, got {value!r}")
        object.__setattr__(self, attr, value)

    return property(get, set)


class Interactive(Config):
    """Options controlling the interactive repr (preview table).

    Defaults follow the reference's vendored ibis repr options.
    """

    __slots__ = (
        "_max_rows",
        "_max_columns",
        "_max_length",
        "_max_string",
        "_max_depth",
        "_show_types",
    )

    max_rows = _int_property("max_rows", 10, minimum=1)
    max_columns = _int_property("max_columns", None, minimum=1, none_ok=True)
    max_length = _int_property("max_length", 2, minimum=0)
    max_string = _int_property("max_string", 80, minimum=1)
    max_depth = _int_property("max_depth", 1, minimum=1)
    show_types = _bool_property("show_types", True)


class Repr(Config):
    """Expression printing options."""

    __slots__ = ("_interactive",)

    @property
    def interactive(self) -> Interactive:
        inst = getattr(self, "_interactive", None)
        if inst is None:
            inst = Interactive()
            object.__setattr__(self, "_interactive", inst)
        return inst


class SQL(Config):
    """SQL-related options.

    ``dialect`` names the dialect used when printing SQL without a
    bound engine. Ours compiles to Spark SQL; the reference default is
    its default engine's dialect, so the spelling differs by design.
    """

    __slots__ = ("_dialect",)

    @property
    def dialect(self) -> str:
        return getattr(self, "_dialect", "spark")

    @dialect.setter
    def dialect(self, value: str):
        if not isinstance(value, str) or not value:
            raise TypeError(f"dialect must be a non-empty str, got {value!r}")
        object.__setattr__(self, "_dialect", value)


class Cache(Config):
    """Cache configuration (reference: xorq/config.py Cache).

    ``default_relative_path`` is where cache artifacts land relative to
    the working directory when ``XORQ_SPARK_CACHE_DIR`` is unset (read
    by ``cache.cache_root()`` at each lookup).
    """

    __slots__ = ("_default_relative_path",)

    @property
    def default_relative_path(self):
        return getattr(self, "_default_relative_path", pathlib.Path(".xorq_cache"))

    @default_relative_path.setter
    def default_relative_path(self, value):
        object.__setattr__(self, "_default_relative_path", pathlib.Path(value))


class Options(Config):
    """Top-level options singleton (``xorq_spark.options``).

    Reference parity (xorq/config.py Options): ``interactive`` toggles
    the executing repr, ``repr``/``sql``/``cache`` nest the groups,
    ``backend`` resolves the default backend, ``profiles`` exposes the
    connection-profile collection.
    """

    __slots__ = ("_interactive_flag", "_repr", "_sql", "_cache", "_default_backend")

    # side-effectful to resolve (session spin-up / gated deps) — keep
    # out of repr, still first-class attributes
    _repr_exclude = ("backend", "profiles", "pins")

    @property
    def interactive(self) -> bool:
        return getattr(self, "_interactive_flag", False)

    @interactive.setter
    def interactive(self, value: bool):
        if not isinstance(value, bool):
            raise TypeError(f"interactive must be a bool, got {value!r}")
        object.__setattr__(self, "_interactive_flag", value)

    @property
    def repr(self) -> Repr:
        inst = getattr(self, "_repr", None)
        if inst is None:
            inst = Repr()
            object.__setattr__(self, "_repr", inst)
        return inst

    @property
    def sql(self) -> SQL:
        inst = getattr(self, "_sql", None)
        if inst is None:
            inst = SQL()
            object.__setattr__(self, "_sql", inst)
        return inst

    @property
    def cache(self) -> Cache:
        inst = getattr(self, "_cache", None)
        if inst is None:
            inst = Cache()
            object.__setattr__(self, "_cache", inst)
        return inst

    @property
    def backend(self):
        """The default backend (reference: Options.backend -> BaseBackend)."""
        from xorq_spark.session import get_backend

        return get_backend()

    @backend.setter
    def backend(self, value):
        from xorq_spark.session import set_backend

        set_backend(value)

    @property
    def profiles(self):
        """The connection-profile collection (reference: options.profiles)."""
        from xorq_spark.profiles import profiles as _profiles

        return _profiles

    @property
    def pins(self):  # pragma: no cover - gated: no pins client in container
        raise NotImplementedError(
            "pin boards (reference Options.pins) need the `pins` package, "
            "which is not available in this environment"
        )


options = Options()


__all__ = ["Config", "Interactive", "Repr", "SQL", "Cache", "Options", "options"]
