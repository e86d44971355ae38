"""Arrow Flight serving of expressions.

Reference: `flight_serve(expr)` (expr/relations.py:525) unbinds an
expression and serves it on an Arrow Flight gRPC server; clients stream
input batches through `do_exchange`, the server binds them to the
expression's UnboundTable and streams result batches back
(UnboundExprExchanger, flight/exchanger.py:38,102).

Spark-first: the bound stream becomes a memtable DataFrame in the
serving session, the expression lowers and executes on the cluster, and
the Arrow result streams out. `do_get` additionally serves fully-bound
expressions by name (the Flight-backend table case, flight/backend.py:41).

Gated behind an import-try per environment rules; pyarrow ships flight
in this container.
"""

from __future__ import annotations

import threading
from typing import Dict, Optional

try:
    import pyarrow.flight as _fl

    HAVE_FLIGHT = True
except ImportError:  # pragma: no cover
    _fl = None
    HAVE_FLIGHT = False

import pyarrow as pa

from xorq_spark.expr import nodes as N
from xorq_spark.expr.core import Expr


def _require_flight():
    if not HAVE_FLIGHT:  # pragma: no cover
        raise ImportError("pyarrow.flight is not available in this environment")


def unbind(expr: Expr, name: str = "input") -> Expr:
    """Replace every source leaf with one UnboundTable template (the
    reference's unbind step before serving). Single-source graphs only —
    multi-source serving binds by leaf name via `bindings`."""
    import dataclasses

    def rewrite(node: N.RNode) -> N.RNode:
        if isinstance(node, (N.ReadParquet, N.ReadCSV, N.ReadJSON, N.ReadORC, N.Memtable, N.TableRef)):
            schema = getattr(node, "schema", None) or ""
            return N.UnboundTable(name, schema or "")
        changes = {}
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            if isinstance(v, N.RNode):
                nv = rewrite(v)
                if nv is not v:
                    changes[f.name] = nv
        return dataclasses.replace(node, **changes) if changes else node

    return Expr(rewrite(expr.node), expr._spark)


if HAVE_FLIGHT:

    class ExprFlightServer(_fl.FlightServerBase):
        """Serves expressions over gRPC.

        - do_exchange(command=<expr name>): stream a table in, get the
          expression evaluated over it streamed back.
        - do_get(ticket=<expr name>): run a fully-bound expression.
        """

        def __init__(self, spark, location: str = "grpc://127.0.0.1:0",
                     middleware=None):
            super().__init__(location, middleware=middleware)
            self.spark = spark
            self._exprs: Dict[str, Expr] = {}
            self._unbound_names: Dict[str, str] = {}

        # -- registry -------------------------------------------------------
        def register_expr(self, name: str, expr: Expr, unbound_name: str = "input"):
            self._exprs[name] = expr
            self._unbound_names[name] = unbound_name
            return self

        @property
        def endpoint(self) -> str:
            return f"grpc://127.0.0.1:{self.port}"

        # -- RPC handlers ---------------------------------------------------
        def do_exchange(self, context, descriptor, reader, writer):
            name = descriptor.command.decode()
            expr = self._exprs[name]
            # bind straight from Arrow: a pandas hop turns a nullable
            # int64 into double and narrows decimal precision
            df = self.spark.createDataFrame(reader.read_all())
            out = expr.to_spark(self.spark, bindings={self._unbound_names[name]: df})
            result = out.toArrow()
            writer.begin(result.schema)
            writer.write_table(result)

        def do_get(self, context, ticket):
            name = ticket.ticket.decode()
            expr = self._exprs[name]
            return _fl.RecordBatchStream(expr.to_pyarrow(self.spark))

        def list_flights(self, context, criteria):
            for name, expr in self._exprs.items():
                yield _fl.FlightInfo(
                    pa.schema([]),
                    _fl.FlightDescriptor.for_command(name.encode()),
                    [],
                    -1,
                    -1,
                )


class BasicAuth:
    """Username/password pair for Flight serving (reference:
    flight/__init__.py:115 BasicAuth)."""

    def __init__(self, username: str, password: str):
        self.username = username
        self.password = password

    @property
    def header(self) -> tuple:
        import base64

        tok = base64.b64encode(
            f"{self.username}:{self.password}".encode()
        ).decode()
        return (b"authorization", f"Basic {tok}".encode())


class FlightUrl:
    """Location descriptor with free-port binding (reference:
    flight/__init__.py:41 FlightUrl). port=None claims an OS-assigned
    free port up front so the location is printable before serving."""

    def __init__(self, scheme: str = "grpc", host: str = "127.0.0.1",
                 port: Optional[int] = None):
        import socket

        self.scheme, self.host = scheme, host
        if port is None:
            with socket.socket(socket.AF_INET, socket.SOCK_STREAM) as s:
                s.bind((host, 0))
                port = s.getsockname()[1]
        self.port = port

    def to_location(self) -> str:
        return f"{self.scheme}://{self.host}:{self.port}"


if HAVE_FLIGHT:

    class _BasicAuthMiddlewareFactory(_fl.ServerMiddlewareFactory):
        """Rejects any call whose authorization header doesn't match a
        registered user (reference: to_basic_auth_middleware)."""

        def __init__(self, users: Dict[str, str]):
            self._expect = {BasicAuth(u, p).header[1] for u, p in users.items()}

        def start_call(self, info, headers):
            got = headers.get("authorization") or headers.get(b"authorization")
            vals = [v.encode() if isinstance(v, str) else v for v in (got or [])]
            if not any(v in self._expect for v in vals):
                raise _fl.FlightUnauthenticatedError("invalid credentials")


class FlightServer:
    """Reference-shaped server facade (flight/__init__.py:133):
    constructs the session-bound expr server on a FlightUrl, optionally
    behind basic auth, and manages its lifecycle."""

    def __init__(self, url: Optional[FlightUrl] = None, spark=None,
                 auth: Optional[BasicAuth] = None):
        _require_flight()
        from xorq_spark.session import get_spark

        self.url = url or FlightUrl()
        middleware = (
            {"basic": _BasicAuthMiddlewareFactory(
                {auth.username: auth.password})}
            if auth is not None
            else None
        )
        self.server = ExprFlightServer(
            spark or get_spark(), self.url.to_location(), middleware=middleware
        )
        self.auth = auth
        self._thread: Optional[threading.Thread] = None

    def register_expr(self, name: str, expr: Expr, unbound_name: str = "input"):
        self.server.register_expr(name, expr, unbound_name)
        return self

    def serve(self) -> "FlightServer":
        self._thread = threading.Thread(target=self.server.serve, daemon=True)
        self._thread.start()
        return self

    @property
    def endpoint(self) -> str:
        return f"grpc://{self.url.host}:{self.server.port}"

    def close(self):
        self.server.shutdown()

    def __enter__(self):
        return self.serve()

    def __exit__(self, *exc):
        self.close()


class FlightClient:
    """Thin client carrying auth headers on every call (reference:
    flight/__init__.py:280 connect)."""

    def __init__(self, endpoint: str, auth: Optional[BasicAuth] = None):
        _require_flight()
        self._client = _fl.connect(endpoint)
        self._opts = (
            _fl.FlightCallOptions(headers=[auth.header]) if auth else None
        )

    def exchange(self, name: str, table: pa.Table) -> pa.Table:
        desc = _fl.FlightDescriptor.for_command(name.encode())
        writer, reader = self._client.do_exchange(desc, self._opts)
        writer.begin(table.schema)
        writer.write_table(table)
        writer.done_writing()
        out = reader.read_all()
        writer.close()
        return out

    def get(self, name: str) -> pa.Table:
        return self._client.do_get(
            _fl.Ticket(name.encode()), self._opts
        ).read_all()

    def close(self):
        self._client.close()


def connect(host: str = "127.0.0.1", port: Optional[int] = None,
            username: Optional[str] = None, password: Optional[str] = None) -> FlightClient:
    """Reference-named client constructor."""
    auth = BasicAuth(username, password) if username is not None else None
    return FlightClient(f"grpc://{host}:{port}", auth)


def flight_serve(
    expr: Expr, spark=None, name: str = "expr", location: str = "grpc://127.0.0.1:0",
    unbound_name: str = "input",
):
    """Start a background Flight server for `expr`; returns the server
    (with .endpoint). Caller shuts down with server.shutdown()."""
    _require_flight()
    from xorq_spark.session import get_spark

    server = ExprFlightServer(spark or get_spark(), location)
    server.register_expr(name, expr, unbound_name)
    # the port is bound at construction; serve() only drives the loop
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    return server


def flight_exchange(endpoint: str, name: str, table: pa.Table) -> pa.Table:
    """Client helper: stream `table` through the served expression."""
    _require_flight()
    client = _fl.connect(endpoint)
    desc = _fl.FlightDescriptor.for_command(name.encode())
    writer, reader = client.do_exchange(desc)
    writer.begin(table.schema)
    writer.write_table(table)
    writer.done_writing()
    out = reader.read_all()
    writer.close()
    client.close()
    return out


def flight_get(endpoint: str, name: str) -> pa.Table:
    """Client helper: fetch a bound expression's full result."""
    _require_flight()
    client = _fl.connect(endpoint)
    out = client.do_get(_fl.Ticket(name.encode())).read_all()
    client.close()
    return out
