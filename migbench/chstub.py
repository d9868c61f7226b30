"""A ClickHouse-HTTP stand-in owned by the benchmark.

A stdlib ``ThreadingHTTPServer`` speaks the part of the ClickHouse HTTP
protocol the repository's ``clickhouse_http`` data source uses: the POST
body is one ``SELECT … FORMAT <fmt>`` statement, and the answer is encoded
in the format the reader negotiated (``ArrowStream``, ``Parquet`` or
``JSONEachRow``). DuckDB executes the statement over parquet files, so rows
really travel over HTTP.

The server counts what it serves, so the benchmark can report the source
layer from outside the program: data requests, wire-format probe requests,
response bytes, rows and seconds spent answering. ``fail_when`` injects a
crash: while it returns true every data request is answered with HTTP 400,
which the client does not retry.
"""

from __future__ import annotations

import io
import json
import re
import threading
import time
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

_FORMAT = re.compile(r"\s+FORMAT\s+(\w+)\s*;?\s*$", re.IGNORECASE)
PROBE_MARK = "_wire_probe"  # the column name clickhouse_http's probe selects


def split_format(sql: str) -> tuple[str, str | None]:
    """``"SELECT … FORMAT X"`` → ``("SELECT …", "X")``."""
    m = _FORMAT.search(sql)
    if m is None:
        return sql.strip(), None
    return sql[: m.start()].strip(), m.group(1)


def encode(table: pa.Table, fmt: str | None) -> bytes:
    """Encode a result the way ClickHouse would for ``FORMAT fmt``."""
    f = (fmt or "").lower()
    sink = io.BytesIO()
    if f == "arrowstream":
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
    elif f == "parquet":
        pq.write_table(table, sink)
    elif f == "jsoneachrow":
        lines = [json.dumps(r, default=str) for r in table.to_pylist()]
        return ("\n".join(lines) + "\n").encode() if lines else b""
    else:
        raise ValueError(f"format {fmt} is not served here")
    return sink.getvalue()


class CHStub:
    """``with CHStub({"orders": path}) as stub:`` serves ``stub.url``."""

    def __init__(self, tables: dict[str, str]) -> None:
        # one thread: the stub's own CPU counts in the benchmark's process
        # tree, and a small scan gains nothing from more
        self._con = duckdb.connect(config={"threads": 1})
        for name, path in tables.items():
            self._con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        self._lock = threading.Lock()
        self.fail_when: Callable[[], bool] | None = None
        self.counters = dict.fromkeys(
            ("requests", "probes", "failed", "wire_bytes", "rows", "server_s"), 0
        )
        self._server = ThreadingHTTPServer(("127.0.0.1", 0), self._handler())
        self._server.daemon_threads = True
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="chstub", daemon=True
        )

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/"

    def snapshot(self) -> dict:
        with self._lock:
            return dict(self.counters)

    def answer(self, sql: str) -> tuple[int, bytes]:
        """Execute one request body; returns (HTTP status, response body)."""
        t0 = time.perf_counter()
        query, fmt = split_format(sql)
        probe = PROBE_MARK in query
        if not probe and self.fail_when is not None and self.fail_when():
            status, body, rows = 400, b"Code: 999. DB::Exception: injected failure", 0
        else:
            cur = self._con.cursor()
            try:
                table = cur.execute(query).arrow()
                status, body, rows = 200, encode(table, fmt), table.num_rows
            except (duckdb.Error, ValueError) as exc:
                status, body, rows = 400, f"Code: 62. DB::Exception: {exc}".encode(), 0
            finally:
                cur.close()
        with self._lock:
            c = self.counters
            c["probes" if probe else "requests"] += 1
            c["failed"] += status != 200
            c["wire_bytes"] += len(body)
            c["rows"] += rows
            c["server_s"] += time.perf_counter() - t0
        return status, body

    def _handler(self):
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # keep stderr quiet
                pass

            def do_POST(self) -> None:
                n = int(self.headers.get("Content-Length", 0))
                status, body = stub.answer(self.rfile.read(n).decode())
                self.send_response(status)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        return Handler

    def __enter__(self) -> CHStub:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
        self._con.close()
