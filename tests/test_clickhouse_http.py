"""Round-trip tests for the ClickHouse HTTP transport: the
``clickhouse_http`` data source and the wire helpers it shares.

A stdlib ``ThreadingHTTPServer`` stands in for ClickHouse: it accepts the
documented HTTP protocol (POST body = SQL; ``SELECT … FORMAT <fmt>``
responses; ``INSERT INTO … FORMAT JSONEachRow|Parquet`` with inline data) and
executes queries against an embedded DuckDB loaded with the sf0.001 parquet
fixtures. That exercises the identical request/parse/partition code path a
live server would see — rows genuinely move over HTTP, executor-side, in
parallel — without needing a ClickHouse binary in the sandbox.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import duckdb
import pytest
from pyspark.sql import functions as F

from clickhousemigrators3_spark.sources.clickhouse_ds import (
    ClickHouseHTTPDataSource,
)
from clickhousemigrators3_spark.sources.clickhouse_http import (
    build_select,
    command_http,
    http_url,
    query_scalar_http,
)

SF_DIR = "/root/testdata/sf0.001"


# ClickHouse string literals are C-style: '\\' escapes, '' quote-doubling.
# The stub parses them faithfully and re-emits DuckDB-semantics literals
# (backslash NOT special), so escaping bugs in compiled SQL surface as
# wrong rows / syntax errors here exactly as they would on a live server.
_CH_LITERAL = re.compile(r"'(?:\\.|''|[^'\\])*'")
_CH_UNESCAPE = {
    "\\": "\\", "'": "'", "n": "\n", "t": "\t", "r": "\r",
    "0": "\0", "b": "\b", "f": "\f", "a": "\a", "v": "\v",
}


def _ch_literal_to_duckdb(m: re.Match) -> str:
    body = m.group(0)[1:-1]
    out: list[str] = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            out.append(_CH_UNESCAPE.get(body[i + 1], body[i + 1]))
            i += 2
        elif c == "'" and i + 1 < len(body) and body[i + 1] == "'":
            out.append("'")
            i += 2
        else:
            out.append(c)
            i += 1
    return "'" + "".join(out).replace("'", "''") + "'"


class _StubClickHouse:
    """Minimal ClickHouse-HTTP-speaking server backed by DuckDB."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.lock = threading.Lock()
        self.received: list[str] = []
        self.auth_seen: list[dict] = []
        self.fail_next = 0  # make the next N requests 503 (retry testing)
        self.last_written = 0  # rows of the last INSERT (summary header)
        self.lie_written_rows = False  # make the summary lie (witness test)
        self.gzip_bodies = 0  # request bodies that arrived gzip-encoded
        self.formats: set[str] | None = None  # None = every FORMAT supported
        for t in ("nation", "customer", "orders"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
            )
        self.con.execute(
            "CREATE TABLE sink (o_orderkey BIGINT, o_totalprice DOUBLE)"
        )

        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence per-request stderr noise
                pass

            def do_POST(self) -> None:
                stub.auth_seen.append(
                    {
                        k.lower(): v
                        for k, v in self.headers.items()
                        if k.lower().startswith("x-clickhouse")
                    }
                )
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                if self.headers.get("Content-Encoding", "") == "gzip":
                    import gzip

                    body = gzip.decompress(body)
                    stub.gzip_bodies += 1
                if stub.fail_next > 0:
                    stub.fail_next -= 1
                    self.send_response(503)
                    self.end_headers()
                    self.wfile.write(b"simulated transient failure")
                    return
                try:
                    out = stub.execute(body)
                except Exception as exc:  # noqa: BLE001 — stub surfaces as 500
                    self.send_response(500)
                    self.end_headers()
                    self.wfile.write(str(exc).encode())
                    return
                self.send_response(200)
                # the documented execution-stats headers a real server sends
                # (X-ClickHouse-Summary always; repeated progress headers
                # when send_progress_in_http_headers=1)
                written = stub.last_written
                if stub.lie_written_rows == "under" and written:
                    written -= 1
                elif stub.lie_written_rows == "over" and written:
                    # a real server with a materialized view attached to the
                    # target legitimately reports MORE than the body
                    written += 3
                elif stub.lie_written_rows == "zero":
                    # replicated-table insert dedup reports 0 for a
                    # replayed block — a legitimate successful no-op
                    written = 0
                self.send_header(
                    "X-ClickHouse-Progress",
                    json.dumps({"read_rows": "1", "read_bytes": "8"}),
                )
                self.send_header(
                    "X-ClickHouse-Summary",
                    json.dumps(
                        {
                            "read_rows": "0",
                            "read_bytes": "0",
                            "written_rows": str(written),
                            "written_bytes": str(written * 8),
                        }
                    ),
                )
                # compress whenever the client advertises gzip, as a real
                # server with enable_http_compression does — every test then
                # exercises the transport's transparent inflate path
                if out and "gzip" in self.headers.get("Accept-Encoding", ""):
                    import gzip

                    out = gzip.compress(out)
                    self.send_header("Content-Encoding", "gzip")
                self.end_headers()
                self.wfile.write(out)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.url = http_url("127.0.0.1", self.server.server_address[1])

    def execute(self, sql: str | bytes) -> bytes:
        with self.lock:
            self.last_written = 0
            if isinstance(sql, bytes):
                pm = re.match(rb"INSERT INTO (\w+) FORMAT Parquet\n(.*)", sql, re.S)
                if pm:
                    import io

                    import pyarrow.parquet as pq

                    table = pm.group(1).decode()
                    self.received.append(
                        f"INSERT INTO {table} FORMAT Parquet <binary>"
                    )
                    tbl = pq.read_table(io.BytesIO(pm.group(2)))
                    self.con.register("_parquet_ins", tbl)
                    self.con.execute(
                        f"INSERT INTO {table} SELECT * FROM _parquet_ins"
                    )
                    self.con.unregister("_parquet_ins")
                    self.last_written = tbl.num_rows
                    return b""
                sql = sql.decode()
            self.received.append(sql)
            m = re.match(r"INSERT INTO (\w+) FORMAT JSONEachRow\n(.*)", sql, re.S)
            if m:
                rows = [json.loads(line) for line in m.group(2).splitlines() if line]
                cols = list(rows[0])
                ph = ", ".join("?" for _ in cols)
                self.con.executemany(
                    f"INSERT INTO {m.group(1)} ({', '.join(cols)}) VALUES ({ph})",
                    [[r[c] for c in cols] for r in rows],
                )
                self.last_written = len(rows)
                return b""
            fmt = "TabSeparated"
            fm = re.search(r"\s+FORMAT\s+(\w+)\s*$", sql)
            if fm:
                fmt = fm.group(1)
                sql = sql[: fm.start()]
            if self.formats is not None and fmt not in self.formats:
                # real ClickHouse responds with an error page for a FORMAT
                # it can't serve — negotiation must treat that as refusal
                raise ValueError(f"Unknown output format {fmt}")
            sql = _CH_LITERAL.sub(_ch_literal_to_duckdb, sql)
            if not sql.lstrip().upper().startswith(("SELECT", "WITH")):
                self.con.execute(sql)  # DDL / command path
                return b""
            rel = self.con.execute(sql)
            if fmt == "Parquet":
                import io

                import pyarrow.parquet as pq

                buf = io.BytesIO()
                pq.write_table(rel.arrow(), buf)
                return buf.getvalue()
            if fmt in ("Arrow", "ArrowStream"):
                import io

                import pyarrow as pa

                tbl = rel.arrow()
                buf = io.BytesIO()
                new = pa.ipc.new_file if fmt == "Arrow" else pa.ipc.new_stream
                with new(buf, tbl.schema) as w:
                    w.write_table(tbl)
                return buf.getvalue()
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            if fmt == "JSONEachRow":
                return "\n".join(
                    json.dumps(dict(zip(cols, r)), default=str) for r in rows
                ).encode()
            if fmt == "JSON":
                return json.dumps(
                    {"data": [dict(zip(cols, r)) for r in rows]}, default=str
                ).encode()
            return "\n".join("\t".join(map(str, r)) for r in rows).encode()

    def close(self) -> None:
        self.server.shutdown()
        self.con.close()


@pytest.fixture(scope="module")
def stub():
    s = _StubClickHouse()
    yield s
    s.close()


def read_ch(spark, url, table, schema, **options):
    """``spark.read.format("clickhouse_http")`` over one table."""
    spark.dataSource.register(ClickHouseHTTPDataSource)
    return (
        spark.read.format("clickhouse_http")
        .schema(schema)
        .options(url=url, table=table, **options)
        .load()
    )


def write_ch(df, url, table, mode="append", **options):
    """``df.write.format("clickhouse_http")`` into one table."""
    df.sparkSession.dataSource.register(ClickHouseHTTPDataSource)
    (
        df.write.format("clickhouse_http")
        .options(url=url, table=table, **options)
        .mode(mode)
        .save()
    )


def data_selects(stub, table):
    """The data SELECTs the stub saw for ``table`` (wire probes excluded)."""
    return [
        s
        for s in stub.received
        if s.startswith("SELECT") and f"FROM {table}" in s
    ]


def test_build_select_golden():
    assert (
        build_select("default.orders")
        == "SELECT * FROM default.orders FORMAT JSONEachRow"
    )
    assert build_select(
        "orders",
        columns=["o_orderkey", "o_totalprice"],
        predicate="o_totalprice > 1000",
        partition_column="o_orderkey",
        lower=0,
        upper=500,
    ) == (
        "SELECT o_orderkey, o_totalprice FROM orders"
        " WHERE (o_totalprice > 1000) AND o_orderkey >= 0 AND o_orderkey < 500"
        " FORMAT JSONEachRow"
    )


def test_partitioned_read_round_trip(spark, duck, stub):
    """8 range partitions over o_orderkey; union must equal the table."""
    schema = "o_orderkey long, o_custkey long, o_totalprice double"
    hi = duck.execute(
        f"SELECT max(o_orderkey) + 1 FROM '{SF_DIR}/orders.parquet'"
    ).fetchone()[0]
    stub.received.clear()
    df = read_ch(
        spark,
        stub.url,
        "orders",
        schema,
        partition_column="o_orderkey",
        lower=0,
        upper=int(hi),
        num_partitions=8,
    )
    got = df.orderBy("o_orderkey").collect()
    want = duck.execute(
        "SELECT o_orderkey, o_custkey, o_totalprice "
        f"FROM '{SF_DIR}/orders.parquet' ORDER BY o_orderkey"
    ).fetchall()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # one bounded request per partition (the orderBy's sampling job reads
    # the source again)
    assert len(data_selects(stub, "orders")) >= 8


def test_predicate_is_pushed_to_server(spark, stub):
    stub.received.clear()
    schema = "o_orderkey long, o_totalprice double"
    df = read_ch(
        spark,
        stub.url,
        "orders",
        schema,
        partition_column="o_orderkey",
        lower=0,
        upper=10000,
        num_partitions=4,
        predicate="o_totalprice > 150000",
    )
    rows = df.collect()
    assert rows and all(r.o_totalprice > 150000 for r in rows)
    # every request the server saw carried the predicate; interior slices
    # carry both range bounds, the edge slices are unbounded on their outer
    # side (JDBC-partitioner parity: bounds slice, they don't filter)
    selects = [
        s
        for s in stub.received
        if s.startswith("SELECT") and "_wire_probe" not in s
    ]
    assert len(selects) == 4
    assert all("(o_totalprice > 150000)" in s for s in selects)
    assert sum("o_orderkey >=" in s for s in selects) == 3  # all but first
    assert sum("o_orderkey <" in s for s in selects) == 3  # all but last


def test_unpartitioned_read_single_request(spark, stub):
    stub.received.clear()
    schema = "n_nationkey long, n_name string"
    df = read_ch(spark, stub.url, "nation", schema)
    assert df.count() == 25
    assert len(data_selects(stub, "nation")) == 1


def test_write_then_scalar_validation(spark, stub):
    """Sink + the reference's count-validation probe, both over HTTP."""
    src = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(100)],
        "o_orderkey long, o_totalprice double",
    ).repartition(4)
    # its own table: other tests append to the shared sink in any order
    stub.execute("CREATE TABLE scalar_sink (o_orderkey BIGINT, o_totalprice DOUBLE)")
    stub.received.clear()
    write_ch(src, stub.url, "scalar_sink")
    assert query_scalar_http(stub.url, "SELECT count(*) FROM scalar_sink") == 100
    total = query_scalar_http(stub.url, "SELECT sum(o_totalprice) FROM scalar_sink")
    assert abs(float(total) - sum(i * 1.5 for i in range(100))) < 1e-6
    inserts = [s for s in stub.received if s.startswith("INSERT")]
    assert len(inserts) == 4  # one INSERT per input partition, executor-side


def test_full_migration_over_http(spark, duck, stub, tmp_path):
    """The reference's north-star flow end-to-end with its native transport:
    partitioned HTTP pull → staged partitioned parquet write → per-partition
    count+checksum validation → atomic swap. Rows genuinely cross the wire."""
    from clickhousemigrators3_spark.config import MigrationConfig
    from clickhousemigrators3_spark.operators.migrate import migrate_single_table

    hi = int(
        duck.execute(
            f"SELECT max(o_orderkey) + 1 FROM '{SF_DIR}/orders.parquet'"
        ).fetchone()[0]
    )

    def loader(s, table):
        return read_ch(
            s,
            stub.url,
            table,
            "o_orderkey long, o_custkey long, o_totalprice double",
            partition_column="o_orderkey",
            lower=0,
            upper=hi,
            num_partitions=4,
        )

    cfg = MigrationConfig(
        dest_dir=str(tmp_path / "dest"),
        table="orders",
        partition_keys=["bucket"],
        derived_partitions={"bucket": "pmod(o_orderkey, 4)"},
        insert_interval=0,
        lock_dir=str(tmp_path / "locks"),
        progress_path=str(tmp_path / "progress.json"),
        report_dir=str(tmp_path / "reports"),
        checksum=True,
        source_loader=loader,
    )
    sent = len(stub.received)
    res = migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "completed", res["error"]
    assert res["total_partitions"] == 4
    assert all(c["passed"] for c in res["check_results"])
    # discovery (which also counts the rows), copy and validation each read
    # the 4 slices once; wire-format probes are not data reads
    data_selects = [
        q for q in stub.received[sent:]
        if q.lstrip().upper().startswith("SELECT") and "_wire_probe" not in q
    ]
    assert len(data_selects) == 3 * 4, data_selects

    out = spark.read.parquet(str(tmp_path / "dest" / "orders"))
    n, total = duck.execute(
        f"SELECT count(*), sum(o_totalprice) FROM '{SF_DIR}/orders.parquet'"
    ).fetchone()
    assert out.count() == res["migrated_rows"] == n
    got_total = out.agg({"o_totalprice": "sum"}).collect()[0][0]
    assert abs(got_total - float(total)) < 1e-6


def test_command_ddl_round_trip(stub):
    command_http(stub.url, "CREATE TABLE tmp_ddl (x BIGINT)")
    command_http(stub.url, "DROP TABLE tmp_ddl")
    assert any("CREATE TABLE tmp_ddl" in s for s in stub.received)


def test_http_error_surfaces_clearly(spark, stub):
    """A server-side error (HTTP 500) must fail the read loudly, not yield
    silent empty partitions — the migration gate depends on that."""
    df = read_ch(spark, stub.url, "no_such_table", "x long")
    with pytest.raises(Exception) as ei:
        df.count()
    assert "500" in str(ei.value) or "HTTP" in str(ei.value)


def test_http_empty_result_yields_empty_frame(spark, stub):
    for fmt in ("ArrowStream", "Parquet", "JSONEachRow"):
        df = read_ch(
            spark,
            stub.url,
            "orders",
            "o_orderkey long, o_totalprice double",
            predicate="o_totalprice < 0",  # matches nothing
            wire_format=fmt,
        )
        assert df.count() == 0, fmt
        assert df.columns == ["o_orderkey", "o_totalprice"]


def test_incremental_sync_cursor_and_replay(spark, stub, tmp_path):
    """Two sync rounds over a growing table: only new rows move; replaying
    a batch (crash between write and state update) is a no-op overwrite."""
    from clickhousemigrators3_spark.sources.clickhouse_http import (
        incremental_sync,
    )

    stub.execute("CREATE TABLE inc (id BIGINT, v DOUBLE)")
    stub.execute(
        "INSERT INTO inc FORMAT JSONEachRow\n"
        + "\n".join(json.dumps({"id": i, "v": i / 2}) for i in range(1, 51))
    )
    schema = spark.createDataFrame([], "id long, v double").schema
    dest = str(tmp_path / "inc_dest")
    state = str(tmp_path / "inc_state.json")

    r1 = incremental_sync(spark, stub.url, "inc", schema, "id", dest, state)
    assert r1["rows"] == 50 and r1["cursor"] == 50

    # second call with no new rows: nothing moves
    r2 = incremental_sync(spark, stub.url, "inc", schema, "id", dest, state)
    assert r2["rows"] == 0 and r2["cursor"] == 50

    # source grows; only the delta syncs
    stub.execute(
        "INSERT INTO inc FORMAT JSONEachRow\n"
        + "\n".join(json.dumps({"id": i, "v": i / 2}) for i in range(51, 81))
    )
    r3 = incremental_sync(spark, stub.url, "inc", schema, "id", dest, state)
    assert r3["rows"] == 30 and r3["cursor"] == 80
    total = spark.read.parquet(dest)
    assert total.count() == 80
    assert total.select("id").distinct().count() == 80

    # crash-replay: reset state to the previous watermark and re-sync —
    # the batch partition is overwritten in place, so still no duplicates
    with open(state, "w") as f:
        json.dump({"cursor": 50, "table": "inc"}, f)
    r4 = incremental_sync(spark, stub.url, "inc", schema, "id", dest, state)
    assert r4["rows"] == 30 and r4["cursor"] == 80
    replayed = spark.read.parquet(dest)
    assert replayed.count() == 80
    assert replayed.select("id").distinct().count() == 80


def test_incremental_sync_single_read_pass(spark, stub, tmp_path):
    """Each sync cycle must read the unsynced tail exactly once: one tiny
    scalar max(cursor) probe plus num_partitions bounded data SELECTs — not
    the old probe-then-reread double pass."""
    from clickhousemigrators3_spark.sources.clickhouse_http import (
        incremental_sync,
    )

    stub.execute("CREATE TABLE inc1p (id BIGINT, v DOUBLE)")
    stub.execute(
        "INSERT INTO inc1p FORMAT JSONEachRow\n"
        + "\n".join(json.dumps({"id": i, "v": i / 2}) for i in range(1, 31))
    )
    schema = spark.createDataFrame([], "id long, v double").schema
    stub.received.clear()
    r = incremental_sync(
        spark,
        stub.url,
        "inc1p",
        schema,
        "id",
        str(tmp_path / "dest"),
        str(tmp_path / "state.json"),
        num_partitions=4,
    )
    assert r["rows"] == 30
    reads = [s for s in stub.received if s.startswith("SELECT") and "FROM inc1p" in s]
    probes = [s for s in reads if "max(id)" in s]
    data_reads = [s for s in reads if "max(id)" not in s]
    assert len(probes) == 1
    assert len(data_reads) == 4  # one bounded SELECT per partition, one pass


def test_incremental_sync_crash_with_concurrent_inserts(spark, stub, tmp_path):
    """The intent record makes replay safe even when rows arrive between a
    crashed batch write and its retry: the retry re-lands the SAME
    _sync_batch partition (the promised hi), never a wider range under a
    new partition — no duplicated rows across batches."""
    from clickhousemigrators3_spark.sources.clickhouse_http import (
        incremental_sync,
    )

    stub.execute("CREATE TABLE incc (id BIGINT, v DOUBLE)")
    stub.execute(
        "INSERT INTO incc FORMAT JSONEachRow\n"
        + "\n".join(json.dumps({"id": i, "v": i / 2}) for i in range(1, 51))
    )
    schema = spark.createDataFrame([], "id long, v double").schema
    dest = str(tmp_path / "dest")
    state = str(tmp_path / "state.json")

    r1 = incremental_sync(spark, stub.url, "incc", schema, "id", dest, state)
    assert r1["rows"] == 50 and r1["cursor"] == 50

    # grow the source, sync the delta — then simulate a crash AFTER the
    # batch write but BEFORE the watermark persisted, with yet more rows
    # arriving before the retry
    stub.execute(
        "INSERT INTO incc FORMAT JSONEachRow\n"
        + "\n".join(json.dumps({"id": i, "v": i / 2}) for i in range(51, 81))
    )
    r2 = incremental_sync(spark, stub.url, "incc", schema, "id", dest, state)
    assert r2["rows"] == 30 and r2["cursor"] == 80
    with open(state, "w") as f:  # rewind to the crashed intermediate state
        json.dump({"cursor": 50, "intent_hi": 80, "table": "incc"}, f)
    stub.execute(
        "INSERT INTO incc FORMAT JSONEachRow\n"
        + "\n".join(json.dumps({"id": i, "v": i / 2}) for i in range(81, 91))
    )

    r3 = incremental_sync(spark, stub.url, "incc", schema, "id", dest, state)
    # the retry honoured the intent: same batch 80, rows 51..80 only
    assert r3["rows"] == 30 and r3["cursor"] == 80
    landed = spark.read.parquet(dest)
    assert landed.count() == 80
    assert landed.select("id").distinct().count() == 80

    # the next cycle picks up exactly the rows that arrived during the chaos
    r4 = incremental_sync(spark, stub.url, "incc", schema, "id", dest, state)
    assert r4["rows"] == 10 and r4["cursor"] == 90
    final = spark.read.parquet(dest)
    assert final.count() == 90
    assert final.select("id").distinct().count() == 90


def test_datasource_read_matches_duckdb(spark, duck, stub):
    """A partitioned read through the data source returns exactly the rows
    DuckDB reads from the same parquet — same schema, same values."""
    got = (
        read_ch(
            spark,
            stub.url,
            "orders",
            "o_orderkey long, o_custkey long, o_totalprice double",
            partition_column="o_orderkey",
            lower=0,
            upper=100000,
            num_partitions=4,
        )
        .orderBy("o_orderkey")
        .collect()
    )
    want = duck.execute(
        "SELECT o_orderkey, o_custkey, o_totalprice "
        f"FROM '{SF_DIR}/orders.parquet' ORDER BY o_orderkey"
    ).fetchall()
    assert len(got) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_parquet_wire_format_round_trip(spark, duck, stub):
    """wire_format='Parquet' asks for FORMAT Parquet on every partition's
    SELECT and decodes columnar bytes — the same rows DuckDB reads."""
    want = [
        tuple(r)
        for r in duck.execute(
            "SELECT o_orderkey, o_custkey, o_totalprice "
            f"FROM '{SF_DIR}/orders.parquet' ORDER BY o_orderkey"
        ).fetchall()
    ]

    stub.received.clear()
    ds = read_ch(
        spark,
        stub.url,
        "orders",
        "o_orderkey long, o_custkey long, o_totalprice double",
        partition_column="o_orderkey",
        lower=0,
        upper=100000,
        num_partitions=4,
        wire_format="Parquet",
    )
    assert [
        tuple(r) for r in ds.orderBy("o_orderkey").collect()
    ] == want
    selects = [
        s
        for s in stub.received
        if s.startswith("SELECT") and "_wire_probe" not in s
    ]
    assert selects and all(s.endswith("FORMAT Parquet") for s in selects)


def test_parquet_wire_write_round_trip(spark, stub):
    """wire_format='Parquet' on the WRITE side: binary parquet INSERT
    bodies per flush (the bulk-load path), one per input partition; an
    overwrite truncates and lands the same rows again."""
    stub.execute("CREATE TABLE pq_sink (id BIGINT, v DOUBLE)")
    src = spark.range(100).selectExpr("id", "cast(id as double) * 0.5 as v")

    stub.received.clear()
    write_ch(src.repartition(4), stub.url, "pq_sink", wire_format="Parquet")
    assert query_scalar_http(stub.url, "SELECT count(*) FROM pq_sink") == 100
    total = query_scalar_http(stub.url, "SELECT sum(v) FROM pq_sink")
    assert abs(float(total) - sum(i * 0.5 for i in range(100))) < 1e-9
    inserts = [s for s in stub.received if s.startswith("INSERT INTO pq_sink")]
    assert len(inserts) == 4
    assert all("FORMAT Parquet" in s for s in inserts)

    write_ch(src, stub.url, "pq_sink", mode="overwrite", wire_format="Parquet")
    assert query_scalar_http(stub.url, "SELECT count(*) FROM pq_sink") == 100


def test_write_renders_type_edges_exactly(spark, stub):
    """A µs timestamp_ntz, a date, a 20-integer-digit decimal(38,2) and
    NULLs must land exactly on both INSERT wires. JSONEachRow carries them
    as the documented text renderings (never epoch numbers or floats);
    Parquet carries them natively."""
    from datetime import date, datetime
    from decimal import Decimal

    stub.execute(
        "CREATE TABLE typed_sink (id BIGINT, ts TIMESTAMP, d DATE,"
        " amt DECIMAL(38, 2))"
    )
    want = [
        (
            1,
            datetime(2024, 3, 1, 10, 30, 0, 123456),
            date(2024, 3, 1),
            Decimal("12345678901234567890.12"),
        ),
        (2, None, None, None),
    ]
    src = spark.createDataFrame(
        want, "id long, ts timestamp_ntz, d date, amt decimal(38,2)"
    ).coalesce(1)
    for fmt in ("JSONEachRow", "Parquet"):
        stub.received.clear()
        write_ch(src, stub.url, "typed_sink", mode="overwrite", wire_format=fmt)
        got = stub.con.execute(
            "SELECT id, ts, d, amt FROM typed_sink ORDER BY id"
        ).fetchall()
        assert got == want, (fmt, got)
        if fmt == "JSONEachRow":
            (body,) = [s for s in stub.received if s.startswith("INSERT")]
            assert '"ts": "2024-03-01 10:30:00.123456"' in body
            assert '"d": "2024-03-01"' in body
            assert '"amt": "12345678901234567890.12"' in body


def test_json_insert_rows_render_maps_and_zoned_timestamps():
    """The JSONEachRow body renders a map column as a JSON object (Arrow
    hands maps over as key/value pairs) and a zoned timestamp in the local
    wall clock, as Spark's row conversion does. Spark-free: the record
    batch is built directly."""
    from datetime import datetime, timezone

    import pyarrow as pa
    from pyspark.sql.types import (
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from clickhousemigrators3_spark.sources.clickhouse_ds import _json_each_row

    ts = datetime(2024, 3, 1, 10, 30, 0, 123456, tzinfo=timezone.utc)
    batch = pa.record_batch(
        {
            "m": pa.array(
                [[("a", 1), ("b", 2)], None], pa.map_(pa.string(), pa.int64())
            ),
            "ts": pa.array([ts, None], pa.timestamp("us", tz="UTC")),
        }
    )
    schema = StructType(
        [
            StructField("m", MapType(StringType(), LongType())),
            StructField("ts", TimestampType()),
        ]
    )
    local = str(ts.astimezone().replace(tzinfo=None))
    assert _json_each_row([batch], schema).splitlines() == [
        json.dumps({"m": {"a": 1, "b": 2}, "ts": local}),
        json.dumps({"m": None, "ts": None}),
    ]


def test_type_edges_datetime64_decimal_nullable(spark, stub):
    """The round-4 residual risk, pinned down as far as a stub allows:
    DateTime64(6) (microsecond timestamps), Decimal, and NULLs in numeric/
    string columns must round-trip through BOTH wire formats — Parquet
    natively, JSONEachRow via schema-driven parsing of the documented text
    renderings. What a stub still cannot prove: live-server compression
    and progress headers (documented in docs/COVERAGE.md)."""
    from datetime import datetime
    from decimal import Decimal

    stub.execute(
        "CREATE TABLE edges (id BIGINT, ts TIMESTAMP, amount DECIMAL(12,2),"
        " n BIGINT, s VARCHAR)"
    )
    stub.con.execute(
        "INSERT INTO edges VALUES "
        "(1, TIMESTAMP '2024-03-01 10:30:00.123456', 123.45, NULL, 'x'), "
        "(2, TIMESTAMP '1999-12-31 23:59:59', -0.01, 7, NULL)"
    )
    schema = "id long, ts timestamp_ntz, amount decimal(12,2), n long, s string"
    want = [
        (1, datetime(2024, 3, 1, 10, 30, 0, 123456), Decimal("123.45"), None, "x"),
        (2, datetime(1999, 12, 31, 23, 59, 59), Decimal("-0.01"), 7, None),
    ]
    # JSONEachRow: the pandas fallback kicks in where the native NDJSON
    # reader can't ingest decimal/timestamp text
    for fmt in ("Parquet", "Arrow", "ArrowStream", "JSONEachRow"):
        df = read_ch(spark, stub.url, "edges", schema, wire_format=fmt)
        got = [tuple(r) for r in df.orderBy("id").collect()]
        assert got == want, (fmt, got)


def test_transient_failures_retried_on_reads_not_writes(spark, stub):
    """Reads survive bounded transient 5xx (idempotent re-issue with
    backoff); writes never auto-retry — a re-POSTed INSERT could
    double-apply, so write idempotence stays the caller's contract."""
    # the wire is pinned so that no format probe absorbs the injected 503s
    df = read_ch(
        spark,
        stub.url,
        "nation",
        "n_nationkey long, n_name string",
        wire_format="ArrowStream",
    )
    stub.fail_next = 2  # two 503s, then healthy: within the default budget
    assert df.count() == 25
    assert stub.fail_next == 0

    src = spark.createDataFrame([(1, 1.0)], "o_orderkey long, o_totalprice double")
    before = query_scalar_http(stub.url, "SELECT count(*) FROM sink")
    stub.fail_next = 1  # a single failure must fail a write immediately
    try:
        with pytest.raises(Exception, match="503"):
            write_ch(src.coalesce(1), stub.url, "sink")
    finally:
        stub.fail_next = 0
    assert query_scalar_http(stub.url, "SELECT count(*) FROM sink") == before


def test_compressed_insert_bodies(spark, stub):
    """compress=True gzips each INSERT request body (Content-Encoding:
    gzip, server-side inflate) — same rows land."""
    stub.execute("CREATE TABLE gz_sink (id BIGINT, v DOUBLE)")
    src = spark.range(60).selectExpr("id", "cast(id as double) as v")
    gz_before = stub.gzip_bodies
    write_ch(src.repartition(3), stub.url, "gz_sink", compress=True)
    assert stub.gzip_bodies - gz_before == 3  # one gzip body per partition
    assert query_scalar_http(stub.url, "SELECT count(*) FROM gz_sink") == 60
    assert query_scalar_http(
        stub.url, "SELECT count(DISTINCT id) FROM gz_sink"
    ) == 60


def test_gzip_response_decoded(stub):
    """The stub compresses every response the client accepts gzip for, so
    this just pins the contract explicitly: a scalar probe round-trips
    through Content-Encoding: gzip."""
    assert query_scalar_http(stub.url, "SELECT count(*) FROM nation") == 25


def test_query_scalar_format_detection(stub):
    """A query that merely mentions 'format' in a literal must still get
    FORMAT JSON appended (only a real trailing FORMAT clause suppresses it)."""
    stub.execute("CREATE TABLE fmt_tbl (id BIGINT, kind VARCHAR)")
    stub.con.executemany(
        "INSERT INTO fmt_tbl VALUES (?, ?)", [(1, "format"), (2, "other")]
    )
    n = query_scalar_http(
        stub.url, "SELECT count(*) FROM fmt_tbl WHERE kind = 'format'"
    )
    assert n == 1


def test_auth_headers_travel_with_every_request(spark, stub):
    stub.auth_seen.clear()
    df = read_ch(
        spark,
        stub.url,
        "nation",
        "n_nationkey long, n_name string",
        partition_column="n_nationkey",
        lower=0,
        upper=25,
        num_partitions=3,
        user="etl_user",
        password="s3cret",
    )
    assert df.count() == 25
    assert len(stub.auth_seen) >= 3
    for h in stub.auth_seen:
        assert h.get("x-clickhouse-user") == "etl_user"
        assert h.get("x-clickhouse-key") == "s3cret"


def test_rows_arriving_after_discovery_fail_the_table_invariant(
    spark, stub, tmp_path, monkeypatch
):
    """Discovery's per-partition counts are the source total the copy is
    checked against. A row that lands after discovery is copied and
    validated per partition, but the table invariant still compares with
    the earlier read, so the migration fails and publishes nothing."""
    from clickhousemigrators3_spark.config import MigrationConfig
    from clickhousemigrators3_spark.operators import migrate

    stub.execute(
        "CREATE TABLE grow_orders AS "
        f"SELECT o_orderkey, o_totalprice FROM '{SF_DIR}/orders.parquet'"
    )
    discover = migrate.discover_partition_values

    def discover_then_insert(df, keys):
        parts = discover(df, keys)
        stub.execute("INSERT INTO grow_orders VALUES (4, 1.5)")
        return parts

    monkeypatch.setattr(migrate, "discover_partition_values", discover_then_insert)
    cfg = MigrationConfig(
        dest_dir=str(tmp_path / "dest"),
        table="grow_orders",
        partition_keys=["bucket"],
        derived_partitions={"bucket": "pmod(o_orderkey, 4)"},
        insert_interval=0,
        lock_dir=str(tmp_path / "locks"),
        progress_path=str(tmp_path / "progress.json"),
        report_dir=str(tmp_path / "reports"),
        source_loader=lambda s, table: read_ch(
            s, stub.url, table, "o_orderkey long, o_totalprice double",
            partition_column="o_orderkey", lower=0, upper=1500, num_partitions=4,
        ),
    )
    res = migrate.migrate_single_table(spark, cfg, "grow_orders")
    assert res["status"] == "failed"
    assert "table invariant failed" in res["error"], res["error"]
    assert all(c["passed"] for c in res["check_results"])
    assert not (tmp_path / "dest" / "grow_orders").exists()
    assert migrate.resolve_manifest(cfg.dest_dir, "grow_orders") is None


MONTH_KEY = "CAST(date_trunc('month', o_orderdate) AS DATE)"
ORDERS_DATED = "o_orderkey long, o_orderstatus string, o_orderdate timestamp_ntz"


def _month_migration(tmp_path, loader, table="orders", strategy="per_partition"):
    from clickhousemigrators3_spark.config import MigrationConfig

    return MigrationConfig(
        dest_dir=str(tmp_path / "dest"),
        table=table,
        partition_keys=["p_month"],
        derived_partitions={"p_month": MONTH_KEY},
        insert_interval=0,
        lock_dir=str(tmp_path / "locks"),
        progress_path=str(tmp_path / "progress.json"),
        report_dir=str(tmp_path / "reports"),
        checksum=True,
        strategy=strategy,
        source_loader=loader,
    )


def _nully_orders(stub):
    """orders with NULL keys, dates and statuses sprinkled in (idempotent)."""
    stub.execute(
        "CREATE TABLE IF NOT EXISTS nully AS SELECT "
        "CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderkey END AS o_orderkey, "
        "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus, "
        "CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderdate END AS o_orderdate "
        f"FROM '{SF_DIR}/orders.parquet'"
    )


def test_month_discovery_runs_on_the_server(spark, stub, tmp_path):
    """A bare relation with a whitelisted month key: discovery is one
    GROUP BY on the server, then the copy and the validation each read
    the 4 slices once."""
    from clickhousemigrators3_spark.operators.migrate import migrate_single_table

    month = "o_orderdate >= '1996-03-01' AND o_orderdate < '1996-04-01'"
    cfg = _month_migration(
        tmp_path,
        lambda s, t: read_ch(
            s, stub.url, t, ORDERS_DATED, partition_column="o_orderkey",
            lower=0, upper=1500, num_partitions=4, predicate=month,
        ),
    )
    stub.received.clear()
    res = migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "completed", res["error"]
    assert res["total_partitions"] == 1
    selects = data_selects(stub, "orders")
    grouped = [q for q in selects if "GROUP BY" in q]
    assert len(grouped) == 1 and len(selects) == 1 + 2 * 4, selects
    assert "count(*)" in grouped[0] and f"({month})" in grouped[0]
    assert "GROUP BY CAST(date_trunc('month', o_orderdate) AS DATE)" in grouped[0]
    n = query_scalar_http(stub.url, f"SELECT count(*) FROM orders WHERE {month}")
    assert res["migrated_rows"] == n > 0


@pytest.mark.parametrize("wire", ["ArrowStream", "Parquet", "JSONEachRow"])
def test_server_discovery_matches_spark_discovery(spark, stub, wire):
    """Same values, Python types and order (NULLs first) from the server's
    GROUP BY as from Spark's groupBy/orderBy over the same DataFrame."""
    from clickhousemigrators3_spark.operators import migrate

    _nully_orders(stub)
    df = read_ch(spark, stub.url, "nully", ORDERS_DATED, wire_format=wire)
    derived = {"p_month": MONTH_KEY, "p_year": MONTH_KEY.replace("month", "year")}
    src = df
    for name, expr in derived.items():
        src = src.withColumn(name, F.expr(expr))
    for keys in (["p_month"], ["o_orderstatus", "p_year"], ["o_orderkey"]):
        server = migrate._server_discovery(df, keys, derived)
        assert server is not None, keys
        got = migrate.discover_partition_values(src, keys, server)
        want = migrate.discover_partition_values(src, keys)
        assert got == want, keys
        assert [type(v) for p, _ in got for v in p] == [
            type(v) for p, _ in want for v in p
        ]
        assert got[0][0][0] is None  # NULLs sort first


@pytest.mark.parametrize(
    "options",
    [
        {"predicate": "o_orderstatus = 'F'"},
        {"partition_column": "o_orderkey", "lower": 100, "upper": 900,
         "num_partitions": 3},
        {"partition_column": "o_orderkey", "lower": 100, "upper": 900,
         "num_partitions": 3, "strict_bounds": "true"},
        {"partition_column": "o_orderkey", "lower": 100, "upper": 900,
         "num_partitions": 1},
        {"partition_column": "o_orderkey", "lower": 100, "upper": 100,
         "strict_bounds": "true"},
        {"partition_column": "o_orderkey", "lower": 900, "upper": 100},
    ],
    ids=["predicate", "sliced", "strict", "one_slice", "strict_empty", "degenerate"],
)
def test_server_counts_cover_the_rows_a_read_returns(spark, stub, options):
    """The server's total equals ``df.count()`` for the predicate option and
    every slicing mode, NULL partition-column values included."""
    from clickhousemigrators3_spark.operators import migrate

    _nully_orders(stub)
    df = read_ch(spark, stub.url, "nully", ORDERS_DATED, **options)
    server = migrate._server_discovery(df, ["p_month"], {"p_month": MONTH_KEY})
    assert server is not None
    assert sum(n for _, n in migrate.group_counts(*server)) == df.count()
    assert migrate.group_counts(server[0], [])[0][1] == df.count()


def test_rows_arriving_after_server_discovery_fail_the_table_invariant(
    spark, stub, tmp_path, monkeypatch
):
    """The server-path twin: a row landing after the server's GROUP BY is
    copied and validated per partition, but the table invariant fails."""
    from clickhousemigrators3_spark.operators import migrate

    stub.execute(
        "CREATE TABLE grow_dated AS "
        f"SELECT o_orderkey, o_orderstatus, o_orderdate FROM '{SF_DIR}/orders.parquet'"
    )
    discover = migrate.discover_partition_values

    def discover_then_insert(*args):
        parts = discover(*args)
        assert len(args) == 3  # the server path
        stub.execute("INSERT INTO grow_dated VALUES (4, 'F', '1996-03-03')")
        return parts

    monkeypatch.setattr(migrate, "discover_partition_values", discover_then_insert)
    cfg = _month_migration(
        tmp_path,
        lambda s, t: read_ch(
            s, stub.url, t, ORDERS_DATED, partition_column="o_orderkey",
            lower=0, upper=1500, num_partitions=4,
        ),
        table="grow_dated",
        strategy="batch",
    )
    res = migrate.migrate_single_table(spark, cfg, "grow_dated")
    assert res["status"] == "failed"
    assert "table invariant failed" in res["error"], res["error"]
    assert all(c["passed"] for c in res["check_results"])
    assert not (tmp_path / "dest" / "grow_dated").exists()


def test_wrong_server_count_fails_the_migration(spark, stub, tmp_path, monkeypatch):
    """A server answer off by one row in one partition: nothing publishes."""
    from clickhousemigrators3_spark.operators import migrate

    counts = migrate.group_counts

    def off_by_one(options, keys):
        pairs = counts(options, keys)
        (part, n), *rest = pairs
        return [(part, n + 1), *rest]

    monkeypatch.setattr(migrate, "group_counts", off_by_one)
    cfg = _month_migration(
        tmp_path,
        lambda s, t: read_ch(
            s, stub.url, t, ORDERS_DATED, partition_column="o_orderkey",
            lower=0, upper=1500, num_partitions=4,
            predicate="o_orderdate < '1995-04-01'",
        ),
        strategy="batch",
    )
    res = migrate.migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "failed"
    assert "table invariant failed" in res["error"], res["error"]
    assert not (tmp_path / "dest" / "orders").exists()


def test_spark_discovers_when_the_server_cannot(spark, stub, tmp_path):
    """Filtered or projected loaders, expressions off the whitelist and
    TIMESTAMP columns keep Spark's groupBy."""
    from clickhousemigrators3_spark.operators import migrate

    df = read_ch(spark, stub.url, "orders", ORDERS_DATED)
    month = {"p_month": MONTH_KEY}
    assert migrate._server_discovery(df, ["p_month"], month) is not None
    assert migrate._server_discovery(df.filter("o_orderkey > 3"), ["p_month"], month) is None
    assert migrate._server_discovery(df.select("o_orderdate"), ["p_month"], month) is None
    for expr in (
        "pmod(o_orderkey, 4)",
        "floor(o_orderkey / 100)",
        MONTH_KEY.replace("month", "week"),
        MONTH_KEY.replace("o_orderdate", "o_orderstatus"),
    ):
        assert migrate._server_discovery(df, ["k"], {"k": expr}) is None, expr
    # the alias would shadow a source column on the server
    assert migrate._server_discovery(df, ["o_orderdate"], {"o_orderdate": MONTH_KEY}) is None
    zoned = read_ch(spark, stub.url, "orders", "o_orderkey long, o_orderdate timestamp")
    assert migrate._server_discovery(zoned, ["p_month"], month) is None

    # a filtered loader migrates through Spark's discovery
    cfg = _month_migration(
        tmp_path,
        lambda s, t: read_ch(
            s, stub.url, t, ORDERS_DATED, partition_column="o_orderkey",
            lower=0, upper=1500, num_partitions=4,
        ).filter("o_orderdate < '1995-03-01'"),
        strategy="batch",
    )
    stub.received.clear()
    res = migrate.migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "completed", res["error"]
    assert res["total_partitions"] == 2
    assert not [q for q in data_selects(stub, "orders") if "GROUP BY" in q]


def test_keyless_http_table_counts_on_the_server(spark, duck, stub, tmp_path):
    """No partition key: the total is one server-side count(*) read before
    the copy, not a Spark count over the 4 slices."""
    from clickhousemigrators3_spark.config import MigrationConfig
    from clickhousemigrators3_spark.operators.migrate import migrate_single_table

    cfg = MigrationConfig(
        dest_dir=str(tmp_path / "dest"),
        table="orders",
        partition_keys=[],
        insert_interval=0,
        lock_dir=str(tmp_path / "locks"),
        progress_path=str(tmp_path / "progress.json"),
        report_dir=str(tmp_path / "reports"),
        source_loader=lambda s, t: read_ch(
            s, stub.url, t, "o_orderkey long, o_totalprice double",
            partition_column="o_orderkey", lower=0, upper=1500, num_partitions=4,
        ),
    )
    stub.received.clear()
    res = migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "completed", res["error"]
    n = duck.execute(f"SELECT count(*) FROM '{SF_DIR}/orders.parquet'").fetchone()[0]
    assert res["migrated_rows"] == n
    selects = data_selects(stub, "orders")
    counts = [q for q in selects if q.startswith("SELECT count(*) AS _rows FROM")]
    assert len(counts) == 1 and selects[0] == counts[0], selects
    # copy and validation read the 4 slices once each
    assert len(selects) == 1 + 2 * 4, selects


def test_full_database_parallel_over_http(spark, duck, stub, tmp_path):
    """C8 thread-per-table dispatch with the HTTP source: two tables pulled
    concurrently, validated, swapped — the whole-DB mode on the wire."""
    from clickhousemigrators3_spark.config import MigrationConfig
    from clickhousemigrators3_spark.operators.migrate import (
        migrate_full_database,
    )

    schemas = {
        "nation": "n_nationkey long, n_name string, n_regionkey long",
        "orders": "o_orderkey long, o_custkey long, o_totalprice double",
    }
    part_col = {"nation": "n_nationkey", "orders": "o_orderkey"}

    def loader(s, table):
        return read_ch(
            s,
            stub.url,
            table,
            schemas[table],
            partition_column=part_col[table],
            lower=0,
            upper=100000,
            num_partitions=4,
        )

    cfg = MigrationConfig(
        dest_dir=str(tmp_path / "dest"),
        insert_interval=0,
        lock_dir=str(tmp_path / "locks"),
        progress_path=str(tmp_path / "progress.json"),
        report_dir=str(tmp_path / "reports"),
        checksum=True,
        parallelism=2,
        source_loader=loader,
    )
    results = migrate_full_database(spark, cfg, tables=["nation", "orders"])
    by_table = {r["table"]: r for r in results}
    assert by_table["nation"]["status"] == "completed", by_table["nation"]["error"]
    assert by_table["orders"]["status"] == "completed", by_table["orders"]["error"]

    n_nation = duck.execute(
        f"SELECT count(*) FROM '{SF_DIR}/nation.parquet'"
    ).fetchone()[0]
    n_orders = duck.execute(
        f"SELECT count(*) FROM '{SF_DIR}/orders.parquet'"
    ).fetchone()[0]
    assert spark.read.parquet(str(tmp_path / "dest" / "nation")).count() == n_nation
    assert spark.read.parquet(str(tmp_path / "dest" / "orders")).count() == n_orders


def test_date_named_string_columns_survive(spark, stub):
    """pandas auto-parses date-NAMED columns (ts, *_at) to datetimes by
    default; the reader must deliver them as the schema says — strings."""
    stub.execute("CREATE TABLE evlog (id BIGINT, created_at VARCHAR, ts VARCHAR)")
    stub.execute(
        "INSERT INTO evlog FORMAT JSONEachRow\n"
        + "\n".join(
            json.dumps(
                {"id": i, "created_at": f"2024-01-{i:02d}", "ts": f"2024-01-{i:02d} 10:00:00"}
            )
            for i in range(1, 6)
        )
    )
    for fmt in ("JSONEachRow", "ArrowStream"):
        df = read_ch(
            spark,
            stub.url,
            "evlog",
            "id long, created_at string, ts string",
            wire_format=fmt,
        )
        rows = {r.id: r for r in df.collect()}
        assert rows[3].created_at == "2024-01-03", fmt
        assert rows[3].ts == "2024-01-03 10:00:00", fmt


def test_write_chunks_by_rows_per_request(spark, stub):
    stub.received.clear()
    src = spark.createDataFrame(
        [(i, float(i)) for i in range(100)],
        "o_orderkey long, o_totalprice double",
    ).coalesce(1)
    write_ch(src, stub.url, "sink", rows_per_request=30)
    inserts = [s for s in stub.received if s.startswith("INSERT INTO sink")]
    # exactly rows_per_request rows per body, the last one shorter
    assert [len(s.splitlines()) - 1 for s in inserts] == [30, 30, 30, 10]


def test_python_datasource_batch_pushdown(spark, duck, stub):
    """format('clickhouse_http') + a Catalyst filter: the partitioned read
    returns exactly the filtered table (Spark applies the filter)."""
    from clickhousemigrators3_spark.sources.clickhouse_ds import (
        ClickHouseHTTPDataSource,
    )

    spark.dataSource.register(ClickHouseHTTPDataSource)
    df = (
        spark.read.format("clickhouse_http")
        .schema("o_orderkey long, o_custkey long, o_totalprice double")
        .option("url", stub.url)
        .option("table", "orders")
        .option("partition_column", "o_orderkey")
        .option("lower", 0)
        .option("upper", 100000)
        .option("num_partitions", 4)
        .load()
        .filter("o_totalprice > 200000 AND o_custkey >= 10")
    )
    got = sorted(r.o_orderkey for r in df.collect())
    want = [
        r[0]
        for r in duck.execute(
            f"SELECT o_orderkey FROM '{SF_DIR}/orders.parquet' "
            "WHERE o_totalprice > 200000 AND o_custkey >= 10 ORDER BY 1"
        ).fetchall()
    ]
    assert got == want and len(got) > 0


def test_filtered_action_does_not_leak_into_later_reads(spark, duck, stub):
    """One ``load()``, a filtered action, then unfiltered actions on the
    same DataFrame: the later actions see the whole table. (PySpark caches
    one pushed reader per ``load()``; a scan with no pushable filter reused
    the filtered one, so ``count()`` returned the filtered rows.)"""
    df = read_ch(
        spark,
        stub.url,
        "orders",
        "o_orderkey long, o_orderstatus string",
        partition_column="o_orderkey",
        lower=0,
        upper=1500,
        num_partitions=4,
    )
    got = sorted(r.o_orderkey for r in df.filter(F.col("o_orderkey") < 100).collect())
    want = [
        r[0]
        for r in duck.execute(
            f"SELECT o_orderkey FROM '{SF_DIR}/orders.parquet' "
            "WHERE o_orderkey < 100 ORDER BY 1"
        ).fetchall()
    ]
    assert got == want and 0 < len(got)
    n = duck.execute(f"SELECT count(*) FROM '{SF_DIR}/orders.parquet'").fetchone()[0]
    assert n > len(got)
    stub.received.clear()
    assert df.count() == n
    by_status = df.groupBy("o_orderstatus").count().collect()
    assert sum(r["count"] for r in by_status) == n
    selects = data_selects(stub, "orders")
    assert selects
    assert not [s for s in selects if "o_orderkey < 100" in s], selects


def test_python_datasource_stream_cursor_tail(spark, stub, tmp_path):
    """readStream tails the table by cursor: first drain gets the initial
    rows, a second drain after inserts gets exactly the delta."""
    from clickhousemigrators3_spark.sources.clickhouse_ds import (
        ClickHouseHTTPDataSource,
    )

    spark.dataSource.register(ClickHouseHTTPDataSource)
    stub.execute("CREATE TABLE tail (id BIGINT, v DOUBLE)")
    stub.execute(
        "INSERT INTO tail FORMAT JSONEachRow\n"
        + "\n".join(json.dumps({"id": i, "v": i * 1.0}) for i in range(1, 41))
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("clickhouse_http")
            .schema("id long, v double")
            .option("url", stub.url)
            .option("table", "tail")
            .option("cursor_column", "id")
            .option("num_partitions", 3)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 40

    stub.execute(
        "INSERT INTO tail FORMAT JSONEachRow\n"
        + "\n".join(json.dumps({"id": i, "v": i * 1.0}) for i in range(41, 61))
    )
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 60  # exactly the delta arrived, no replays
    assert got.select("id").distinct().count() == 60


def test_python_datasource_write(spark, stub):
    """df.write.format('clickhouse_http'): per-partition INSERTs; overwrite
    truncates first; append accumulates."""
    from clickhousemigrators3_spark.sources.clickhouse_ds import (
        ClickHouseHTTPDataSource,
    )

    spark.dataSource.register(ClickHouseHTTPDataSource)
    stub.execute("CREATE TABLE ds_sink (id BIGINT, v DOUBLE)")
    df = spark.range(50).selectExpr("id", "cast(id as double) as v").repartition(4)

    (
        df.write.format("clickhouse_http")
        .option("url", stub.url)
        .option("table", "ds_sink")
        .mode("append")
        .save()
    )
    assert query_scalar_http(stub.url, "SELECT count(*) FROM ds_sink") == 50

    (
        df.write.format("clickhouse_http")
        .option("url", stub.url)
        .option("table", "ds_sink")
        .mode("overwrite")
        .save()
    )
    assert query_scalar_http(stub.url, "SELECT count(*) FROM ds_sink") == 50
    assert any(s.startswith("TRUNCATE TABLE ds_sink") for s in stub.received)


def test_pushdown_literal_escaping(spark, stub):
    """A string filter value with quotes selects exactly the matching rows
    — no syntax error, no injected clause."""
    from clickhousemigrators3_spark.sources.clickhouse_ds import (
        ClickHouseHTTPDataSource,
    )

    spark.dataSource.register(ClickHouseHTTPDataSource)
    stub.execute("CREATE TABLE quoted (id BIGINT, name VARCHAR)")
    stub.execute(
        "INSERT INTO quoted FORMAT JSONEachRow\n"
        + json.dumps({"id": 1, "name": "O'Brien"})
        + "\n"
        + json.dumps({"id": 2, "name": "plain"})
    )
    df = (
        spark.read.format("clickhouse_http")
        .schema("id long, name string")
        .option("url", stub.url)
        .option("table", "quoted")
        .load()
        .filter("name = \"O'Brien\"")
    )
    rows = df.collect()
    assert [r.id for r in rows] == [1]
    assert query_scalar_http(stub.url, "SELECT count(*) FROM quoted") == 2


def test_pushdown_backslash_literal_round_trip(spark, stub):
    """Backslash-bearing filter values select exactly the matching rows —
    no syntax error, no swallowed clause, no wrong-row match."""
    from clickhousemigrators3_spark.sources.clickhouse_ds import (
        ClickHouseHTTPDataSource,
    )

    spark.dataSource.register(ClickHouseHTTPDataSource)
    stub.execute("CREATE TABLE slashed (id BIGINT, name VARCHAR)")
    stub.con.executemany(
        "INSERT INTO slashed VALUES (?, ?)",
        [
            (1, "tail\\"),
            (2, "tail"),
            (3, "C:\\dir\\file"),
            (4, "x\\' OR 1=1 --"),
        ],
    )

    def probe(value):
        df = (
            spark.read.format("clickhouse_http")
            .schema("id long, name string")
            .option("url", stub.url)
            .option("table", "slashed")
            .load()
            .filter(F.col("name") == value)
        )
        return sorted(r.id for r in df.collect())

    assert probe("tail\\") == [1]
    assert probe("C:\\dir\\file") == [3]
    assert probe("x\\' OR 1=1 --") == [4]


def test_python_datasource_degenerate_range(spark, stub):
    """lower == upper must not be a planner error: under the default JDBC
    parity the bounds never filter (full scan, one partition); under
    strict_bounds the empty half-open interval yields an empty frame.
    Counts below 1 are refused loudly."""
    from clickhousemigrators3_spark.sources.clickhouse_ds import (
        ClickHouseHTTPDataSource,
    )

    spark.dataSource.register(ClickHouseHTTPDataSource)

    def degenerate(**extra):
        r = (
            spark.read.format("clickhouse_http")
            .schema("o_orderkey long, o_totalprice double")
            .option("url", stub.url)
            .option("table", "orders")
            .option("partition_column", "o_orderkey")
            .option("lower", 5)
            .option("upper", 5)
        )
        for k, v in extra.items():
            r = r.option(k, v)
        return r.load()

    total = query_scalar_http(stub.url, "SELECT count(*) FROM orders")
    assert degenerate().count() == total
    assert degenerate(strict_bounds="true").count() == 0

    # slicing and chunking counts below 1 are refused on the driver, naming
    # the option: 0 would divide by zero, -1 would make one slice per key
    # value, and 0 rows per request would flush after every row
    for bad in (0, -1):
        with pytest.raises(Exception, match="ValueError.*num_partitions"):
            degenerate(upper=100, num_partitions=bad).count()
    stub.received.clear()
    src = spark.createDataFrame([(1, 1.0)], "o_orderkey long, o_totalprice double")
    with pytest.raises(Exception, match="ValueError.*rows_per_request"):
        write_ch(src, stub.url, "sink", rows_per_request=0)
    assert not [s for s in stub.received if s.startswith("INSERT")]


def test_rows_outside_range_are_not_dropped(spark, stub):
    """JDBC-partitioner parity: lower/upper size the strides, they never
    decide membership — ids past 2**31 (snowflake-style) and negative ids
    must arrive through the default read path; strict_bounds opts back
    into hard edges."""
    stub.execute("CREATE TABLE bigid (id BIGINT, v DOUBLE)")
    ids = [-7, 1, 2, 3, (1 << 31) + 5, (1 << 33)]
    stub.execute(
        "INSERT INTO bigid FORMAT JSONEachRow\n"
        + "\n".join(json.dumps({"id": i, "v": float(i)}) for i in ids)
    )
    schema = "id long, v double"

    # defaults (lower=0, upper=2**31): all rows survive
    df = read_ch(
        spark, stub.url, "bigid", schema, partition_column="id", num_partitions=4
    )
    assert sorted(r.id for r in df.collect()) == sorted(ids)

    # strict bounds: exactly the half-open range, for CDC batch closing
    df_strict = read_ch(
        spark,
        stub.url,
        "bigid",
        schema,
        partition_column="id",
        lower=1,
        upper=4,
        num_partitions=4,
        strict_bounds=True,
    )
    assert sorted(r.id for r in df_strict.collect()) == [1, 2, 3]


def test_wire_format_negotiation_ladder(stub):
    """The probe prefers ArrowStream, then Parquet, then falls back to
    JSONEachRow as the server's FORMAT support shrinks — and the outcome
    is cached per endpoint (one probe set per process per URL)."""
    from clickhousemigrators3_spark.sources import clickhouse_http as ch

    try:
        ch._WIRE_CACHE.clear()
        assert ch.negotiate_wire_format(stub.url) == "ArrowStream"

        ch._WIRE_CACHE.clear()
        stub.formats = {"Parquet", "JSONEachRow", "JSON", "TabSeparated"}
        assert ch.negotiate_wire_format(stub.url) == "Parquet"

        ch._WIRE_CACHE.clear()
        stub.formats = {"JSONEachRow", "JSON", "TabSeparated"}
        assert ch.negotiate_wire_format(stub.url) == "JSONEachRow"

        # cached: repeated calls issue no further probes
        before = len([s for s in stub.received if "_wire_probe" in s])
        ch.negotiate_wire_format(stub.url)
        ch.negotiate_wire_format(stub.url)
        after = len([s for s in stub.received if "_wire_probe" in s])
        assert after == before
    finally:
        stub.formats = None
        ch._WIRE_CACHE.clear()


def test_default_read_negotiates_columnar_wire(spark, stub):
    """A user on DEFAULTS gets the columnar wire against a capable server:
    the data source resolves wire_format='auto' to ArrowStream here, and
    still works (JSONEachRow) against a server that refuses every columnar
    FORMAT."""
    from clickhousemigrators3_spark.sources import clickhouse_http as ch

    schema = "n_nationkey long, n_name string"
    try:
        ch._WIRE_CACHE.clear()
        stub.received.clear()
        assert read_ch(spark, stub.url, "nation", schema).count() == 25
        reads = data_selects(stub, "nation")
        assert reads and all(s.endswith("FORMAT ArrowStream") for s in reads)

        # columnar-refusing server: defaults fall back and still read. The
        # negotiation is cached per endpoint URL in every process that
        # plans a read, so a fresh URL (an extra server setting) is what
        # makes the planner probe again.
        stub.formats = {"JSONEachRow", "JSON", "TabSeparated"}
        stub.received.clear()
        json_only = ch._with_params(stub.url, max_execution_time="60")
        assert read_ch(spark, json_only, "nation", schema).count() == 25
        reads = data_selects(stub, "nation")
        assert reads and all(s.endswith("FORMAT JSONEachRow") for s in reads)
    finally:
        stub.formats = None
        ch._WIRE_CACHE.clear()


def test_decimal128_survives_all_wires(spark, stub):
    """Decimal128-class values (38-digit precision — far beyond double)
    must round-trip EXACTLY over every wire: JSON renders decimal text and
    the schema-driven coercion parses it as Decimal (never float); the
    columnar wires carry decimal128 natively."""
    from decimal import Decimal

    stub.execute(
        "CREATE TABLE bigdec (id BIGINT, v DECIMAL(38, 10))"
    )
    big = "1234567890123456789012345678.1234567890"
    stub.con.execute(
        f"INSERT INTO bigdec VALUES (1, {big}), (2, -0.0000000001)"
    )
    schema = "id long, v decimal(38,10)"
    want = [(1, Decimal(big)), (2, Decimal("-0.0000000001"))]
    for fmt in ("JSONEachRow", "Parquet", "ArrowStream"):
        df = read_ch(spark, stub.url, "bigdec", schema, wire_format=fmt)
        got = [tuple(r) for r in df.orderBy("id").collect()]
        assert got == want, (fmt, got)


def test_datetime64_9_truncates_to_micros(spark):
    """DateTime64(9) renders nanosecond text on the JSON wire; Spark
    timestamps are microsecond — the schema-driven parse keeps the first
    six fractional digits and TRUNCATES the rest (documented edge; a
    server that needs ns fidelity should expose an Int64 epoch-nanos
    column instead)."""
    import pandas as pd

    from clickhousemigrators3_spark.sources.clickhouse_http import _coerce

    schema = spark.createDataFrame([], "ts timestamp_ntz").schema
    pdf = _coerce(
        pd.DataFrame({"ts": ["2024-03-01 10:30:00.123456789"]}), schema
    )
    row = spark.createDataFrame(pdf, schema).collect()[0]
    assert row.ts.microsecond == 123456


def test_write_witness_from_summary_headers(spark, stub):
    """The server's X-ClickHouse-Summary acknowledgment is checked against
    the INSERT body's row count per flush — a truncating endpoint fails the
    write loudly instead of silently under-writing. A real server
    over-reports when materialized views are attached to the target (always
    passes), and reports 0 for a replayed block on Replicated tables with
    insert deduplication — the 0-ack is ambiguous with a total-loss
    endpoint, so it passes only under expect_insert_dedup=True (round-10
    advice: the blanket 0-ack pass let a batch-dropping endpoint go
    undetected)."""
    stub.execute("CREATE TABLE wsink (k BIGINT, v DOUBLE)")
    df = spark.range(7).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    ).coalesce(1)

    def landed():
        return stub.con.execute("SELECT count(*) FROM wsink").fetchone()[0]

    # honest server: the witness passes silently
    write_ch(df, stub.url, "wsink")
    assert landed() == 7

    try:
        stub.lie_written_rows = "under"
        with pytest.raises(Exception, match="write witness under-write"):
            write_ch(df, stub.url, "wsink")
        # MV over-report is a legitimate ack unconditionally
        stub.lie_written_rows = "over"
        write_ch(df, stub.url, "wsink")
        # 0-ack: STRICT default treats it as a lost batch...
        stub.lie_written_rows = "zero"
        with pytest.raises(Exception, match="expect_insert_dedup"):
            write_ch(df, stub.url, "wsink")
        # ...and passes only when the caller declares the target Replicated
        # with insert dedup (where a replayed block is legitimately 0-acked)
        write_ch(df, stub.url, "wsink", expect_insert_dedup=True)
        # the stub applies every body it acks, lying or not
        assert landed() == 7 * 5
    finally:
        stub.lie_written_rows = False


def test_progress_and_summary_headers_captured(stub):
    """_post exposes the documented execution-stats headers when given a
    sink: X-ClickHouse-Summary once, X-ClickHouse-Progress repeated."""
    from clickhousemigrators3_spark.sources.clickhouse_http import _post

    sink: dict = {}
    _post(stub.url, b"SELECT 1 FORMAT JSONEachRow", 30.0, summary_sink=sink)
    assert "summary" in sink and "written_rows" in sink["summary"]
    assert sink["progress"] and sink["progress"][0]["read_rows"] == "1"


def test_datetime64_9_truncates_on_wire_read(spark, stub):
    """DateTime64(9) renders nanosecond text on the JSON wire; Spark
    timestamps are microseconds — the schema-driven parse must TRUNCATE
    to micros, never fail or round up (closing the DateTime64(9) gap
    named in docs/COVERAGE.md, at the wire-parse level a stub CAN
    prove)."""
    from datetime import datetime

    stub.execute("CREATE TABLE ns_t (id BIGINT, ts9 VARCHAR)")
    stub.con.execute(
        "INSERT INTO ns_t VALUES (1, '2024-03-01 10:30:00.123456789'), "
        "(2, '2024-03-01 10:30:00.999999999')"
    )
    df = read_ch(
        spark, stub.url, "ns_t", "id long, ts9 timestamp_ntz", wire_format="JSONEachRow"
    )
    got = [tuple(r) for r in df.orderBy("id").collect()]
    assert got == [
        (1, datetime(2024, 3, 1, 10, 30, 0, 123456)),
        (2, datetime(2024, 3, 1, 10, 30, 0, 999999)),
    ]
