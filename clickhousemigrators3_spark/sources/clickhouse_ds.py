"""`clickhouse_http` as a Spark data source (PySpark 4 Python Data Source
API): ``spark.read``, ``spark.readStream`` and ``df.write`` with
``format("clickhouse_http")``. This is the repository's one ClickHouse
HTTP transport; ``clickhouse_http.py`` holds the wire helpers it uses.

* **Server-side filtering by option, not by Catalyst** — the ``predicate``
  option is the WHERE shipped with every request. Catalyst filters are not
  pushed: PySpark caches one pushed reader per ``load()`` and a later scan
  with no convertible filter reuses it, so a pushed filter would leak into
  the next action on the same DataFrame. Spark evaluates them itself.
* **Server-side partition counts** — ``group_counts`` answers a
  migration's partition discovery (and a keyless table's row count) with
  one GROUP BY over exactly the rows a read returns; ``relation_options``
  tells the migration when a DataFrame is a bare relation it can use.
* **Executor-side partitioned reads** — ``partitions()`` splits the
  numeric range into ``num_partitions`` half-open slices; each executor
  task POSTs its own bounded SELECT and yields Arrow record batches
  decoded from the negotiated wire. No row passes through the driver.
* **Streaming CDC tail** — the stream reader turns the cursor-based
  incremental pull (see ``incremental_sync``) into a real micro-batch
  source: offsets are ``{"cursor": n}`` watermarks, ``latestOffset`` asks
  the server for ``max(cursor)``, and each batch's rows are fetched
  executor-side with both batch edges compiled into the SQL — rows can
  never appear in two batches, replay after restart re-reads the same
  closed range (source-side idempotence; end-to-end exactly-once comes
  from the sink's checkpointed batch ids, e.g. foreachBatch upsert).
* **Arrow writes** — each task POSTs ``INSERT … FORMAT JSONEachRow`` or
  ``FORMAT Parquet`` bodies built from its record batches, flushed every
  ``rows_per_request`` rows, and checks the server's written-rows
  acknowledgment for every body.

Options: url (required), table (required), partition_column, lower, upper,
num_partitions (>= 1), strict_bounds (default false: lower/upper size the
strides with unbounded edge slices, JDBC-partitioner parity; true compiles
both edges as hard filters), predicate (extra server-side WHERE), user,
password, timeout, schema (DDL string, used when ``.schema()`` is not
given), wire_format (read default ``auto``: the driver probes the endpoint
once and upgrades to the cheapest wire it speaks — ArrowStream over
Parquet over JSONEachRow; explicit JSONEachRow / Parquet / Arrow /
ArrowStream force that encoding; write default JSONEachRow, ``Parquet``
sends parquet bodies), cursor_column (streaming; defaults to
partition_column), rows_per_request (write; >= 1, default 100000),
compress (write; gzip each INSERT body), expect_insert_dedup (write;
accept a 0-row acknowledgment as a Replicated insert-dedup replay).
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass
from typing import Any, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import DataType, LongType, MapType, StructField, StructType

from ..plans.partitions import partition_order_key
from ..worker_daemon import drop_spark_archives

from .clickhouse_http import (
    _auth_headers,
    _coerce,
    _json_read_url,
    _max_cursor,
    _post,
    _with_params,
    build_select,
    negotiate_wire_format,
)

_log = logging.getLogger("spark_migrator.http")


@dataclass
class RangePartition(InputPartition):
    lo: int | None
    hi: int | None


def _fetch_record_batches(
    url: str,
    sql: str,
    schema: StructType,
    auth: dict,
    timeout: float,
    wire_format: str = "JSONEachRow",
    retries: int = 2,
):
    """One HTTP response → one (or few) ``pyarrow.RecordBatch``.

    PySpark 4's Python Data Source accepts RecordBatch yields from
    ``read()``, so responses are decoded column-wise. The columnar wires
    are cast to the Spark schema; the JSONEachRow body is parsed by
    pyarrow's C++ NDJSON reader straight into Arrow buffers against the
    Spark schema (missing keys → null, unexpected keys ignored), with a
    pandas parse as the fallback for any type the native reader can't
    ingest.
    """
    import io

    import pyarrow as pa
    from pyarrow import json as pa_json
    from pyspark.sql.pandas.types import to_arrow_schema

    wf = wire_format.lower()
    req_url = url if wf in ("parquet", "arrow", "arrowstream") else _json_read_url(url)
    raw = _post(req_url, sql.encode(), timeout, auth, retries=retries)
    if not raw.strip():
        return
    arrow_schema = to_arrow_schema(schema)
    if wf == "parquet":
        import pyarrow.parquet as pq

        tbl = pq.read_table(io.BytesIO(raw))
        yield from tbl.select(arrow_schema.names).cast(arrow_schema).to_batches()
        return
    if wf in ("arrow", "arrowstream"):
        # native Arrow IPC off the wire: the server skips the parquet
        # encode and the reader is zero-copy into Arrow buffers — the
        # cheapest wire ClickHouse serves (FORMAT Arrow / ArrowStream)
        rd = pa.BufferReader(raw)
        tbl = (
            pa.ipc.open_stream(rd) if wf == "arrowstream" else pa.ipc.open_file(rd)
        ).read_all()
        yield from tbl.select(arrow_schema.names).cast(arrow_schema).to_batches()
        return
    try:
        tbl = pa_json.read_json(
            io.BytesIO(raw),
            parse_options=pa_json.ParseOptions(
                explicit_schema=arrow_schema,
                unexpected_field_behavior="ignore",
            ),
        )
    except pa.ArrowInvalid:
        import pandas as pd

        # dtype=False: keep quoted decimals as text for the schema-driven
        # parse (float inference would truncate Decimal128 precision)
        pdf = pd.read_json(
            io.BytesIO(raw), lines=True, convert_dates=False, dtype=False
        )
        pdf = _coerce(pdf, schema)
        tbl = pa.Table.from_pandas(
            pdf, schema=arrow_schema, preserve_index=False
        )
    yield from tbl.to_batches()


def _flag(options: dict, name: str) -> bool:
    return str(options.get(name, "false")).lower() in ("true", "1")


def _count_option(options: dict, name: str, default: int) -> int:
    """A count option, refused on the driver when below 1: 0 slices would
    divide by zero, a negative count would give every key value its own
    slice, and 0 rows per request would flush after every row."""
    n = int(options.get(name, default))
    if n < 1:
        raise ValueError(f"clickhouse_http option {name} must be >= 1, got {n}")
    return n


def _split_range(lower: int, upper: int, n: int) -> list[RangePartition]:
    """``[lower, upper)`` (non-empty) as at most ``n`` contiguous half-open
    slices of equal stride; the last slice ends exactly at ``upper``."""
    step = -(-(upper - lower) // n)  # ceil: at most n slices
    return [RangePartition(b, min(b + step, upper)) for b in range(lower, upper, step)]


def _read_slices(options: dict, n: int) -> list[RangePartition]:
    """The slices a batch read of ``options`` splits into, ``n`` at most."""
    if not options.get("partition_column"):
        return [RangePartition(None, None)]
    lower = int(options.get("lower", 0))
    upper = int(options.get("upper", 1 << 31))
    strict = _flag(options, "strict_bounds")
    if lower >= upper:
        # degenerate range: strict mode = the empty half-open interval;
        # default (JDBC parity) = bounds never filter, so one full scan
        return [RangePartition(lower, lower)] if strict else [RangePartition(None, None)]
    parts = _split_range(lower, upper, n)
    if not strict:
        # JDBC-partitioner parity: lower/upper size the strides but the
        # edge slices stay unbounded, so rows outside [lower, upper)
        # are read, never silently dropped.
        parts[0] = RangePartition(None, parts[0].hi)
        parts[-1] = RangePartition(parts[-1].lo, None)
    return parts


def _resolve_wire(options: dict) -> str:
    """Resolve the ``wire_format`` option ON THE DRIVER (readers are built
    driver-side and pickled to executors, so the probe runs once and its
    result ships with the reader): default ``auto`` negotiates
    ArrowStream → Parquet → JSONEachRow against the endpoint; explicit
    values pass through."""
    wf = str(options.get("wire_format", "auto"))
    if wf.lower() != "auto":
        return wf
    return negotiate_wire_format(
        options["url"],
        timeout=min(float(options.get("timeout", 300)), 30.0),
        user=options.get("user"),
        password=options.get("password"),
    )


class _CHReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.schema = schema
        self.options = dict(options)
        self.num_partitions = _count_option(self.options, "num_partitions", 8)
        self.options["wire_format"] = _resolve_wire(self.options)

    def partitions(self) -> Sequence[InputPartition]:
        return _read_slices(self.options, self.num_partitions)

    def read(self, partition: RangePartition) -> Iterator:
        o = self.options
        sql = build_select(
            o["table"],
            columns=[f.name for f in self.schema.fields],
            predicate=o.get("predicate"),
            partition_column=o.get("partition_column"),
            lower=partition.lo,
            upper=partition.hi,
            fmt=o["wire_format"],
        )
        yield from _fetch_record_batches(
            o["url"],
            sql,
            self.schema,
            _auth_headers(o.get("user"), o.get("password")),
            float(o.get("timeout", 300)),
            o["wire_format"],
        )


class _CHStreamReader(DataSourceStreamReader):
    """Cursor-tailing micro-batch reader. Offsets are watermarks over a
    monotonically-assigned numeric cursor column; each batch covers the
    half-open cursor range (start, end] split into executor partitions."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self.schema = schema
        self.options = dict(options)
        options = self.options
        self.cursor_col = options.get("cursor_column") or options.get(
            "partition_column"
        )
        if not self.cursor_col:
            raise ValueError(
                "clickhouse_http streaming needs cursor_column (or "
                "partition_column) — a monotonic numeric column"
            )
        self.num_partitions = _count_option(options, "num_partitions", 4)
        options["wire_format"] = _resolve_wire(options)
        self.auth = _auth_headers(options.get("user"), options.get("password"))
        self.timeout = float(options.get("timeout", 60))

    def initialOffset(self) -> dict:
        return {"cursor": int(self.options.get("lower", 0)) - 1}

    def latestOffset(self) -> dict:
        o = self.options
        hi = _max_cursor(
            o["url"],
            o["table"],
            self.cursor_col,
            self.timeout,
            o.get("user"),
            o.get("password"),
        )
        if hi is None:
            return self.initialOffset()
        return {"cursor": int(hi)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["cursor"]), int(end["cursor"])
        if hi <= lo:
            return []
        return _split_range(lo + 1, hi + 1, self.num_partitions)

    def read(self, partition: RangePartition) -> Iterator:
        o = self.options
        sql = build_select(
            o["table"],
            columns=[f.name for f in self.schema.fields],
            predicate=f"({o['predicate']})" if o.get("predicate") else None,
            partition_column=self.cursor_col,
            lower=partition.lo,
            upper=partition.hi,
            fmt=o["wire_format"],
        )
        yield from _fetch_record_batches(
            o["url"], sql, self.schema, self.auth, self.timeout, o["wire_format"]
        )

    def commit(self, end: dict) -> None:
        pass  # watermark progression is wholly checkpoint-driven

    def stop(self) -> None:
        pass


def _json_text(v: Any) -> str:
    """``json.dumps`` fallback: the documented JSONEachRow text of the
    values JSON has no type for — DateTime64 ``YYYY-MM-DD hh:mm:ss[.ffffff]``,
    Date ``YYYY-MM-DD``, Decimal as its exact digits. A zoned timestamp is
    rendered in the local wall clock, as Spark's row conversion does."""
    if getattr(v, "tzinfo", None) is not None:
        v = v.astimezone().replace(tzinfo=None)
    return str(v)


def _json_each_row(batches: list, schema: StructType) -> str:
    # Arrow hands a map over as (key, value) pairs; JSONEachRow wants an object
    maps = [f.name for f in schema.fields if isinstance(f.dataType, MapType)]
    lines = []
    for b in batches:
        for row in b.to_pylist():
            for m in maps:
                if row[m] is not None:
                    row[m] = dict(row[m])
            lines.append(json.dumps(row, default=_json_text))
    return "\n".join(lines)


def _check_insert_ack(
    summary: dict | None, rows: int, table: str, expect_insert_dedup: bool
) -> None:
    """Wire-level write witness: when the server acknowledges an INSERT
    with X-ClickHouse-Summary, its written_rows must not be LESS than the
    body's row count — a truncating endpoint fails the task LOUDLY instead
    of silently under-writing. Not exact equality: real servers
    legitimately report MORE (materialized views attached to the target
    count their own writes into written_rows). A 0-ack is ambiguous —
    either a Replicated insert-dedup REPLAY (successful, server-side
    duplicate suppression) or a total-loss endpoint that dropped the whole
    batch; only the caller knows which is plausible for the target table,
    so 0-acks raise unless ``expect_insert_dedup`` opted in (and even then
    each one is warned to the executor log — a stream of them against a
    non-Replicated table is the loss case)."""
    wr = (summary or {}).get("written_rows")
    if wr is None or int(wr) >= rows:
        return
    if int(wr) == 0 and expect_insert_dedup:
        _log.warning(
            "INSERT into %s acked written_rows=0 for a %d-row body — treated "
            "as a Replicated insert-dedup replay (expect_insert_dedup=true); "
            "if %s is not a Replicated table with deduplication, this write "
            "was LOST",
            table,
            rows,
            table,
        )
        return
    raise OSError(
        f"server acknowledged {wr} written rows for a {rows}-row INSERT body "
        "— write witness under-write (X-ClickHouse-Summary)"
        + (
            ""
            if int(wr)
            else "; set expect_insert_dedup=true only if this target is a "
            "Replicated table where a 0-ack means a deduplicated replay"
        )
    )


@dataclass
class _WroteRows(WriterCommitMessage):
    rows: int


class _CHWriter(DataSourceArrowWriter):
    """INSERT sink: each task POSTs its partition's record batches as
    ``INSERT … FORMAT JSONEachRow`` (default) or ``FORMAT Parquet``
    (``wire_format=Parquet``: columnar bodies, Decimal/DateTime64 exact)
    requests of exactly ``rows_per_request`` rows (the last one shorter),
    so request bodies stay bounded whatever the partition size.
    ``compress`` gzips each body with ``Content-Encoding: gzip``. INSERTs
    are never retried — a re-POSTed body could double-apply, so write
    idempotence stays the caller's contract. ``overwrite`` issues a
    server-side TRUNCATE when the writer is built (driver), before any
    task runs — matching the INSERT-after-TRUNCATE the reference's
    recreate-and-copy flow performs."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self.schema = schema
        self.options = options
        self.auth = _auth_headers(options.get("user"), options.get("password"))
        self.timeout = float(options.get("timeout", 300))
        self.chunk = _count_option(options, "rows_per_request", 100_000)
        wire = str(options.get("wire_format", "JSONEachRow"))
        self.parquet = wire.lower() == "parquet"
        self.compress = _flag(options, "compress")
        self.expect_insert_dedup = _flag(options, "expect_insert_dedup")
        if overwrite:
            _post(
                options["url"],
                f"TRUNCATE TABLE {options['table']}".encode(),
                self.timeout,
                self.auth,
            )

    def _insert(self, batches: list, rows: int) -> None:
        table = self.options["table"]
        if self.parquet:
            import io

            import pyarrow as pa
            import pyarrow.parquet as pq

            out = io.BytesIO()
            pq.write_table(pa.Table.from_batches(batches), out)
            body = f"INSERT INTO {table} FORMAT Parquet\n".encode() + out.getvalue()
        else:
            body = (
                f"INSERT INTO {table} FORMAT JSONEachRow\n"
                + _json_each_row(batches, self.schema)
            ).encode()
        headers = self.auth
        if self.compress:
            import gzip

            body = gzip.compress(body)
            headers = {**self.auth, "Content-Encoding": "gzip"}
        sink: dict = {}
        _post(self.options["url"], body, self.timeout, headers, summary_sink=sink)
        _check_insert_ack(sink.get("summary"), rows, table, self.expect_insert_dedup)

    def write(self, iterator) -> _WroteRows:
        total = 0
        buf: list = []
        buffered = 0
        for batch in iterator:
            total += batch.num_rows
            start = 0
            while start < batch.num_rows:
                take = min(self.chunk - buffered, batch.num_rows - start)
                buf.append(batch.slice(start, take))
                buffered += take
                start += take
                if buffered == self.chunk:
                    self._insert(buf, buffered)
                    buf, buffered = [], 0
        if buffered:
            self._insert(buf, buffered)
        return _WroteRows(rows=total)

    def commit(self, messages) -> None:
        # inserts are visible as they land (the server's semantics); the
        # commit only totals what the tasks wrote
        rows = sum(m.rows for m in messages if m is not None)
        _log.info("INSERT into %s: %d rows", self.options["table"], rows)

    def abort(self, messages) -> None:
        pass  # no staged state to clean: idempotence comes from the caller


class ClickHouseHTTPDataSource(DataSource):
    """``spark.dataSource.register(ClickHouseHTTPDataSource)`` then
    ``spark.read.format("clickhouse_http")…``.

    Every entry point first drops Spark's archives from the planner
    worker's import path (``worker_daemon.drop_spark_archives``, once per
    process): the read planner unpickles the instance without calling
    ``__init__``, so ``__init__`` alone would miss it."""

    def __init__(self, options: dict) -> None:
        drop_spark_archives()
        super().__init__(options)

    @classmethod
    def name(cls) -> str:
        return "clickhouse_http"

    def schema(self):
        ddl = self.options.get("schema")
        if not ddl:
            raise ValueError(
                "clickhouse_http needs .schema(...) or a schema option"
            )
        return ddl

    def reader(self, schema: StructType) -> DataSourceReader:
        drop_spark_archives()
        return _CHReader(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        drop_spark_archives()
        return _CHStreamReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        drop_spark_archives()
        return _CHWriter(schema, dict(self.options), overwrite)


def relation_options(df) -> dict | None:
    """The options of ``df`` when its analyzed plan is one bare
    ``clickhouse_http`` relation, with nothing (filter, projection, …) on
    top; else None. Keys are lower-cased, as the data source sees them."""
    jdf = getattr(df, "_jdf", None)  # Spark Connect has no JVM plan
    if jdf is None:
        return None
    plan = jdf.queryExecution().analyzed()
    if plan.nodeName() != "DataSourceV2Relation":
        return None
    table = plan.table()
    if (
        table.getClass().getSimpleName() != "PythonTable"
        or table.name() != ClickHouseHTTPDataSource.name()
    ):
        return None
    return {k.lower(): v for k, v in plan.options().asCaseSensitiveMap().items()}


def group_counts(
    options: dict, keys: list[tuple[str, str, DataType]]
) -> list[tuple[tuple, int]]:
    """One driver-side ``SELECT <key exprs>, count(*) … GROUP BY …`` over
    exactly the rows a batch read with ``options`` returns: the
    ``predicate`` option and the union of the read's slices. ``keys`` are
    ``(name, server expression, Spark type)``; no keys counts the rows.

    Returns ``(key tuple, rows)`` pairs in Spark's ``orderBy`` order
    (ascending, NULLs first) with values of each key's Spark type. The
    answer travels as JSONEachRow, so dates arrive as text parsed by the
    Spark schema (ClickHouse's Arrow and Parquet outputs carry ``Date`` as
    ``UInt16`` days), with 64-bit integers unquoted."""
    slices = _read_slices(options, _count_option(options, "num_partitions", 8))
    column = options.get("partition_column")
    predicate = options.get("predicate")
    lower = upper = None
    if column and RangePartition(None, None) not in slices:
        lower, upper = slices[0].lo, slices[-1].hi
        if lower is None and upper is None:
            # the unbounded edge slices still compare the column, so the read
            # never returns a row whose partition column is NULL
            null_free = f"{column} IS NOT NULL"
            predicate = f"({predicate}) AND {null_free}" if predicate else null_free
    exprs = [e if e == n else f"{e} AS {n}" for n, e, _ in keys]
    sql = build_select(
        options["table"],
        columns=[*exprs, "count(*) AS _rows"],
        predicate=predicate,
        partition_column=column,
        lower=lower,
        upper=upper,
        group_by=[e for _, e, _ in keys],
    )
    schema = StructType(
        [StructField(n, t) for n, _, t in keys] + [StructField("_rows", LongType())]
    )
    batches = _fetch_record_batches(
        _with_params(options["url"], output_format_json_quote_64bit_integers="0"),
        sql,
        schema,
        _auth_headers(options.get("user"), options.get("password")),
        float(options.get("timeout", 300)),
    )
    pairs = [
        (tuple(r[n] for n, _, _ in keys), r["_rows"])
        for b in batches
        for r in b.to_pylist()
    ]
    return sorted(pairs, key=lambda p: partition_order_key(p[0]))
