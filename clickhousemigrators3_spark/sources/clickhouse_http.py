"""ClickHouse HTTP-interface wire helpers — the protocol the reference
actually speaks (reference ``ch_client.py:10-25`` opens clickhouse-connect
against HTTP port 8123; every ``client.query``/``client.command`` in
``migration.py`` ultimately travels this interface).

Rows move through one transport, the ``clickhouse_http`` Spark data
source (``clickhouse_ds.py``); this module holds what it and the
driver-side callers share:

* ``_post`` — one POST with gzip inflate, bounded retries for idempotent
  reads, and capture of the ``X-ClickHouse-Summary``/``-Progress`` headers;
* ``negotiate_wire_format`` — the once-per-endpoint ArrowStream → Parquet
  → JSONEachRow read-wire probe;
* ``build_select`` — one partition's bounded SELECT, caller predicate and
  range edges compiled into the SQL so filtering is server-side whatever
  the optimizer decides (the guarantee the reference got by shipping whole
  SQL strings, ``migration.py:473-477``);
* ``_coerce`` — the schema-driven parse of JSONEachRow text renderings;
* ``command_http`` / ``query_scalar_http`` — driver-side DDL and scalar
  probes (the reference's count validation);
* ``incremental_sync`` — cursor-based change capture that reads each batch
  through the data source.

Unlike the JDBC module (``sources/clickhouse.py``, which needs a driver jar
the sandbox lacks), this path needs only the Python standard library,
pandas and pyarrow, so it is round-trip tested in-process
(tests/test_clickhouse_http.py spins up a stdlib HTTP server that speaks
the documented ClickHouse HTTP protocol).
"""

from __future__ import annotations

import json
import re
import urllib.error
import urllib.parse
import urllib.request
from typing import Any

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_HTTP_PORT = 8123  # reference config.py:11

_PANDAS_DTYPES = {
    T.LongType(): "int64",
    T.IntegerType(): "int32",
    T.DoubleType(): "float64",
    T.StringType(): "object",
    T.BooleanType(): "bool",
}


def http_url(host: str, port: int = DEFAULT_HTTP_PORT, **params: str) -> str:
    """Base endpoint URL; extra query params (database, user settings like
    ``max_execution_time``) are URL-encoded the way clickhouse-connect does."""
    qs = f"?{urllib.parse.urlencode(params)}" if params else ""
    return f"http://{host}:{port}/{qs}"


def build_select(
    table: str,
    columns: list[str] | None = None,
    predicate: str | None = None,
    partition_column: str | None = None,
    lower: int | None = None,
    upper: int | None = None,
    fmt: str = "JSONEachRow",
    group_by: list[str] | None = None,
) -> str:
    """Compile one partition's bounded SELECT. Pure function — contract
    tested against golden strings. Half-open range ``[lower, upper)`` so
    adjacent partitions never overlap and their union is exactly the
    caller's span; a ``None`` edge is left out of the WHERE entirely, which
    is how callers express the JDBC partitioner's unbounded first/last
    strides. ``group_by`` turns it into an aggregate over the same rows."""
    cols = ", ".join(columns) if columns else "*"
    clauses = []
    if predicate:
        clauses.append(f"({predicate})")
    if partition_column is not None:
        if lower is not None:
            clauses.append(f"{partition_column} >= {lower}")
        if upper is not None:
            clauses.append(f"{partition_column} < {upper}")
    where = f" WHERE {' AND '.join(clauses)}" if clauses else ""
    group = f" GROUP BY {', '.join(group_by)}" if group_by else ""
    return f"SELECT {cols} FROM {table}{where}{group} FORMAT {fmt}"


def _with_params(url: str, **params: str) -> str:
    """Append URL query params (server settings) to an endpoint URL."""
    if not params:
        return url
    sep = "&" if "?" in url else "?"
    return url + sep + urllib.parse.urlencode(params)


def _json_read_url(url: str) -> str:
    """The JSON-wire read endpoint: ask the server to QUOTE decimals
    (``output_format_json_quote_decimals=1``). ClickHouse renders decimals
    as bare JSON numbers by default, and a bare number is parsed as
    float64 by every JSON reader — Decimal128 precision would be lost
    before the schema-driven coercion could see the digits. Quoted, the
    text reaches ``_coerce`` intact. (Int64 quoting is already the
    server default; the columnar wires carry decimals natively.)"""
    return _with_params(url, output_format_json_quote_decimals="1")


def _auth_headers(user: str | None, password: str | None) -> dict[str, str]:
    """The documented HTTP-auth headers (clickhouse-connect sends the same;
    X-ClickHouse-Key carries the password)."""
    h: dict[str, str] = {}
    if user is not None:
        h["X-ClickHouse-User"] = user
    if password is not None:
        h["X-ClickHouse-Key"] = password
    return h


_RETRYABLE_HTTP = {429, 500, 502, 503, 504}

# one negotiation per endpoint per process — the probe result cannot change
# mid-run and re-probing would add a request to every read call site
_WIRE_CACHE: dict[str, str] = {}


def negotiate_wire_format(
    url: str,
    timeout: float = 30.0,
    user: str | None = None,
    password: str | None = None,
) -> str:
    """Probe the server once and pick the cheapest read wire it supports:
    ``ArrowStream`` (native Arrow IPC — zero re-encode server-side, fed
    straight to pyarrow) over ``Parquet`` (columnar, ~10× less decode CPU
    than JSON text) over the universal ``JSONEachRow`` fallback. The probe
    is one trivial ``SELECT 1 AS _wire_probe FORMAT <fmt>`` per candidate;
    a refusal (HTTP error or a body that doesn't parse as the format)
    falls through to the next. Results are cached per endpoint, so a
    process negotiates at most once per URL."""
    cached = _WIRE_CACHE.get(url)
    if cached is not None:
        return cached
    auth = _auth_headers(user, password)
    result = "JSONEachRow"
    for fmt, parses in (
        ("ArrowStream", _parses_as_arrow_stream),
        ("Parquet", _parses_as_parquet),
    ):
        try:
            raw = _post(
                url,
                f"SELECT 1 AS _wire_probe FORMAT {fmt}".encode(),
                timeout,
                auth,
            )
            if parses(raw):
                result = fmt
                break
        except Exception:  # noqa: BLE001 — any refusal means "next format"
            continue
    _WIRE_CACHE[url] = result
    return result


def _parses_as_arrow_stream(raw: bytes) -> bool:
    try:
        import pyarrow as pa

        tbl = pa.ipc.open_stream(pa.BufferReader(raw)).read_all()
        return tbl.num_rows == 1
    except Exception:  # noqa: BLE001
        return False


def _parses_as_parquet(raw: bytes) -> bool:
    try:
        import io

        import pyarrow.parquet as pq

        return pq.read_table(io.BytesIO(raw)).num_rows == 1
    except Exception:  # noqa: BLE001
        return False


def _post(
    url: str,
    body: bytes,
    timeout: float,
    headers: dict[str, str] | None = None,
    retries: int = 0,
    retry_backoff: float = 0.5,
    summary_sink: dict | None = None,
) -> bytes:
    """One HTTP POST. Accepts (and transparently inflates) gzip response
    bodies — ClickHouse compresses when ``enable_http_compression=1`` is in
    the URL params and the client advertises it, which cuts wire bytes
    ~5-10× on JSON text. ``retries`` bounds re-attempts on transient
    failures (connection resets, 429/5xx) with linear backoff; callers only
    pass it for idempotent requests (SELECT probes and range reads — a
    retried INSERT could double-apply, so writes keep retries=0 and rely on
    the caller's idempotence contract)."""
    h = dict(headers or {})
    h.setdefault("Accept-Encoding", "gzip")
    attempt = 0
    while True:
        req = urllib.request.Request(url, data=body, method="POST", headers=h)
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
                raw = resp.read()
                if summary_sink is not None:
                    # the documented server-side execution stats:
                    # X-ClickHouse-Summary arrives once per request
                    # (read/written row+byte counts), X-ClickHouse-Progress
                    # repeats during execution when
                    # send_progress_in_http_headers=1 is set
                    import json as _json

                    sm = resp.headers.get("X-ClickHouse-Summary")
                    if sm:
                        try:
                            summary_sink["summary"] = _json.loads(sm)
                        except ValueError:
                            pass
                    progress = []
                    for p in resp.headers.get_all(
                        "X-ClickHouse-Progress"
                    ) or []:
                        try:
                            progress.append(_json.loads(p))
                        except ValueError:
                            pass
                    if progress:
                        summary_sink["progress"] = progress
                if resp.headers.get("Content-Encoding", "") == "gzip":
                    import gzip

                    raw = gzip.decompress(raw)
                return raw
        except urllib.error.HTTPError as exc:
            if attempt >= retries or exc.code not in _RETRYABLE_HTTP:
                raise
        except (urllib.error.URLError, ConnectionError, TimeoutError):
            if attempt >= retries:
                raise
        attempt += 1
        import time

        time.sleep(retry_backoff * attempt)


def _coerce(pdf: pd.DataFrame, schema: T.StructType) -> pd.DataFrame:
    """Column-order + dtype normalisation so Arrow conversion is exact even
    when a JSON batch is missing optional keys or infers int for a double.

    Type edges the JSON wire renders as text get parsed here per the
    SCHEMA, never by name-guessing: DateTime/DateTime64 arrive as
    ``YYYY-MM-DD hh:mm:ss[.ffffff]`` strings, Date as ``YYYY-MM-DD``,
    Decimal as exact decimal text — the documented JSONEachRow renderings.
    A column the schema declares as *string* stays raw text whatever it
    looks like."""
    from decimal import Decimal as _Dec

    out = {}
    for f in schema.fields:
        if f.name not in pdf.columns:
            out[f.name] = pd.Series([None] * len(pdf), dtype="object")
            continue
        s = pdf[f.name]
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            # DateTime64(7..9) renders sub-microsecond text; pandas parses
            # it at ns precision, which Arrow's safe cast to Spark's
            # timestamp[us] REJECTS — truncate to micros here (the
            # documented DateTime64 → TIMESTAMP scale loss, applied at the
            # wire parse instead of crashing the read)
            s = pd.to_datetime(s, format="mixed").dt.floor("us")
        elif isinstance(f.dataType, T.DateType):
            s = pd.to_datetime(s, format="mixed").dt.date
        elif isinstance(f.dataType, T.DecimalType):
            s = s.map(
                lambda v: None
                if v is None or (isinstance(v, float) and pd.isna(v))
                else _Dec(str(v))
            )
        else:
            want = _PANDAS_DTYPES.get(f.dataType)
            if want and want != "object" and s.isna().sum() == 0:
                s = s.astype(want)
        out[f.name] = s
    return pd.DataFrame(out)


def command_http(
    url: str,
    sql: str,
    timeout: float = 60.0,
    user: str | None = None,
    password: str | None = None,
) -> str:
    """Driver-side DDL/command (CREATE/DROP/RENAME — reference
    ``ch_client.py`` ``client.command``). Returns the raw response text."""
    return _post(url, sql.encode(), timeout, _auth_headers(user, password)).decode()


def query_scalar_http(
    url: str,
    sql: str,
    timeout: float = 60.0,
    user: str | None = None,
    password: str | None = None,
) -> Any:
    """Driver-side scalar query (the reference's count-validation probes,
    ``migration.py`` SELECT count() calls) — JSON format, first value."""
    # append FORMAT JSON unless the query already ends in a FORMAT clause —
    # a mere mention of "format" in an identifier or string literal
    # (WHERE kind = 'format') must not suppress the append, or the server
    # answers TabSeparated and the JSON parse below blows up
    if not re.search(r"\bFORMAT\s+\w+\s*$", sql, re.IGNORECASE):
        sql = f"{sql} FORMAT JSON"
    payload = json.loads(
        _post(url, sql.encode(), timeout, _auth_headers(user, password)) or b"{}"
    )
    data = payload.get("data") or []
    if not data:
        return None
    first = data[0]
    return next(iter(first.values())) if isinstance(first, dict) else first[0]


def _max_cursor(
    url: str,
    table: str,
    cursor_col: str,
    timeout: float,
    user: str | None = None,
    password: str | None = None,
) -> Any:
    """The CDC watermark probe: ``max(cursor)`` as one scalar request —
    shared by ``incremental_sync`` and the stream reader's
    ``latestOffset``."""
    return query_scalar_http(
        url,
        f"SELECT max({cursor_col}) AS hi FROM {table}",
        timeout=timeout,
        user=user,
        password=password,
    )


def incremental_sync(
    spark: SparkSession,
    url: str,
    table: str,
    schema: T.StructType,
    cursor_col: str,
    dest_path: str,
    state_path: str,
    num_partitions: int = 8,
    timeout: float = 300.0,
    user: str | None = None,
    password: str | None = None,
) -> dict:
    """Incremental change capture by monotonic cursor — the sync mode the
    reference's one-shot full copy lacks: each call pulls only rows with
    ``cursor_col`` beyond the last synced watermark and lands them as one
    idempotent batch partition.

    Single data pass per cycle: the batch watermark ``hi`` comes from a
    driver-side scalar ``max(cursor)`` probe (one tiny request, not a data
    read), and the unsynced tail ``(watermark, hi]`` is then read exactly
    once, executor-side, with strict range edges — the half-open batch
    range IS the membership contract, so rows arriving after the probe are
    excluded here and picked up by the next cycle. A row can never land in
    two batches.

    Exactly-once posture: the observed ``hi`` is persisted as an *intent*
    record (tmp + atomic rename) BEFORE the batch write, and a retry reuses
    a pending intent instead of re-probing. So a crash anywhere between
    intent and the final watermark update makes the retry re-land the
    *same* ``_sync_batch=<hi>`` partition via dynamic partition overwrite —
    replay is a no-op even when new rows arrived in between (they are
    beyond ``hi`` and excluded by the strict upper edge). Without the
    intent, a crash-then-insert retry would observe a larger ``hi'`` and
    land the overlapping range under a NEW partition, duplicating rows
    across the two.

    The cursor must be numeric and monotonically assigned at the source
    (ClickHouse: an insert-time column or a monotonic id; timestamps map
    via toUnixTimestamp). Returns ``{"rows": n, "cursor": hi, "batch":
    path-or-None}``."""
    import json as _json
    import os as _os

    state: dict = {"cursor": None}
    if _os.path.exists(state_path):
        with open(state_path) as f:
            state = _json.load(f)
    watermark = state.get("cursor")

    def _persist(payload: dict) -> None:
        tmp = f"{state_path}.tmp"
        with open(tmp, "w") as f:
            _json.dump(payload, f)
        _os.replace(tmp, state_path)

    intent = state.get("intent_hi")
    if intent is not None and (watermark is None or int(intent) > int(watermark)):
        hi = int(intent)  # crash replay: re-land the batch already promised
    else:
        probed = _max_cursor(url, table, cursor_col, timeout, user, password)
        if probed is None or (
            watermark is not None and int(probed) <= int(watermark)
        ):
            return {"rows": 0, "cursor": watermark, "batch": None}
        hi = int(probed)
        _persist({"cursor": watermark, "intent_hi": hi, "table": table})

    from .clickhouse_ds import ClickHouseHTTPDataSource

    lo = int(watermark) + 1 if watermark is not None else None
    options = {
        "url": url,
        "table": table,
        "partition_column": cursor_col,
        "lower": lo if lo is not None else 0,
        "upper": hi + 1,  # half-open: bounds the batch AT the promised watermark
        "num_partitions": num_partitions,
        "timeout": timeout,
        "strict_bounds": lo is not None,  # batch edges are membership, not hints
        "predicate": None if lo is not None else f"{cursor_col} <= {hi}",
        "user": user,
        "password": password,
    }
    spark.dataSource.register(ClickHouseHTTPDataSource)
    batch_df = (
        spark.read.format("clickhouse_http")
        .schema(schema)
        .options(**{k: v for k, v in options.items() if v is not None})
        .load()
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        batch_df.withColumn("_sync_batch", F.lit(hi))
        .write.mode("overwrite")
        .partitionBy("_sync_batch")
        .parquet(dest_path)
    )
    batch_dir = f"{dest_path}/_sync_batch={hi}"
    # count from the landed parquet — the source is never read twice;
    # existence via the Hadoop FS API so s3a://, hdfs://, and file:// dests
    # all behave (os.path.exists would silently report 0 off local disk)
    from ..catalog import table_exists

    n = spark.read.parquet(batch_dir).count() if table_exists(spark, batch_dir) else 0
    _persist({"cursor": hi, "table": table})
    return {"rows": int(n), "cursor": hi, "batch": batch_dir if n else None}
