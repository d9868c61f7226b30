"""The migration pipeline — EP2/EP3 parity (reference
``services/migration.py:372-563``), re-designed for Spark's execution model.

Reference semantics preserved:

* per-table flock (C6), idempotence guard (C5, structured — Q7 fix),
  partition discovery (M4), resume skip (C4), per-partition checkpoint (C3),
  validate-before-destructive-step ordering (C10), empty-table fast path
  (C7), per-table error isolation (C9), throttle knob (C2), report shape.

Spark-native re-design (SURVEY §1.4, §7.4):

* The data mover is ``src.filter(partitions).write.partitionBy(keys)`` into
  a STAGING prefix — executors stream rows directly source→dest; the driver
  only ever holds partition values and counts (the reference's
  ``INSERT…SELECT`` server-side property, ``migration.py:473-477``).
* Copies are idempotent dynamic-partition overwrites, so replay after a
  crash-between-copy-and-checkpoint is safe (fixes Q4 — the reference
  re-INSERTs and duplicates rows).
* Validation of all partitions is ONE grouped-count + xxhash64-checksum
  full-outer join (operators/validate.py), not 2 scalar queries per
  partition.
* Atomic cutover = validate staging, then rename staging→final (S8); on
  object stores the rename becomes a manifest-pointer swap — the ordering
  guarantee (destructive step strictly after validation) is the invariant.
* ``strategy='batch'`` writes every remaining partition in one Spark job
  (the 100 TB path: one shuffle-free partitioned write);
  ``strategy='per_partition'`` is the reference-parity sequential loop
  (C1) with per-unit checkpoint + throttle.
* A "Distributed" table collapses into Spark partitioning (C8 no-op).
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import resume as ledger
from ..catalog import drop_path, rename_path, table_exists, table_path
from ..config import MigrationConfig
from ..lock import is_locked, table_lock
from ..plans.partitions import partition_predicate
from ..sources.clickhouse_ds import group_counts, relation_options
from .validate import count_validation, validation_failures

DB = "default"


def _staging_path(dest_dir: str, table: str) -> str:
    return os.path.join(dest_dir, f"_staging_{table}")


def _final_path(dest_dir: str, table: str) -> str:
    return os.path.join(dest_dir, table)


# --- manifest-pointer publish (object-store-safe cutover) -------------------
#
# Directory rename is atomic on HDFS/local but NOT on S3 (copy+delete). The
# manifest pattern makes cutover a single small-object PUT instead: data
# lands in an immutable versioned prefix (`<table>__v<epoch>`), and
# `<table>.manifest.json` names the current version. Readers resolve the
# manifest; publish = rewrite one tiny JSON (S3 PUTs of a single key are
# atomic and strongly consistent). Old versions stay for time-travel/GC.


def _manifest_path(dest_dir: str, table: str) -> str:
    return os.path.join(dest_dir, f"{table}.manifest.json")


def _load_manifest(dest_dir: str, table: str) -> dict | None:
    import json

    path = _manifest_path(dest_dir, table)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def publish_manifest(dest_dir: str, table: str, data_path: str) -> str:
    """Publish a new table version: the manifest carries a monotonically
    increasing ``version`` and the full version ``history`` (Iceberg-style
    snapshot log, one tiny JSON), so cutover stays a single small-object
    PUT while every previous data path remains resolvable for time travel
    until ``vacuum_versions`` prunes it."""
    import json
    import tempfile

    prev = _load_manifest(dest_dir, table)
    # .get defaults: a manifest written by the pre-versioning format
    # ({table, data_path, published_at} only) is treated as version 1 so
    # re-publishing over an upgraded dest_dir starts a history instead of
    # raising KeyError.
    prev_version = prev.get("version", 1) if prev else 0
    version = prev_version + 1
    history = list(prev.get("history", [])) if prev else []
    if prev:
        history.append(
            {
                "version": prev_version,
                "data_path": prev.get("data_path"),
                "published_at": prev.get("published_at"),
            }
        )
    manifest = {
        "table": table,
        "version": version,
        "data_path": data_path,
        "published_at": time.time(),
        "history": history,
    }
    d = os.path.dirname(os.path.abspath(_manifest_path(dest_dir, table)))
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".manifest_")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(dest_dir, table))  # local analogue of the PUT
    return _manifest_path(dest_dir, table)


def resolve_manifest(
    dest_dir: str, table: str, version: int | None = None
) -> str | None:
    """Current data path, or a historical version's (time travel)."""
    m = _load_manifest(dest_dir, table)
    if m is None:
        return None
    if version is None or version == m.get("version", 1):
        return m["data_path"]
    for h in m.get("history", []):
        if h["version"] == version:
            return h["data_path"]
    raise ValueError(
        f"version {version} not found for {table!r} (have 1..{m.get('version', 1)})"
    )


def list_versions(dest_dir: str, table: str) -> list[dict]:
    """All published versions, oldest first, current last."""
    m = _load_manifest(dest_dir, table)
    if m is None:
        return []
    return m.get("history", []) + [
        {
            "version": m.get("version", 1),
            "data_path": m.get("data_path"),
            "published_at": m.get("published_at"),
        }
    ]


def vacuum_versions(dest_dir: str, table: str, keep_last: int = 2) -> list[str]:
    """Retention: drop the data directories of versions older than the last
    ``keep_last`` and rewrite the manifest history. A data path still
    referenced by a kept version is never deleted (validate-before-destroy
    ordering, same posture as the partition copy)."""
    import json
    import shutil
    import tempfile

    m = _load_manifest(dest_dir, table)
    if m is None:
        return []
    versions = m.get("history", []) + [
        {
            "version": m.get("version", 1),
            "data_path": m.get("data_path"),
            "published_at": m.get("published_at"),
        }
    ]
    keep = versions[-max(keep_last, 1):]
    drop = versions[: len(versions) - len(keep)]

    # data_path is a single prefix (migrated tables, compacted indexes) or
    # a LIST of prefixes (the dedup index's append-only snapshot chain,
    # where consecutive versions share every prefix but the newest) —
    # flatten so a shared prefix referenced by ANY kept version survives
    def _paths(v) -> list[str]:
        p = v.get("data_path")
        if p is None:
            return []
        return [p] if isinstance(p, str) else list(p)

    kept_paths = {p for v in keep for p in _paths(v)}
    # Publish the pruned manifest FIRST, then delete the now-unreferenced
    # data directories: a crash between the two steps leaves orphaned data
    # (re-vacuumable) rather than a manifest whose history points at
    # deleted paths (broken time travel).
    m["history"] = keep[:-1]
    d = os.path.dirname(os.path.abspath(_manifest_path(dest_dir, table)))
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".manifest_")
    with os.fdopen(fd, "w") as f:
        json.dump(m, f)
    os.replace(tmp, _manifest_path(dest_dir, table))
    removed = []
    for v in drop:
        for p in _paths(v):
            if p not in kept_paths and os.path.isdir(p):
                shutil.rmtree(p)
                removed.append(p)
    return removed


def read_published(
    spark: SparkSession, dest_dir: str, table: str, version: int | None = None
) -> DataFrame:
    """Read a manifest-published table, optionally at a historical version
    (falls back to the plain final path for rename-published tables)."""
    data_path = resolve_manifest(dest_dir, table, version) or _final_path(
        dest_dir, table
    )
    return spark.read.parquet(data_path)


# a derived key the ClickHouse server computes as Spark does: ``week`` is
# left out (its week start may differ), and so is every other expression
_SERVER_DERIVED_KEY = re.compile(
    r"CAST\(\s*date_trunc\(\s*'(year|quarter|month|day)'\s*,\s*(\w+)\s*\)\s*AS\s+DATE\s*\)",
    re.IGNORECASE,
)
# key types whose JSON text decodes to the value Spark collects; TIMESTAMP is
# left out (Spark truncates in the session time zone, the server in its own)
_SERVER_KEY_TYPES = (T.IntegralType, T.StringType, T.DateType, T.TimestampNTZType)


def _server_discovery(
    loaded: DataFrame, keys: list[str], derived: dict[str, str]
) -> tuple[dict, list[tuple[str, str, T.DataType]]] | None:
    """``(reader options, [(key, server expression, Spark type)])`` when
    ``loaded`` is a bare ``clickhouse_http`` relation and every key is one of
    its columns or a whitelisted derived key; else None (Spark discovers)."""
    options = relation_options(loaded)
    if options is None:
        return None
    types = {f.name: f.dataType for f in loaded.schema.fields}
    server_keys = []
    for k in keys:
        if k not in derived:
            if not isinstance(types.get(k), _SERVER_KEY_TYPES):
                return None
            server_keys.append((k, k, types[k]))
            continue
        m = _SERVER_DERIVED_KEY.fullmatch(derived[k].strip())
        if (
            m is None
            or k in types  # on the server the alias would shadow the column
            or m[2] in derived
            or not isinstance(types.get(m[2]), (T.DateType, T.TimestampNTZType))
        ):
            return None
        expr = f"CAST(date_trunc('{m[1].lower()}', {m[2]}) AS DATE)"
        server_keys.append((k, expr, T.DateType()))
    return options, server_keys


def discover_partition_values(
    df: DataFrame,
    keys: list[str],
    server: tuple[dict, list[tuple[str, str, T.DataType]]] | None = None,
) -> list[tuple[tuple, int]]:
    """M4 + A1 in one source read: ordered ``(partition tuple, rows)`` pairs
    — the only data-derived values the driver ever collects (bounded by
    #partitions, not #rows). Their row sum is the table total the copy is
    validated against. With ``server`` (from ``_server_discovery``) they
    come from one GROUP BY on the ClickHouse server, not a Spark job."""
    if server is not None:
        return group_counts(*server)
    rows = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_rows"))
        .orderBy(*keys)
        .collect()
    )
    return [(tuple(r[k] for k in keys), r["_rows"]) for r in rows]


def _copy_partitions(
    src: DataFrame,
    staging: str,
    keys: list[str],
    parts: list[tuple] | None,
) -> int:
    """S10: one partitioned write for the given partition set (``None`` →
    everything). Dynamic partition overwrite → idempotent replay (Q4 fix).
    Returns the row count witnessed by the write job itself (``observe`` —
    zero extra scan), which the caller cross-checks against the staged
    read-back: a third invariant beyond src/dst counts that catches
    read-after-write visibility gaps on eventually-consistent stores.

    Partition selection scales with #partitions: single-key → pushed-down
    ``isin``; composite → broadcast semi-join against the partition list
    (an OR-chain of predicates would blow up the expression tree at 10^4+
    partitions)."""
    from pyspark.sql import Observation

    if parts is not None:
        if len(parts) == 1:
            src = src.filter(partition_predicate(dict(zip(keys, parts[0]))))
        elif len(keys) == 1:
            src = src.filter(F.col(keys[0]).isin([p[0] for p in parts]))
        else:
            spark = src.sparkSession
            sel = spark.createDataFrame(
                [tuple(p) for p in parts], schema=src.select(*keys).schema
            )
            src = src.join(F.broadcast(sel), on=keys, how="left_semi")
    obs = Observation()
    src = src.observe(obs, F.count(F.lit(1)).alias("rows_written"))
    writer = src.write.mode("overwrite")
    if keys:
        writer = writer.partitionBy(*keys)
    writer.parquet(staging)
    return int(obs.get["rows_written"])


def _validate(
    spark: SparkSession,
    src: DataFrame,
    staging: str,
    keys: list[str],
    checksum: bool,
) -> tuple[list[dict], int]:
    """A3 for all partitions in one job; returns (check_results, dst_total)."""
    dst = spark.read.parquet(staging)
    checksum_cols = None
    if checksum:
        # checksum over columns common to both sides, minus partition cols
        # (partition values are already the join key); Spark-vs-Spark, so the
        # fast private xxhash64 is fine here (no DuckDB in this loop)
        common = [c for c in src.columns if c in dst.columns and c not in keys]
        checksum_cols = sorted(common)
    if keys:
        # align partition-column types: directory-encoded values read back as
        # strings/ints — cast the source side to the read-back types
        for k in keys:
            src = src.withColumn(k, F.col(k).cast(dst.schema[k].dataType))
        validation = count_validation(src, dst, keys, checksum_cols)
        rows = validation.collect()
        check_results = [
            {
                "partition": ledger.serialize_partition(tuple(r[k] for k in keys)),
                "src_count": r["src_cnt"],
                "dst_count": r["dst_cnt"],
                "passed": bool(r["passed"]),
            }
            for r in rows
        ]
        dst_total = sum(r["dst_count"] or 0 for r in check_results)
    else:
        src_cnt, dst_cnt = src.count(), dst.count()
        check_results = [
            {
                "partition": "<all>",
                "src_count": src_cnt,
                "dst_count": dst_cnt,
                "passed": src_cnt == dst_cnt,
            }
        ]
        dst_total = dst_cnt
    return check_results, dst_total


def migrate_single_table(
    spark: SparkSession,
    cfg: MigrationConfig,
    table: str,
    progress: dict | None = None,
) -> dict:
    """EP2 (live def ``migration.py:372-542``) state machine."""
    progress = progress if progress is not None else ledger.load_progress(cfg.progress_path)
    result: dict = {
        "database": DB,
        "table": table,
        "status": "failed",
        "start_time": time.strftime("%Y-%m-%d %H:%M:%S"),
        "completed_partitions": 0,
        "total_partitions": 0,
        "migrated_rows": 0,
        "check_results": [],
        "error": None,
    }
    # 1. lock probe (migration.py:394-398)
    if is_locked(cfg.lock_dir, DB, table):
        result["status"] = "locked"
        return result
    try:
        with table_lock(cfg.lock_dir, DB, table):
            final = _final_path(cfg.dest_dir, table)
            if cfg.publish_mode == "manifest":
                # immutable versioned prefix; cutover = manifest pointer PUT
                staging = os.path.join(
                    cfg.dest_dir, f"{table}__v{int(time.time())}"
                )
            else:
                staging = _staging_path(cfg.dest_dir, table)

            # 3. idempotence guard (C5; Q7 fix: ledger status + dest
            # existence, not a DDL substring probe)
            published = (
                resolve_manifest(cfg.dest_dir, table)
                if cfg.publish_mode == "manifest"
                else (final if table_exists(spark, final) else None)
            )
            if ledger.is_table_completed(progress, DB, table) and published and (
                table_exists(spark, published)
            ):
                result["status"] = "skipped"
                return result

            if cfg.source_loader is not None:
                # pluggable backend (e.g. the ClickHouse HTTP reader) — the
                # rest of the state machine is source-agnostic
                src = cfg.source_loader(spark, table)
            else:
                src_path = table_path(cfg.source_dir, table)
                if not table_exists(spark, src_path):
                    raise FileNotFoundError(f"source table not found: {src_path}")
                from ..catalog import load_table

                src = load_table(spark, cfg.source_dir, table)
            loaded = src
            # derived partition columns (SURVEY §7.4 composite-partition
            # parity): e.g. a month column computed from a timestamp —
            # materialized before discovery so partitionBy sees a real column
            for name, expr in cfg.derived_partitions.items():
                src = src.withColumn(name, F.expr(expr))
            keys = [k for k in cfg.partition_keys if k in src.columns]
            server = _server_discovery(loaded, keys, cfg.derived_partitions)

            # 5. partition discovery (M4) with per-partition row counts;
            # empty → fast path (C7)
            if not keys:
                discovered = []
            elif server is None:
                discovered = discover_partition_values(src, keys)
            else:
                discovered = discover_partition_values(src, keys, server)
            parts = [p for p, _ in discovered]
            part_strs = [ledger.serialize_partition(p) for p in parts]
            result["total_partitions"] = len(parts)

            # 7. resume filter (C4/A6)
            done = ledger.completed_partitions(progress, DB, table) if cfg.resume else []
            todo = ledger.remaining(part_strs, done)
            todo_tuples = [p for p, s in zip(parts, part_strs) if s in todo]
            ledger.init_table(progress, DB, table)

            # 9. total rows (A1): discovery's counts, read before the copy
            if keys:
                total_rows = sum(n for _, n in discovered)
            elif server is not None:
                total_rows = group_counts(*server)[0][1]  # SELECT count(*)
            else:
                total_rows = src.count()

            # 10. copy (C1/S10); rows_witnessed = counts observed inside the
            # write jobs themselves (zero extra scan) — complete only when
            # this run copied every partition
            rows_witnessed: int | None = None
            full_copy = len(todo_tuples) == len(parts)
            if keys and cfg.strategy == "per_partition":
                witnessed = 0
                for values, part_str in [
                    (p, s) for p, s in zip(parts, part_strs) if s in todo
                ]:
                    witnessed += _copy_partitions(src, staging, keys, [values])
                    if cfg.insert_interval:
                        time.sleep(cfg.insert_interval)  # C2 throttle parity
                    ledger.mark_partition(
                        progress, DB, table, part_str, cfg.progress_path
                    )  # C3
                if full_copy:
                    rows_witnessed = witnessed
            elif not keys:
                rows_witnessed = _copy_partitions(src, staging, keys, None)  # C7
            elif todo_tuples:
                sel = None if full_copy else todo_tuples
                witnessed = _copy_partitions(src, staging, keys, sel)
                if full_copy:
                    rows_witnessed = witnessed
                for part_str in todo:
                    ledger.mark_partition(progress, DB, table, part_str, cfg.progress_path)
            # todo empty with keys: nothing to copy — staging holds the
            # prior run's data and validation below decides the outcome

            # 11. validate ALL partitions + table invariant (A3/A4, C10)
            check_results, dst_total = _validate(
                spark, src, staging, keys, cfg.checksum
            )
            result["check_results"] = check_results
            failures = [c for c in check_results if not c["passed"]]
            if failures:
                raise AssertionError(
                    f"validation failed for {len(failures)} partition(s): "
                    f"{[f['partition'] for f in failures[:5]]}"
                )
            if dst_total != total_rows:
                raise AssertionError(
                    f"table invariant failed: dst={dst_total} != src={total_rows}"
                )
            if rows_witnessed is not None and rows_witnessed != dst_total:
                # write job saw N rows but the staged read-back disagrees →
                # read-after-write visibility gap (or files lost post-write)
                raise AssertionError(
                    "write/read-back invariant failed: "
                    f"written={rows_witnessed} != read_back={dst_total}"
                )

            # 12. swap — strictly after validation (S7/S8 ordering)
            if cfg.publish_mode == "manifest":
                publish_manifest(cfg.dest_dir, table, staging)
            else:
                if table_exists(spark, final):
                    drop_path(spark, final)
                if not rename_path(spark, staging, final):
                    raise OSError(f"atomic rename failed: {staging} -> {final}")

            # 13. mark completed
            ledger.mark_table_completed(progress, DB, table, cfg.progress_path)
            result.update(
                status="completed",
                completed_partitions=len(parts),
                migrated_rows=total_rows,
                end_time=time.strftime("%Y-%m-%d %H:%M:%S"),
            )
            return result
    except Exception as exc:  # E: record + recovery hints (migration.py:531-540)
        result["status"] = "failed"
        result["error"] = str(exc)
        result["recovery_hints"] = [
            "re-run with --resume to skip completed partitions",
            f"staging data (if any) is at {_staging_path(cfg.dest_dir, table)}; "
            "it is never promoted without passing validation",
        ]
        return result


def migrate_full_database(
    spark: SparkSession, cfg: MigrationConfig, tables: list[str] | None = None
) -> list[dict]:
    """EP3 (``migration.py:544-563``): enumerate tables (M5 — here: parquet
    datasets in the source dir), migrate each, isolate failures (C9).

    C8 — distributed dispatch: with ``cfg.parallelism > 1`` the tables are
    migrated by a thread pool, each thread submitting its own Spark jobs
    (the reference farms tables to worker processes,
    ``migration.py:308-370``; in Spark the scheduler already shares
    executors between concurrently submitted jobs, so dispatch is
    thread-per-table job submission, not extra processes). Per-table flock
    and the thread-safe ledger keep isolation; results return in the input
    table order regardless of completion order."""
    if tables is None:
        tables = sorted(
            f[: -len(".parquet")]
            for f in os.listdir(cfg.source_dir)
            if f.endswith(".parquet")
        )
    progress = ledger.load_progress(cfg.progress_path)

    def one(t: str) -> dict:
        try:
            return migrate_single_table(spark, cfg, t, progress)
        except Exception as exc:  # noqa: BLE001 — C9 isolation
            return {"database": DB, "table": t, "status": "failed", "error": str(exc)}

    par = max(int(getattr(cfg, "parallelism", 1) or 1), 1)
    if par == 1 or len(tables) <= 1:
        return [one(t) for t in tables]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(par, len(tables))) as pool:
        return list(pool.map(one, tables))
