"""Migration-engine tests — the runtime-validation behaviors the reference
enforces (SURVEY §5) as unit tests: happy path, resume, corrupted-dest
validation failure, lock contention, config precedence, report shape."""

from __future__ import annotations

import json
import os

import pytest

from clickhousemigrators3_spark.config import MigrationConfig, resolve_config
from clickhousemigrators3_spark.lock import table_lock
from clickhousemigrators3_spark.operators.migrate import (
    migrate_full_database,
    migrate_single_table,
)
from clickhousemigrators3_spark.report import exit_code, generate_report, summarize
from clickhousemigrators3_spark import resume as ledger

SF_DIR = "/root/testdata/sf0.001"


def make_cfg(tmp_path, **kw) -> MigrationConfig:
    base = dict(
        source_dir=SF_DIR,
        dest_dir=str(tmp_path / "dest"),
        partition_keys=["l_returnflag", "l_linestatus"],
        insert_interval=0.0,
        lock_dir=str(tmp_path / "locks"),
        progress_path=str(tmp_path / "progress.json"),
        report_dir=str(tmp_path / "reports"),
        strategy="batch",
    )
    base.update(kw)
    return MigrationConfig(**base)


def test_migrate_happy_path_batch(spark, tmp_path):
    cfg = make_cfg(tmp_path)
    res = migrate_single_table(spark, cfg, "lineitem")
    assert res["status"] == "completed", res.get("error")
    assert res["total_partitions"] == 6
    assert res["migrated_rows"] == 6000
    assert all(c["passed"] for c in res["check_results"])
    out = spark.read.parquet(str(tmp_path / "dest" / "lineitem"))
    assert out.count() == 6000
    # partition layout on disk (S10 → partitionBy)
    dirs = os.listdir(tmp_path / "dest" / "lineitem")
    assert any(d.startswith("l_returnflag=") for d in dirs)
    # idempotence guard (C5): second run skips
    res2 = migrate_single_table(spark, cfg, "lineitem")
    assert res2["status"] == "skipped"


def test_migrate_per_partition_resume(spark, tmp_path):
    cfg = make_cfg(tmp_path, strategy="per_partition", resume=True, table="orders")
    cfg.partition_keys = ["o_orderstatus"]
    # simulate a prior crashed run: partition 'F' already copied + checkpointed
    from clickhousemigrators3_spark.operators.migrate import (
        _copy_partitions,
        _staging_path,
    )
    from clickhousemigrators3_spark.catalog import load_table

    src = load_table(spark, SF_DIR, "orders")
    _copy_partitions(src, _staging_path(cfg, "orders"), ["o_orderstatus"], [("F",)])
    progress = ledger.init_table({}, "default", "orders")
    ledger.mark_partition(progress, "default", "orders", ["F"], cfg.progress_path)

    res = migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "completed", res.get("error")
    out = spark.read.parquet(str(tmp_path / "dest" / "orders"))
    assert out.count() == src.count()
    # resumed run only re-copied the remaining partitions, but validated all
    assert {c["partition"] for c in res["check_results"]} == {"F", "O", "P"}


def test_validation_blocks_swap_on_corruption(spark, tmp_path, monkeypatch):
    """C10: a corrupted staging copy must fail validation and never be
    promoted to the final path."""
    cfg = make_cfg(tmp_path, checksum=True)
    import clickhousemigrators3_spark.operators.migrate as mig

    real_copy = mig._copy_partitions

    def corrupt_copy(src, staging, keys, parts):
        # drop some rows from one partition → count + checksum mismatch
        from pyspark.sql import functions as F

        corrupted = src.filter(
            ~((F.col("l_returnflag") == "A") & (F.col("l_linenumber") == 1))
        )
        return real_copy(corrupted, staging, keys, parts)

    monkeypatch.setattr(mig, "_copy_partitions", corrupt_copy)
    res = migrate_single_table(spark, cfg, "lineitem")
    assert res["status"] == "failed"
    assert "validation failed" in res["error"]
    assert not os.path.exists(tmp_path / "dest" / "lineitem")  # never promoted
    assert os.path.exists(tmp_path / "dest" / "_staging_lineitem")  # kept for debug


def test_checksum_catches_content_corruption(spark, tmp_path, monkeypatch):
    """Checksum upgrade: same row COUNT but different content must fail."""
    cfg = make_cfg(tmp_path, checksum=True)
    import clickhousemigrators3_spark.operators.migrate as mig
    from pyspark.sql import functions as F

    real_copy = mig._copy_partitions

    def mutate_copy(src, staging, keys, parts):
        mutated = src.withColumn(
            "l_quantity",
            F.when(F.col("l_linenumber") == 1, F.col("l_quantity") + 1).otherwise(
                F.col("l_quantity")
            ),
        )
        return real_copy(mutated, staging, keys, parts)

    monkeypatch.setattr(mig, "_copy_partitions", mutate_copy)
    res = migrate_single_table(spark, cfg, "lineitem")
    assert res["status"] == "failed"
    # counts are equal, so only the checksum can catch it
    assert all(
        c["src_count"] == c["dst_count"] for c in res["check_results"]
    )


def test_lock_contention(spark, tmp_path):
    cfg = make_cfg(tmp_path)
    with table_lock(cfg.lock_dir, "default", "lineitem"):
        res = migrate_single_table(spark, cfg, "lineitem")
    assert res["status"] == "locked"


def test_full_database_error_isolation(spark, tmp_path):
    """C9: one bad table must not stop the rest."""
    cfg = make_cfg(tmp_path, partition_keys=[])
    results = migrate_full_database(spark, cfg, tables=["region", "no_such_table", "nation"])
    by_table = {r["table"]: r["status"] for r in results}
    assert by_table["region"] == "completed"
    assert by_table["no_such_table"] == "failed"
    assert by_table["nation"] == "completed"
    assert exit_code(results) == 1  # C11


def test_config_precedence(tmp_path, monkeypatch):
    """Q1 fix: CLI > env > file > default, per key."""
    cfg_file = tmp_path / "cfg.yaml"
    cfg_file.write_text("insert_interval: 9\nstrategy: per_partition\ntable: from_file\n")
    monkeypatch.setenv("MIGRATION_TABLE", "from_env")
    cfg = resolve_config(
        ["--table", "from_cli", "--config-file", str(cfg_file)]
    )
    assert cfg.table == "from_cli"  # CLI wins
    assert cfg.insert_interval == 9.0  # file wins (no CLI/env)
    assert cfg.strategy == "per_partition"
    monkeypatch.delenv("MIGRATION_TABLE")
    cfg2 = resolve_config(["--config-file", str(cfg_file)])
    assert cfg2.table == "from_file"


def test_report_shape(tmp_path):
    results = [
        {"table": "a", "status": "completed", "migrated_rows": 10, "completed_partitions": 2},
        {"table": "b", "status": "failed", "error": "x"},
    ]
    path = generate_report(results, str(tmp_path), start_time=0.0)
    with open(path) as f:
        report = json.load(f)
    assert set(report) == {"migration_info", "results", "summary"}
    assert report["summary"]["total_tables"] == 2
    assert report["summary"]["completed"] == 1
    assert report["summary"]["failed"] == 1
    assert report["summary"]["migrated_rows"] == 10
    assert exit_code(results) == 1


def test_migrate_derived_date_partition(spark, tmp_path):
    """SURVEY §7.4: a derived date partition key must round-trip through the
    partitionBy directory encoding with type fidelity."""
    cfg = make_cfg(
        tmp_path,
        partition_keys=["p_month"],
        derived_partitions={"p_month": "CAST(date_trunc('month', l_shipdate) AS DATE)"},
    )
    res = migrate_single_table(spark, cfg, "lineitem")
    assert res["status"] == "completed", res.get("error")
    out = spark.read.parquet(str(tmp_path / "dest" / "lineitem"))
    assert out.count() == 6000
    assert out.schema["p_month"].dataType.simpleString() == "date"
    from pyspark.sql import functions as F
    import datetime

    months = sorted(r["p_month"] for r in out.select("p_month").distinct().collect())
    assert res["total_partitions"] == len(months)
    assert all(isinstance(m, datetime.date) and m.day == 1 for m in months)
    # original timestamp column still intact alongside the derived key
    mismatch = out.filter(
        F.date_trunc("month", F.col("l_shipdate")).cast("date") != F.col("p_month")
    ).count()
    assert mismatch == 0


def test_manifest_publish_mode(spark, tmp_path):
    """S3-safe cutover: data in immutable versioned prefixes, cutover via
    manifest pointer; republish swaps the pointer and keeps the old version."""
    import time as _time
    from clickhousemigrators3_spark.operators.migrate import (
        read_published,
        resolve_manifest,
    )

    cfg = make_cfg(tmp_path, publish_mode="manifest", partition_keys=["o_orderstatus"])
    res = migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "completed", res.get("error")
    v1 = resolve_manifest(cfg.dest_dir, "orders")
    assert v1 and "__v" in v1
    assert read_published(spark, cfg.dest_dir, "orders").count() == 1500
    # no plain-rename final dir in manifest mode
    assert not os.path.exists(tmp_path / "dest" / "orders")

    # republish (e.g. recompute): new version prefix, pointer moves, v1 stays
    _time.sleep(1.1)  # distinct version epoch
    ledger.save_progress(cfg.progress_path, {})  # clear completed status
    res2 = migrate_single_table(spark, cfg, "orders")
    assert res2["status"] == "completed", res2.get("error")
    v2 = resolve_manifest(cfg.dest_dir, "orders")
    assert v2 != v1
    assert os.path.exists(v1)  # old version retained for time-travel/GC
    assert read_published(spark, cfg.dest_dir, "orders").count() == 1500


def test_manifest_publish_mode_resumes_into_the_crashed_runs_prefix(
    spark, tmp_path, monkeypatch
):
    """A resumed manifest migration stages into the prefix the crashed run
    wrote, so the partitions the ledger marks copied are there; the crashed
    run's recovery hint names that prefix."""
    import time as _time

    import clickhousemigrators3_spark.operators.migrate as mig
    from clickhousemigrators3_spark.operators.migrate import list_versions, read_published

    cfg = make_cfg(
        tmp_path, publish_mode="manifest", strategy="per_partition",
        resume=True, partition_keys=["o_orderstatus"],
    )
    real_copy = mig._copy_partitions
    calls = []

    def crash_after_first_checkpoint(src, staging, keys, parts):
        calls.append(parts)
        if len(calls) == 2:
            raise RuntimeError("injected crash")
        return real_copy(src, staging, keys, parts)

    monkeypatch.setattr(mig, "_copy_partitions", crash_after_first_checkpoint)
    res = migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "failed" and "injected crash" in res["error"]
    assert ledger.completed_partitions(
        ledger.load_progress(cfg.progress_path), "default", "orders"
    ) == [ledger.serialize_partition(calls[0][0])]
    [hinted] = [h for h in res["recovery_hints"] if "staging data" in h]
    staged = hinted.split(" is at ")[1].split(";")[0]
    assert os.path.isdir(staged)

    _time.sleep(1.1)  # the resume starts in a later second than the crash
    monkeypatch.setattr(mig, "_copy_partitions", real_copy)
    res = migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "completed", res.get("error")
    assert [v["version"] for v in list_versions(cfg.dest_dir, "orders")] == [1]
    assert [d for d in os.listdir(cfg.dest_dir) if "__v" in d] == ["orders__v1"]
    assert read_published(spark, cfg.dest_dir, "orders").count() == 1500


def test_cli_end_to_end(tmp_path):
    """EP1 parity smoke: the CLI migrates one table from fixtures to a
    destination dir, writes a JSON report, prints per-table status, and
    exits 0. Runs in a subprocess — the CLI owns its SparkSession
    lifecycle (creates and stops it), which must not touch the pytest
    fixture session."""
    import json
    import os
    import subprocess
    import sys

    dest = tmp_path / "dest"
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; from clickhousemigrators3_spark.cli import main; "
            "sys.exit(main(sys.argv[1:]))",
            "--mode", "single",
            "--source-dir", "/root/testdata/sf0.001",
            "--dest-dir", str(dest),
            "--table", "nation",
            "--partition-keys", "n_regionkey",
            "--insert-interval", "0",
            "--lock-dir", str(tmp_path / "locks"),
            "--progress-path", str(tmp_path / "progress.json"),
            "--report-dir", str(tmp_path / "reports"),
            "--log-dir", str(tmp_path / "logs"),
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "nation: completed" in proc.stdout
    reports = list((tmp_path / "reports").glob("*.json"))
    assert reports, proc.stdout
    report = json.loads(reports[0].read_text())
    assert report["summary"]["completed"] == 1
    # migrated data exists, partitioned on the requested key
    out_dirs = os.listdir(dest / "nation")
    assert any(d.startswith("n_regionkey=") for d in out_dirs)


def test_cli_query_subcommands(tmp_path):
    """CLI query surface e2e in a fresh interpreter: list-queries prints the
    registry, query runs one and prints rows, unknown names exit 2."""
    import os
    import subprocess
    import sys

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    run = lambda *args: subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; from clickhousemigrators3_spark.cli import main; "
            "sys.exit(main(sys.argv[1:]))",
            *args,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
        env=env,
    )

    ls = run("list-queries")
    assert ls.returncode == 0
    lines = ls.stdout.strip().splitlines()
    assert len(lines) > 100
    assert any(line.startswith("tpch_q6_forecast_revenue\toracle") for line in lines)

    q = run("query", "a1_total_count", "--sf-dir", "/root/testdata/sf0.001")
    assert q.returncode == 0
    out_lines = q.stdout.strip().splitlines()
    assert out_lines[0] == "row_cnt"
    assert int(out_lines[1]) > 0

    bad = run("query", "no_such_query")
    assert bad.returncode == 2
    assert "unknown query" in bad.stderr

    # no --sf-dir and no $SPARK_GRAFT_SF_DIR → usage error, not a traceback
    env.pop("SPARK_GRAFT_SF_DIR", None)
    nodir = run("query", "a1_total_count")
    assert nodir.returncode == 2
    assert "--sf-dir is required" in nodir.stderr

    # the env var is an accepted default for the flag
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    ex = run("query", "tpch_q6_forecast_revenue", "--explain")
    assert ex.returncode == 0
    assert "Physical Plan" in ex.stdout and "PushedFilters" in ex.stdout


def test_manifest_time_travel_and_vacuum(spark, tmp_path):
    """Snapshot-log semantics on the manifest: every publish appends to the
    version history, any historical version is readable (time travel), and
    vacuum_versions prunes old data dirs while never touching a kept one."""
    import pytest as _pytest

    from clickhousemigrators3_spark.operators.migrate import (
        list_versions,
        read_published,
        resolve_manifest,
        vacuum_versions,
    )

    cfg = make_cfg(tmp_path, publish_mode="manifest", partition_keys=["o_orderstatus"])
    assert migrate_single_table(spark, cfg, "orders")["status"] == "completed"
    p1 = resolve_manifest(cfg.dest_dir, "orders")

    ledger.save_progress(cfg.progress_path, {})
    import time as _time

    _time.sleep(1.1)  # distinct version prefix epoch
    assert migrate_single_table(spark, cfg, "orders")["status"] == "completed"
    p2 = resolve_manifest(cfg.dest_dir, "orders")
    assert p1 != p2

    vs = list_versions(cfg.dest_dir, "orders")
    assert [v["version"] for v in vs] == [1, 2]
    assert vs[0]["data_path"] == p1 and vs[1]["data_path"] == p2

    # time travel: both versions readable, version pins the path
    assert resolve_manifest(cfg.dest_dir, "orders", version=1) == p1
    assert read_published(spark, cfg.dest_dir, "orders", version=1).count() == 1500
    assert read_published(spark, cfg.dest_dir, "orders").count() == 1500

    # retention: keep only the current version; v1's data dir is removed
    removed = vacuum_versions(cfg.dest_dir, "orders", keep_last=1)
    assert removed == [p1]
    assert not os.path.exists(p1)
    assert os.path.exists(p2)
    assert read_published(spark, cfg.dest_dir, "orders").count() == 1500
    with _pytest.raises(ValueError, match="version 1 not found"):
        resolve_manifest(cfg.dest_dir, "orders", version=1)

    # idempotent: nothing left to prune
    assert vacuum_versions(cfg.dest_dir, "orders", keep_last=1) == []


def test_manifest_legacy_format_upgrade(tmp_path):
    """A manifest written by the pre-versioning format ({table, data_path,
    published_at} only — no version/history keys) must upgrade in place:
    publish over it starts a history treating the legacy snapshot as
    version 1, and list/resolve/vacuum never KeyError on it."""
    import json

    from clickhousemigrators3_spark.operators.migrate import (
        list_versions,
        publish_manifest,
        resolve_manifest,
        vacuum_versions,
    )

    dest = tmp_path / "dest"
    old_data = dest / "t__v1"
    new_data = dest / "t__v2"
    for d in (old_data, new_data):
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
    legacy = {"table": "t", "data_path": str(old_data), "published_at": 1.0}
    (dest / "t.manifest.json").write_text(json.dumps(legacy))

    # legacy manifest is readable as-is
    assert resolve_manifest(str(dest), "t") == str(old_data)
    assert [v["version"] for v in list_versions(str(dest), "t")] == [1]

    publish_manifest(str(dest), "t", str(new_data))
    vs = list_versions(str(dest), "t")
    assert [v["version"] for v in vs] == [1, 2]
    assert resolve_manifest(str(dest), "t", version=1) == str(old_data)
    assert resolve_manifest(str(dest), "t") == str(new_data)

    # vacuum prunes the legacy snapshot's dir and rewrites the manifest
    # BEFORE deleting (crash-safe ordering): after it, history is clean
    assert vacuum_versions(str(dest), "t", keep_last=1) == [str(old_data)]
    assert not old_data.exists() and new_data.exists()
    assert [v["version"] for v in list_versions(str(dest), "t")] == [2]


def test_full_database_parallel_dispatch(spark, tmp_path):
    """C8 upgraded from documented no-op to real concurrent dispatch:
    thread-per-table job submission must produce the identical results (in
    input order), a consistent ledger, and correct data for every table."""
    cfg = make_cfg(tmp_path, partition_keys=[], parallelism=3)
    tables = ["region", "nation", "supplier", "customer"]
    results = migrate_full_database(spark, cfg, tables=tables)
    assert [r["table"] for r in results] == tables
    assert all(r["status"] == "completed" for r in results), results
    for t in tables:
        src = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        assert spark.read.parquet(str(tmp_path / "dest" / t)).count() == src.count()
    progress = ledger.load_progress(cfg.progress_path)
    assert all(
        progress["default"][t]["status"] == "completed" for t in tables
    )

    # error isolation still holds under parallel dispatch
    cfg2 = make_cfg(
        tmp_path,
        partition_keys=[],
        parallelism=2,
        dest_dir=str(tmp_path / "dest2"),
        progress_path=str(tmp_path / "progress2.json"),
    )
    res2 = migrate_full_database(
        spark, cfg2, tables=["region", "no_such_table", "nation"]
    )
    by = {r["table"]: r["status"] for r in res2}
    assert by == {
        "region": "completed",
        "no_such_table": "failed",
        "nation": "completed",
    }


def test_cli_maintenance_subcommands(spark, tmp_path):
    """CLI optimize/ttl e2e in a fresh interpreter: dedup keeps latest
    version, ttl drops the expired partition; bad usage exits 2."""
    import os
    import subprocess
    import sys

    path = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [("a", 1, 1, 10.0), ("a", 1, 2, 20.0), ("b", 2, 1, 30.0)],
        ["p", "k", "ver", "val"],
    )
    df.write.partitionBy("p").parquet(path)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    run = lambda *args: subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; from clickhousemigrators3_spark.cli import main; "
            "sys.exit(main(sys.argv[1:]))",
            *args,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
        env=env,
    )

    proc = run(
        "optimize", "--path", path, "--keys", "k",
        "--versions", "ver", "--partitions", "p",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "'rewritten_partitions': 1" in proc.stdout
    rows = {(r["p"], r["k"]): r["ver"] for r in spark.read.parquet(path).collect()}
    assert rows == {("a", 1): 2, ("b", 2): 1}

    proc = run(
        "ttl", "--path", path, "--ts-col", "ver",
        "--cutoff", "2", "--partitions", "p",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "'dropped_partitions': 1" in proc.stdout
    assert not os.path.exists(os.path.join(path, "p=b"))

    assert run("optimize", "--path", path).returncode == 2
    assert run("ttl", "--bogus", "x").returncode == 2


def test_cli_update_and_attach_partition(spark, tmp_path):
    """CLI update/attach-partition e2e in a fresh interpreter (the CLI
    owns and stops its session, so never run it on the test session)."""
    import os
    import subprocess
    import sys

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(100).selectExpr(
        "id", "id % 2 as bucket", "cast(id as double) as price"
    )
    df.write.partitionBy("bucket").parquet(src)
    df.filter("bucket = 0").write.partitionBy("bucket").parquet(dst)

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    run = lambda *args: subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; from clickhousemigrators3_spark.cli import main; "
            "sys.exit(main(sys.argv[1:]))",
            *args,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
        env=env,
    )

    proc = run(
        "update", "--path", src, "--set", "price=price * 10",
        "--where", "id < 10", "--partitions", "bucket",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "'rows_updated': 10" in proc.stdout
    assert spark.read.parquet(src).filter("id = 4").collect()[0].price == 40.0

    proc = run(
        "attach-partition", "--src", src, "--dst", dst,
        "--partitions", "bucket", "--values", "1",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "'action': 'attached'" in proc.stdout
    assert spark.read.parquet(dst).count() == 100

    # an assignment whose SQL expression itself contains commas must not be
    # sheared into bogus extra assignments (naive split(',') did)
    proc = run(
        "update", "--path", src,
        "--set", "price=round(price / 3, 2),bucket=greatest(bucket, 0)",
        "--where", "id = 4", "--partitions", "bucket",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "'rows_updated': 1" in proc.stdout
    assert spark.read.parquet(src).filter("id = 4").collect()[0].price == 13.33

    # usage errors exit 2
    assert run("update", "--path", src).returncode == 2
    assert run("attach-partition", "--src", src).returncode == 2


def test_split_top_level_assignments():
    from clickhousemigrators3_spark.cli import _split_top_level

    assert _split_top_level("a=1,b=2") == ["a=1", "b=2"]
    assert _split_top_level("price=round(price, 2)") == ["price=round(price, 2)"]
    assert _split_top_level("x=greatest(a, b),y=concat(c, ',', d)") == [
        "x=greatest(a, b)",
        "y=concat(c, ',', d)",
    ]
    assert _split_top_level("s='a,b',t=\"c,d\"") == ["s='a,b'", 't="c,d"']
    assert _split_top_level("arr=array(1, 2)[1],z=3") == ["arr=array(1, 2)[1]", "z=3"]


@pytest.mark.parametrize(
    "argv",
    [
        ["list-queries", "--bogus"],
        ["query"],
        ["query", "a1_total_count", "--limit", "many"],
        ["chsql"],
        ["chsql", "SELECT 1", "--bogus"],
        ["optimize", "--path", "p"],
        ["ttl", "--bogus", "x"],
        ["update", "--path", "p"],
        ["attach-partition", "--src", "s"],
        ["attach-partition", "--src", "s", "--dst", "d", "--partitions", "p",
         "--values", "v", "--mode", "swap"],
    ],
    ids=lambda argv: " ".join(argv),
)
def test_cli_usage_errors_exit_2_without_a_session(argv, monkeypatch, capsys):
    """Every subcommand's missing required argument or bad --mode is a
    usage error (exit 2) found before any SparkSession starts."""
    import clickhousemigrators3_spark.session as session
    from clickhousemigrators3_spark.cli import main

    def no_session(**_kw):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    assert main(argv) == 2
    assert "usage:" in capsys.readouterr().err


# --- NULL partition values, keyless checksums, the validation's plan -------

_NULL_KEY_ROWS = [("a", "x", 1), ("a", "y", 2), (None, "x", 3), (None, None, 4), ("b", "x", 5)]


def _null_key_source(spark, tmp_path) -> str:
    """Source dir holding table ``t``: string keys ``k``/``k2`` with NULLs."""
    src_dir = tmp_path / "src"
    spark.createDataFrame(_NULL_KEY_ROWS, "k string, k2 string, v int").coalesce(1).write.parquet(
        str(src_dir / "t.parquet")
    )
    return str(src_dir)


def _published_null_rows(spark, tmp_path) -> int:
    return spark.read.parquet(str(tmp_path / "dest" / "t")).filter("k IS NULL").count()


@pytest.mark.parametrize("strategy", ["batch", "per_partition"])
@pytest.mark.parametrize("keys", [["k"], ["k", "k2"]], ids=["single", "composite"])
def test_null_partition_values_migrate(spark, tmp_path, keys, strategy):
    """A NULL partition value validates like any other: the validation groups
    NULL keys together instead of matching them with ``=``."""
    src_dir = _null_key_source(spark, tmp_path)
    cfg = make_cfg(
        tmp_path, source_dir=src_dir, partition_keys=keys, strategy=strategy, checksum=True
    )
    res = migrate_single_table(spark, cfg, "t")
    assert res["status"] == "completed", res.get("error")
    assert res["migrated_rows"] == len(_NULL_KEY_ROWS)
    groups = {tuple(r[: len(keys)]) for r in _NULL_KEY_ROWS}
    assert len(res["check_results"]) == len(groups) == res["total_partitions"]
    assert all(c["passed"] for c in res["check_results"])
    assert _published_null_rows(spark, tmp_path) == 2


@pytest.mark.parametrize("checksum", [False, True], ids=["counts", "checksum"])
@pytest.mark.parametrize("keys", [["k"], ["k", "k2"]], ids=["single", "composite"])
def test_corrupted_null_partition_fails_alone(spark, tmp_path, monkeypatch, keys, checksum):
    """A row lost from a NULL partition fails exactly that partition."""
    import clickhousemigrators3_spark.operators.migrate as mig

    src_dir = _null_key_source(spark, tmp_path)
    cfg = make_cfg(tmp_path, source_dir=src_dir, partition_keys=keys, checksum=checksum)
    real_copy = mig._copy_partitions

    def lossy_copy(src, staging, keys, parts):
        return real_copy(src.filter("v <> 3"), staging, keys, parts)

    monkeypatch.setattr(mig, "_copy_partitions", lossy_copy)
    res = migrate_single_table(spark, cfg, "t")
    assert res["status"] == "failed"
    assert "validation failed for 1 partition(s)" in res["error"]
    [bad] = [c for c in res["check_results"] if not c["passed"]]
    assert bad["partition"] == ledger.serialize_partition((None, "x")[: len(keys)])
    assert bad["src_count"] == (2 if keys == ["k"] else 1)
    assert bad["dst_count"] == (1 if keys == ["k"] else None)
    assert not os.path.exists(tmp_path / "dest" / "t")


@pytest.mark.parametrize(
    "keys, done",
    [(["k"], ("a",)), (["k", "k2"], ("a", "x"))],
    ids=["single", "composite"],
)
def test_batch_resume_copies_null_partitions(spark, tmp_path, keys, done):
    """A resumed batch copy selects the NULL partitions still to do
    (``isin`` OR ``IS NULL`` for one key, a ``<=>`` semi-join for several)."""
    from clickhousemigrators3_spark.operators.migrate import _copy_partitions, _staging_path

    src_dir = _null_key_source(spark, tmp_path)
    cfg = make_cfg(tmp_path, source_dir=src_dir, partition_keys=keys, resume=True)
    src = spark.read.parquet(os.path.join(src_dir, "t.parquet"))
    _copy_partitions(src, _staging_path(cfg, "t"), keys, [done])
    progress = ledger.init_table({}, "default", "t")
    ledger.mark_partition(
        progress, "default", "t", [ledger.serialize_partition(done)], cfg.progress_path
    )

    res = migrate_single_table(spark, cfg, "t")
    assert res["status"] == "completed", res.get("error")
    assert res["migrated_rows"] == len(_NULL_KEY_ROWS)
    assert spark.read.parquet(str(tmp_path / "dest" / "t")).count() == len(_NULL_KEY_ROWS)
    assert _published_null_rows(spark, tmp_path) == 2


def test_keyless_checksum_catches_content_change(spark, tmp_path, monkeypatch):
    """``checksum=True`` holds for a keyless table: every value of one column
    changed at an equal row count fails the single ``<all>`` check."""
    import clickhousemigrators3_spark.operators.migrate as mig
    from pyspark.sql import functions as F

    cfg = make_cfg(tmp_path, partition_keys=[], checksum=True)
    real_copy = mig._copy_partitions

    def mutate_copy(src, staging, keys, parts):
        changed = src.withColumn("n_name", F.concat("n_name", F.lit("!")))
        return real_copy(changed, staging, keys, parts)

    monkeypatch.setattr(mig, "_copy_partitions", mutate_copy)
    res = migrate_single_table(spark, cfg, "nation")
    assert res["status"] == "failed"
    assert "validation failed" in res["error"]
    assert res["check_results"] == [
        {"partition": "<all>", "src_count": 25, "dst_count": 25, "passed": False}
    ]
    assert not os.path.exists(tmp_path / "dest" / "nation")

    monkeypatch.setattr(mig, "_copy_partitions", real_copy)
    res = migrate_single_table(spark, cfg, "nation")
    assert res["status"] == "completed", res.get("error")
    assert res["check_results"] == [
        {"partition": "<all>", "src_count": 25, "dst_count": 25, "passed": True}
    ]


def test_validation_is_one_aggregate_without_join(spark, tmp_path, monkeypatch):
    """The validation of a keyed migration shuffles once and joins nothing;
    its columns keep the order ``keys, src_cnt, src_hash, dst_cnt,
    dst_hash, passed``."""
    import clickhousemigrators3_spark.operators.migrate as mig

    captured = []
    real = mig.count_validation

    def capture(*args, **kwargs):
        df = real(*args, **kwargs)
        captured.append((df.columns, df._jdf.queryExecution().executedPlan().toString()))
        return df

    monkeypatch.setattr(mig, "count_validation", capture)
    res = migrate_single_table(spark, make_cfg(tmp_path, checksum=True), "lineitem")
    assert res["status"] == "completed", res.get("error")
    [(columns, plan)] = captured
    assert columns == [
        "l_returnflag", "l_linestatus", "src_cnt", "src_hash", "dst_cnt", "dst_hash", "passed"
    ]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_spark_discovery_sorts_on_the_driver(spark, monkeypatch):
    """Spark-path discovery plans no Sort and no range shuffle, and returns
    the ``(tuple, rows)`` pairs in ``orderBy`` order, NULLs first."""
    import re

    from pyspark.sql import functions as F

    from clickhousemigrators3_spark.operators.migrate import discover_partition_values

    rows = [
        ("b", 2, 1.5), (None, 1, None), ("a", None, float("nan")), ("b", 1, -2.0),
        ("a", 3, 0.0), (None, None, 1.0), ("a", 3, 0.0), ("b", 2, float("nan")),
    ]
    df = spark.createDataFrame(rows, "s string, i int, d double")
    plans = []
    DataFrame = type(df)  # the classic DataFrame class
    real_collect = DataFrame.collect

    def collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real_collect(self)

    for keys in (["s"], ["s", "i"], ["d"], ["i", "d", "s"]):
        expected = [
            (tuple(r[k] for k in keys), r["n"])
            for r in df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).orderBy(*keys).collect()
        ]
        monkeypatch.setattr(DataFrame, "collect", collect)
        got = discover_partition_values(df, keys)
        monkeypatch.setattr(DataFrame, "collect", real_collect)
        # NaN != NaN, so compare the key tuples through repr
        assert repr(got) == repr(expected), keys
        assert got[0][0][0] is None, keys
    assert len(plans) == 4
    for plan in plans:
        assert not re.search(r"\bSort\b", plan), plan
        assert "rangepartitioning" not in plan.lower(), plan


def test_checksummed_batch_migration_runs_at_most_five_jobs(spark, tmp_path):
    """Discovery (2 jobs), the copy (1) and the validation (2): the staged
    read infers no schema and nothing sorts or joins."""
    from clickhousemigrators3_spark.catalog import load_table

    load_table(spark, SF_DIR, "lineitem")  # the source's own schema read
    sc = spark.sparkContext
    group = f"job-count-{os.getpid()}-{id(tmp_path)}"
    sc.setJobGroup(group, "checksummed batch migration")
    try:
        res = migrate_single_table(spark, make_cfg(tmp_path, checksum=True), "lineitem")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["status"] == "completed", res.get("error")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, jobs


def test_batch_migration_flushes_the_ledger_once_per_write(spark, tmp_path, monkeypatch):
    """A batch copy of three partitions checkpoints all three in one flush;
    marking the table completed is the only other one."""
    flushes = []
    real_save = ledger.save_progress

    def counting_save(path, progress):
        flushes.append(json.loads(json.dumps(progress)))
        real_save(path, progress)

    monkeypatch.setattr(ledger, "save_progress", counting_save)
    cfg = make_cfg(tmp_path, partition_keys=["o_orderstatus"])
    res = migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "completed", res.get("error")
    assert len(flushes) == 2
    entry = flushes[0]["default"]["orders"]
    assert (sorted(entry["completed_partitions"]), entry["status"]) == (
        ["F", "O", "P"],
        "in_progress",
    )


def test_per_partition_throttle_sleeps_between_checkpointed_writes(
    spark, tmp_path, monkeypatch
):
    """``insert_interval`` is slept between writes only, after the partition
    just copied is in the ledger."""
    import time
    import types

    import clickhousemigrators3_spark.operators.migrate as mig

    cfg = make_cfg(
        tmp_path, partition_keys=["o_orderstatus"], strategy="per_partition", insert_interval=0.5
    )
    at_sleep = []

    def record(seconds):
        progress = ledger.load_progress(cfg.progress_path)
        at_sleep.append((seconds, ledger.completed_partitions(progress, "default", "orders")))

    clock = types.SimpleNamespace(time=time.time, strftime=time.strftime, sleep=record)
    monkeypatch.setattr(mig, "time", clock)
    res = migrate_single_table(spark, cfg, "orders")
    assert res["status"] == "completed", res.get("error")
    assert at_sleep == [(0.5, ["F"]), (0.5, ["F", "O"])]


# --- empty keyed tables, empty-string keys ----------------------------------


@pytest.mark.parametrize("strategy", ["batch", "per_partition"])
def test_empty_keyed_table_takes_the_empty_path(spark, tmp_path, strategy):
    """A keyed table with no rows has no partition to discover; it is copied
    in one (empty) write and completes with 0 partitions and 0 rows (C7)."""
    src_dir = tmp_path / "src"
    spark.createDataFrame([], "k string, v int").write.parquet(str(src_dir / "t.parquet"))
    cfg = make_cfg(
        tmp_path, source_dir=str(src_dir), partition_keys=["k"], strategy=strategy, checksum=True
    )
    res = migrate_single_table(spark, cfg, "t")
    assert res["status"] == "completed", res.get("error")
    assert (res["total_partitions"], res["completed_partitions"], res["migrated_rows"]) == (0, 0, 0)
    assert res["check_results"] == []
    assert spark.read.schema("v int, k string").parquet(str(tmp_path / "dest" / "t")).count() == 0
    assert ledger.is_table_completed(ledger.load_progress(cfg.progress_path), "default", "t")


@pytest.mark.parametrize("strategy", ["batch", "per_partition"])
def test_empty_string_partition_value_is_refused_before_copy(spark, tmp_path, strategy):
    """``''`` would read back as NULL from its partition directory and share
    NULL's ledger text, so the table fails before anything is written."""
    src_dir = tmp_path / "src"
    spark.createDataFrame([("", 1), (None, 2), ("a", 3)], "k string, v int").write.parquet(
        str(src_dir / "t.parquet")
    )
    cfg = make_cfg(tmp_path, source_dir=str(src_dir), partition_keys=["k"], strategy=strategy)
    res = migrate_single_table(spark, cfg, "t")
    assert res["status"] == "failed"
    assert "'k'" in res["error"] and "''" in res["error"], res["error"]
    assert not os.path.exists(tmp_path / "dest" / "_staging_t")
    assert ledger.completed_partitions(ledger.load_progress(cfg.progress_path), "default", "t") == []
