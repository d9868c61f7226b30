"""Config layering — EP1 parity (reference ``config.py``), with quirk Q1
fixed: documented precedence CLI > env > YAML-file > defaults actually runs
(the reference loads the YAML and never merges it, and its argparse defaults
shadow env vars — SURVEY §8 Q1).

The trick the reference got wrong: argparse defaults must be ``None`` so a
missing CLI flag falls through to env, then file, then the hard default.
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass, field
from typing import Any

DEFAULTS: dict[str, Any] = {
    "mode": "single",
    "source_dir": None,
    "dest_dir": None,
    "table": None,
    "partition_keys": "",
    # derived partition columns: "name=<sql expr>;name2=<expr>" — computed
    # with withColumn(expr) before partition discovery (e.g.
    # "p_month=CAST(date_trunc('month', l_shipdate) AS DATE)")
    "derived_partitions": "",
    "insert_interval": 1.0,  # reference default, config.py:7
    "resume": False,
    "strategy": "batch",
    "publish_mode": "rename",  # 'rename' (atomic dir move) | 'manifest' (S3-safe pointer)
    "lock_dir": "./locks",
    "progress_path": "./migration_progress.json",
    "report_dir": "./reports",
    "log_dir": "./logs",
    "checksum": True,
    # C8: max tables migrated concurrently in full-db mode (thread-per-table
    # job submission; the Spark scheduler shares executors between jobs)
    "parallelism": 1,
}

ENV_PREFIX = "MIGRATION_"

_BOOL = {"resume", "checksum"}
_FLOAT = {"insert_interval"}
_INT = {"parallelism"}


def _coerce(key: str, value: Any) -> Any:
    if value is None:
        return None
    if key in _BOOL:
        if isinstance(value, bool):
            return value
        return str(value).strip().lower() in ("1", "true", "yes", "on")
    if key in _FLOAT:
        return float(value)
    if key in _INT:
        return int(value)
    return value


def _load_yaml(path: str | None) -> dict[str, Any]:
    if not path:
        return {}
    try:
        import yaml  # optional dependency — gated

        with open(path) as f:
            data = yaml.safe_load(f) or {}
        return dict(data)
    except ImportError:
        # minimal "key: value" parser fallback so YAML configs still merge
        out: dict[str, Any] = {}
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("#") or ":" not in line:
                    continue
                k, _, v = line.partition(":")
                out[k.strip()] = v.strip().strip("'\"")
        return out


@dataclass
class MigrationConfig:
    mode: str = "single"
    source_dir: str | None = None
    dest_dir: str | None = None
    table: str | None = None
    partition_keys: list[str] = field(default_factory=list)
    derived_partitions: dict[str, str] = field(default_factory=dict)
    insert_interval: float = 1.0
    resume: bool = False
    strategy: str = "batch"  # 'batch' (one partitioned write) | 'per_partition' (C1 parity)
    publish_mode: str = "rename"  # 'rename' | 'manifest' (see operators/migrate.py)
    lock_dir: str = "./locks"
    progress_path: str = "./migration_progress.json"
    report_dir: str = "./reports"
    log_dir: str = "./logs"
    checksum: bool = True
    parallelism: int = 1
    # Programmatic-only (not a CLI flag): swap the source backend without
    # touching the state machine — e.g. spark.read.format("clickhouse_http")
    # (sources/clickhouse_ds.py, the one ClickHouse HTTP transport) instead
    # of parquet fixtures. Called as source_loader(spark, table) -> DataFrame.
    source_loader: Any = None


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="spark-migrator")
    for key, default in DEFAULTS.items():
        flag = "--" + key.replace("_", "-")
        if key in _BOOL:
            # None default → tri-state so env/file can win (Q1 fix)
            p.add_argument(flag, action="store_const", const=True, default=None)
        else:
            p.add_argument(flag, default=None, help=f"default: {default}")
    p.add_argument("--config-file", default=None)
    return p


def resolve_config(argv: list[str] | None = None) -> MigrationConfig:
    """CLI > env (MIGRATION_<KEY>) > YAML file > defaults, per key."""
    args = vars(build_parser().parse_args(argv))
    file_cfg = _load_yaml(args.pop("config_file"))
    merged: dict[str, Any] = {}
    for key, default in DEFAULTS.items():
        cli_v = args.get(key)
        env_v = os.environ.get(ENV_PREFIX + key.upper())
        file_v = file_cfg.get(key)
        value = cli_v if cli_v is not None else env_v if env_v is not None else (
            file_v if file_v is not None else default
        )
        merged[key] = _coerce(key, value)
    keys = merged.pop("partition_keys") or ""
    if isinstance(keys, str):
        key_list = [k.strip() for k in keys.split(",") if k.strip()]
    else:
        key_list = list(keys)
    derived = merged.pop("derived_partitions") or ""
    if isinstance(derived, str):
        derived_map = {}
        for item in derived.split(";"):
            if "=" in item:
                name, _, expr = item.partition("=")
                derived_map[name.strip()] = expr.strip()
    else:
        derived_map = dict(derived)
    cfg = MigrationConfig(
        partition_keys=key_list, derived_partitions=derived_map, **merged
    )
    if cfg.mode == "single" and not cfg.table:
        raise SystemExit("--table is required in single mode")  # config.py:65-66 parity
    return cfg
