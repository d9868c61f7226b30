"""CLI entry point — EP1 parity (reference ``cli.py:5-21`` /
``orchestrator.py:21-89``): parse/layer config → probe sink → resume →
migrate → report → exit code.

Beyond the reference's migration modes, the CLI exposes the query registry
(``list-queries`` / ``query <name>``), ClickHouse SQL (``chsql``) and the
maintenance operators as subcommands of one argparse parser, so the engine
is drivable as an analytics tool, not only a migrator. A first argument
that is not a subcommand goes to the migration parser
(``config.resolve_config``). Exit codes: 0 done, 1 failed, 2 usage error,
3 ClickHouse SQL the translator refuses.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from contextlib import contextmanager


@contextmanager
def _session(app_name: str):
    """The one SparkSession a CLI command owns: started here, stopped on
    the way out whatever happens."""
    from .session import get_spark

    spark = get_spark(app_name=app_name)
    try:
        yield spark
    finally:
        spark.stop()


def _print_result(df, limit: int, explain: bool) -> int:
    """Print the formatted plan, or the header and the first ``limit`` rows
    tab-separated (the limit applies BEFORE collect, so the driver never
    holds a full result)."""
    if explain:
        df.explain("formatted")
        return 0
    rows = df.limit(limit).collect()
    print("\t".join(df.columns))
    for r in rows:
        print("\t".join(str(v) for v in r))
    return 0


def _usage(msg: str) -> int:
    print(msg, file=sys.stderr)
    return 2


_NEED_SF_DIR = "--sf-dir is required (or set SPARK_GRAFT_SF_DIR)"


def cli_list_queries(args) -> int:
    from .registry import load_all

    for name, q in sorted(load_all().items()):
        kind = "oracle" if q.oracle is not None else "rows-only"
        print(f"{name}\t{kind}")
    return 0


def cli_query(args) -> int:
    """``query <name>`` — run one registered query and print its rows.
    ``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR`` — there is no baked-in
    path, so outside a fixture container the flag (or env var) is
    required."""
    from .registry import load_all

    reg = load_all()
    if args.name not in reg:
        return _usage(f"unknown query {args.name!r} (see list-queries)")
    if not args.sf_dir:
        return _usage(_NEED_SF_DIR)
    with _session(f"query-{args.name}") as spark:
        return _print_result(
            reg[args.name].fn(spark, args.sf_dir), args.limit, args.explain
        )


def cli_chsql(args) -> int:
    """``chsql "<ClickHouse SQL>"`` — run a ClickHouse SQL string as-is
    through ``run_ch_sql`` (an ``INSERT`` through ``run_ch_insert``), so
    the session-only constructs (FINAL, SAMPLE, WITH FILL, column matchers,
    the 2-arg neighbor, typed ROLLUP/CUBE keys, EXPLAIN SYNTAX) work here
    too. The SURVEY §0 story made drivable: reference users paste their
    query text unchanged. ``--translate-only`` prints the string-only
    translation without starting a session; refused constructs exit 3 with
    a pointer to the operator that implements them."""
    from .functions.ch_sql import (
        UnsupportedCHSQL,
        run_ch_insert,
        run_ch_sql,
        split_ch_insert,
        translate_ch_sql,
    )

    try:
        insert = split_ch_insert(args.sql)
        source = insert[2] if insert else args.sql
        if args.translate_only:
            print(translate_ch_sql(source))
            return 0
        if insert and not args.explain:
            # --explain on an INSERT is a dry run: it explains the source
            # SELECT below instead of executing the side-effecting write
            if not args.dest_root:
                return _usage("INSERT needs --dest-root")
            with _session("chsql") as spark:
                row = run_ch_insert(
                    spark, args.sql, args.dest_root, args.sf_dir or None
                ).collect()[0]
            print(
                f"{row.target}\t{row.path}\t{row.rows_inserted} rows\t"
                f"{row.files_added} files"
            )
            return 0
        if not args.sf_dir:
            return _usage(_NEED_SF_DIR)
        with _session("chsql") as spark:
            return _print_result(
                run_ch_sql(spark, source, args.sf_dir), args.limit, args.explain
            )
    except UnsupportedCHSQL as exc:
        print(f"unsupported ClickHouse SQL: {exc}", file=sys.stderr)
        return 3


def cli_optimize(args) -> int:
    """OPTIMIZE FINAL DEDUPLICATE: compact a dataset keeping the latest
    version per key within each partition (``operators/maintenance.py``)."""
    from .operators.maintenance import optimize_final_deduplicate

    with _session("optimize-final") as spark:
        print(optimize_final_deduplicate(
            spark, args.path, key_cols=args.keys, version_cols=args.versions,
            partition_cols=args.partitions,
        ))
    return 0


def cli_ttl(args) -> int:
    """Expire rows older than the cutoff: fully-expired partitions drop as
    directories, boundary partitions rewrite. The cutoff is read as an
    int, a float or an ISO datetime, else kept as text."""
    from datetime import datetime

    from .operators.maintenance import apply_ttl

    cutoff: object = args.cutoff
    for parse in (int, float, datetime.fromisoformat):
        try:
            cutoff = parse(args.cutoff)
            break
        except ValueError:
            continue
    with _session("apply-ttl") as spark:
        print(apply_ttl(spark, args.path, args.ts_col, cutoff, args.partitions))
    return 0


def cli_update(args) -> int:
    """ALTER UPDATE mutation: partition-grain copy-on-write; only
    partitions containing matching rows rewrite."""
    from .operators.maintenance import alter_update_where

    assignments = {}
    for item in _split_top_level(args.set):
        col, _, expr = item.partition("=")
        if not expr:
            return _usage(f"bad assignment: {item!r}")
        assignments[col.strip()] = expr.strip()
    with _session("alter-update") as spark:
        print(alter_update_where(
            spark, args.path, assignments, args.where, args.partitions
        ))
    return 0


def cli_attach_partition(args) -> int:
    """File-level partition exchange (ATTACH/MOVE/REPLACE PARTITION FROM)."""
    from .operators.maintenance import attach_partition_from

    with _session("attach-partition") as spark:
        print(attach_partition_from(
            spark, args.src, args.dst, args.partitions, args.values,
            move=args.mode == "move", replace=args.mode == "replace",
        ))
    return 0


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` only at paren depth 0 and outside string literals,
    so ``--set "price=round(price, 2),note='a,b'"`` stays two assignments —
    a naive split(',') would shear SQL expressions apart."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    quote: str | None = None
    for ch in s:
        if quote is not None:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth = max(0, depth - 1)
            buf.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p for p in parts if p.strip()]


def _parser() -> tuple[argparse.ArgumentParser, dict]:
    """One parser with one subparser per command, each setting ``func``;
    returned with the command-name → subparser map. Comma-list flags
    arrive split."""
    p = argparse.ArgumentParser(
        prog="spark-migrator",
        description="Without a subcommand, the arguments configure a "
        "migration (spark-migrator --mode single|full …).",
    )
    sub = p.add_subparsers(dest="command", required=True)

    def command(name, func, help_text, *required):
        sp = sub.add_parser(name, help=help_text, description=help_text)
        sp.set_defaults(func=func)
        for flag in required:
            csv = flag in ("--keys", "--versions", "--partitions", "--values")
            sp.add_argument(
                flag, required=True, type=(lambda v: v.split(",")) if csv else str
            )
        return sp

    command("list-queries", cli_list_queries, "list the registered queries")
    query = command("query", cli_query, "run one registered query")
    query.add_argument("name")
    chsql = command("chsql", cli_chsql, "run a ClickHouse SQL statement")
    chsql.add_argument("sql")
    chsql.add_argument("--translate-only", action="store_true")
    chsql.add_argument("--dest-root", default="")
    for sp in (query, chsql):
        sp.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", ""))
        sp.add_argument("--limit", type=int, default=20)
        sp.add_argument("--explain", action="store_true")
    command(
        "optimize", cli_optimize, "OPTIMIZE FINAL DEDUPLICATE",
        "--path", "--keys", "--versions", "--partitions",
    )
    command(
        "ttl", cli_ttl, "expire rows older than a cutoff",
        "--path", "--ts-col", "--cutoff", "--partitions",
    )
    command(
        "update", cli_update, "ALTER UPDATE … WHERE",
        "--path", "--set", "--where", "--partitions",
    )
    command(
        "attach-partition", cli_attach_partition,
        "ATTACH/MOVE/REPLACE PARTITION FROM",
        "--src", "--dst", "--partitions", "--values",
    ).add_argument("--mode", choices=("copy", "move", "replace"), default="copy")
    return p, sub.choices


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:]) if argv is None else list(argv)
    parser, commands = _parser()
    if not args or args[0] not in commands:
        return _migrate_main(argv)
    try:
        ns = parser.parse_args(args)
    except SystemExit as exc:  # usage error (2) or -h (0)
        return exc.code
    return ns.func(ns)


def _migrate_main(argv: list[str] | None = None) -> int:
    from .catalog import probe_sink
    from .config import resolve_config
    from .logging_setup import setup_logger
    from .operators.migrate import migrate_full_database, migrate_single_table
    from .report import exit_code, generate_report

    cfg = resolve_config(argv)
    if not cfg.source_dir or not cfg.dest_dir:
        return _usage("--source-dir and --dest-dir are required")
    logger = setup_logger(cfg.log_dir)
    start = time.time()
    with _session("spark-migrator") as spark:
        # S2: sink capability probe (ch_client.py:27-77 parity)
        if not probe_sink(spark, cfg.dest_dir):
            print(f"sink probe failed for {cfg.dest_dir}", file=sys.stderr)
            return 1
        if cfg.mode == "single":
            results = [migrate_single_table(spark, cfg, cfg.table)]
        else:
            results = migrate_full_database(spark, cfg)
        path = generate_report(
            results, cfg.report_dir, start, config_snapshot=vars(cfg)
        )
    logger.info("report written: %s", path)
    print(f"report: {path}")
    for r in results:
        print(
            f"  {r['table']}: {r['status']}"
            + (f" ({r.get('error')})" if r.get("error") else "")
        )
    return exit_code(results)  # C11


if __name__ == "__main__":
    sys.exit(main())
