#!/usr/bin/env python3
"""End-to-end migration benchmark.

    python3 migbench/run.py --workload migrate_bulk --seed 1 --seconds 5 --trace 0

Runs one closed-loop workload (one client: the next op starts when the
previous one returns) on ``local[min(4, nproc)]`` and prints, as its last
line, ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, read from spans recorded around each layer's functions
(``spans.py``). The line before it is a full report: samples, spread,
environment and every per-op fact. The exit code is 0 only when every
output check passed. See ``migbench/README.md`` for the workloads and the
metric map.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

WORKLOADS = ("migrate_bulk", "migrate_resume_http")  # why: README.md, BENCHMARK.json
LINEITEM = dict(rows=60_000, months=24)  # migrate_bulk source
ORDERS = dict(rows=15_000, months=3)  # migrate_resume_http source
CRASH_AFTER = 2  # checkpointed partitions before the injected crash
HTTP_SLICES = 4  # clickhouse_http num_partitions
SETUP_REPEATS = 3  # repeatable part of set-up, reported as a median
# warm-up ops after the cold op, while the JIT still compiles: op CPU
# falls 8.8 -> 6.7 -> 5.0 -> 4.4 -> ~3.7 s on migrate_bulk, and
# 11.6 -> 10.4 -> ~9.7 s on migrate_resume_http
WARMUP_OPS = {"migrate_bulk": 4, "migrate_resume_http": 2}
MEASURED = 4  # measured ops run even past the deadline; the medians use these
SAMPLE_S = 0.5  # RSS sampling interval
DERIVED = {
    "lineitem": ("p_month", "CAST(date_trunc('month', l_shipdate) AS DATE)"),
    "orders": ("p_month", "CAST(date_trunc('month', o_orderdate) AS DATE)"),
}
ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
)
SPAN_LAYERS = {
    "migrate.table": "migrate.self_s",
    "migrate.discover": "migrate.discover_s",
    "migrate.copy": "migrate.copy_s",
    "migrate.validate": "migrate.validate_s",
    "migrate.validate_plan": "migrate.validate_s",
    "migrate.swap": "migrate.swap_s",
    "lock.probe": "migrate.lock_s",
    "lock.acquire": "migrate.lock_s",
    "lock.release": "migrate.lock_s",
    "catalog.load_table": "catalog.load_table_s",
    "catalog.table_exists": "catalog.table_exists_s",
    "resume.load": "resume.load_s",
    "resume.flush": "resume.flush_s",
    "report.generate": "report.generate_s",
}
SOURCE_METRICS = (
    "sources.requests_per_op",
    "sources.probe_requests_per_op",
    "sources.wire_bytes_per_op",
    "sources.server_s_per_op",
    "sources.rows_served_per_row",
)
UNITS = {  # where the name's suffix does not give the unit
    "migrate_rows_per_cpu_s": "rows/s",
    "dest_bytes_per_src_byte": "ratio",
    "sources.rows_served_per_row": "ratio",
    "trace.self_coverage": "ratio",
}
SPAN_COUNTS = {
    "migrate.copy": "migrate.copy_calls",
    "resume.flush": "resume.flushes_per_op",
    "catalog.load_table": "catalog.load_table_calls",
}


def proc_tree(root_pid: int) -> list[list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root_pid``
    and all its descendants: the JVM and its Python workers."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended while we listed
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, st in stats.items() if int(st[1]) == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return [stats[p] for p in tree if p in stats]


def rss_tree_mb(root_pid: int) -> float:
    pages = sum(int(st[21]) for st in proc_tree(root_pid))
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def cpu_tree_s(root_pid: int) -> float:
    """User + system CPU seconds of the tree, including reaped children.
    Time the host steals from the VM is not in it."""
    ticks = sum(sum(int(x) for x in st[11:15]) for st in proc_tree(root_pid))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    def __init__(self) -> None:
        super().__init__(name="rss", daemon=True)
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(SAMPLE_S):
            self.peak = max(self.peak, rss_tree_mb(os.getpid()))

    def stop(self) -> float:
        self._stop_evt.set()
        if self.is_alive():
            self.join(timeout=10)
        return max(self.peak, rss_tree_mb(os.getpid()))


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a published directory."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def content_digest(con, source: str, columns: list[str]) -> tuple[int, int]:
    """Order-free (row count, sum of row hashes) computed by DuckDB, so the
    check does not trust the engine it checks."""
    cols = ", ".join(columns)
    return tuple(
        con.execute(f"SELECT count(*), sum(hash({cols}))::HUGEINT FROM {source}").fetchone()
    )


def catalyst_and_exec(df) -> dict:
    """Phase times from the validation query's own QueryExecution, and
    executor totals from its executed plan."""
    from clickhousemigrators3_spark.functions.metrics import collect_plan_metrics

    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
    totals = dict.fromkeys(("scan_rows", "scan_bytes", "shuffle_bytes", "spill_bytes"), 0)
    for op in collect_plan_metrics(df):
        name, m = op["operator"], op["metrics"]
        if name.startswith(("Scan", "FileScan", "InMemoryTableScan", "BatchScan")):
            totals["scan_rows"] += m.get("numOutputRows", 0)
            totals["scan_bytes"] += m.get("filesSize", 0)
        if "Exchange" in name:
            totals["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        totals["spill_bytes"] += m.get("spillSize", 0)
    out.update({f"exec.{k}": float(v) for k, v in totals.items()})
    return out


def job_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
    stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
    stages = [s for s in stages if s is not None]
    return {
        "spark.jobs_per_op": float(len(jobs)),
        "spark.stages_per_op": float(len(stages)),
        "spark.tasks_per_op": float(sum(s.numCompletedTasks for s in stages)),
    }


class Bench:
    """One workload in one process: set-up, the timed loop, the checks."""

    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.failures: list[str] = []
        self.failed_ops: set[int] = set()
        self.stub = None
        self.spark = None

    # --- set-up ------------------------------------------------------------

    def start_session(self) -> dict:
        from clickhousemigrators3_spark import registry, session

        t = time.perf_counter()
        registry.load_all()
        t_load = time.perf_counter() - t
        n = min(4, len(os.sched_getaffinity(0)))  # nproc
        t = time.perf_counter()
        self.spark = session.get_spark(
            app_name="migbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.driver.memory": "1g",
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            },
        )
        return {
            "registry.load_all_s": t_load,
            "session.get_spark_s": time.perf_counter() - t,
            "local_threads": n,
        }

    def make_source(self, rep: int) -> None:
        """The repeatable part of set-up: generate the seeded table, write
        it, and take its DuckDB digest."""
        import duckdb

        import fixture

        table = "lineitem" if self.args.workload == "migrate_bulk" else "orders"
        size = LINEITEM if table == "lineitem" else ORDERS
        gen = fixture.lineitem if table == "lineitem" else fixture.orders
        data = gen(self.args.seed, **size)
        src_dir = self.work / f"source{rep}"
        path = fixture.write(data, str(src_dir), table)
        self.table, self.rows, self.months = table, data.num_rows, size["months"]
        self.columns = data.column_names
        self.source_dir, self.source_path = str(src_dir), path
        self.source_bytes = os.path.getsize(path)
        with duckdb.connect() as con:
            self.source_digest = content_digest(con, f"read_parquet('{path}')", self.columns)

    def config(self, op_dir: Path, **kw):
        from clickhousemigrators3_spark.config import MigrationConfig

        name, expr = DERIVED[self.table]
        return MigrationConfig(
            source_dir=self.source_dir,
            dest_dir=str(op_dir / "dest"),
            partition_keys=[name],
            derived_partitions={name: expr},
            insert_interval=0.0,
            checksum=True,
            publish_mode="rename",
            lock_dir=str(op_dir / "locks"),
            progress_path=str(op_dir / "progress.json"),
            report_dir=str(op_dir / "reports"),
            **kw,
        )

    def start_stub(self) -> None:
        from chstub import CHStub
        from clickhousemigrators3_spark.sources.clickhouse_ds import (
            ClickHouseHTTPDataSource,
        )

        self.stub = CHStub({"orders": self.source_path}).__enter__()
        self.spark.dataSource.register(ClickHouseHTTPDataSource)
        url, rows = self.stub.url, self.rows

        def loader(spark, table):
            return (
                spark.read.format("clickhouse_http")
                .option("url", url)
                .option("table", table)
                .option("schema", ORDERS_DDL)
                .option("partition_column", "o_orderkey")
                .option("lower", 0)
                .option("upper", rows)
                .option("num_partitions", HTTP_SLICES)
                .load()
            )

        self.loader = loader

    def make_crash_template(self) -> None:
        """Run the per-partition migration until CRASH_AFTER partitions are
        checkpointed, then make the stub refuse; keep the staging dir and
        the ledger it left as the template every op restores."""
        from clickhousemigrators3_spark import resume
        from clickhousemigrators3_spark.operators import migrate

        tdir = self.work / "template"
        cfg = self.config(tdir, strategy="per_partition", resume=True, source_loader=self.loader)

        def crashed() -> bool:
            done = resume.completed_partitions(
                resume.load_progress(cfg.progress_path), migrate.DB, self.table
            )
            return len(done) >= CRASH_AFTER

        self.stub.fail_when = crashed
        result = migrate.migrate_single_table(self.spark, cfg, self.table)
        self.stub.fail_when = None
        done = resume.completed_partitions(
            resume.load_progress(cfg.progress_path), migrate.DB, self.table
        )
        refused = self.stub.snapshot()["failed"]
        if result["status"] != "failed" or len(done) != CRASH_AFTER or not refused:
            raise RuntimeError(
                f"crash template: status={result['status']} "
                f"checkpointed={len(done)} refused requests={refused}"
            )
        # a Python worker exits after its task raises: read the source once
        # more so the first timed op does not pay the workers' restart
        self.loader(self.spark, self.table).count()
        self.template = tdir

    # --- one op -------------------------------------------------------------

    def prepare_op(self, i: int):
        op_dir = self.work / f"op{i}"
        if self.args.workload == "migrate_bulk":
            return self.config(op_dir, strategy="batch")
        shutil.copytree(self.template / "dest", op_dir / "dest")
        shutil.copy(self.template / "progress.json", op_dir / "progress.json")
        return self.config(
            op_dir, strategy="per_partition", resume=True, source_loader=self.loader
        )

    def run_op(self, i: int, traced: bool, tracer) -> dict:
        from clickhousemigrators3_spark import report
        from clickhousemigrators3_spark.operators import migrate

        cfg = self.prepare_op(i)
        sc = self.spark.sparkContext
        group = f"migbench-{self.args.seed}-op{i}"
        sc.setJobGroup(group, f"{self.args.workload} op {i}")
        before = self.stub.snapshot() if self.stub else None
        tracer.op, tracer.on = i, traced
        cpu = cpu_tree_s(os.getpid())
        t = time.perf_counter()
        with tracer.span("op"):
            result = migrate.migrate_single_table(self.spark, cfg, self.table)
            report.generate_report([result], cfg.report_dir, time.time())
        wall = time.perf_counter() - t
        cpu = cpu_tree_s(os.getpid()) - cpu
        tracer.on = False
        sc.setLocalProperty("spark.jobGroup.id", None)
        fact = {"op": i, "traced": traced, "wall_s": wall, "cpu_s": cpu, "status": result["status"]}
        fact.update(job_counts(sc, group))
        fact["catalog.persistent_rdds"] = float(len(sc._jsc.getPersistentRDDs()))
        if before is not None:
            after = self.stub.snapshot()
            d = {k: after[k] - before[k] for k in after}
            fact.update(zip(SOURCE_METRICS, (
                float(d["requests"]), float(d["probes"]), float(d["wire_bytes"]),
                d["server_s"], d["rows"] / self.rows,
            )))
        final = os.path.join(cfg.dest_dir, self.table)
        files, size = dir_stats(final)
        fact.update({"io.dest_files": float(files), "io.dest_bytes": float(size)})
        if traced and i in tracer.captured:
            fact.update(catalyst_and_exec(tracer.captured.pop(i)))
        self.check_op(i, result, final)
        shutil.rmtree(self.work / f"op{i}", ignore_errors=True)
        return fact

    def check_op(self, i: int, result: dict, final: str) -> None:
        import duckdb

        problems = []
        if result["status"] != "completed":
            problems.append(f"status {result['status']}: {result.get('error')}")
        checks = result.get("check_results") or []
        if len(checks) != self.months or not all(c["passed"] for c in checks):
            problems.append(f"{len(checks)} partition checks, not all {self.months} passed")
        if result.get("migrated_rows") != self.rows:
            problems.append(f"migrated_rows {result.get('migrated_rows')} != {self.rows}")
        if not problems:
            with duckdb.connect() as con:
                got = content_digest(
                    con, f"read_parquet('{final}/**/*.parquet')", self.columns
                )
            if got != self.source_digest:
                problems.append(f"published digest {got} != source {self.source_digest}")
            parts = [d for d in os.listdir(final) if d.startswith("p_month=")]
            if len(parts) != self.months:
                problems.append(f"{len(parts)} published partitions != {self.months}")
        self.failures += [f"op {i}: {p}" for p in problems]
        if problems:
            self.failed_ops.add(i)


def end_to_end(bench: Bench, measured: list[dict], setup: dict) -> dict:
    """CPU seconds of the process tree, not wall seconds: see README.md."""
    from spans import median

    p50 = median([f["cpu_s"] for f in measured[:MEASURED]])
    return {
        "setup_s": setup["setup_s"],
        "migrate_cpu_p50_s": p50,
        "migrate_rows_per_cpu_s": bench.rows / p50,
        "dest_bytes_per_src_byte": measured[-1]["io.dest_bytes"] / bench.source_bytes,
    }


def per_layer(bench: Bench, facts: list[dict], measured: list[dict], setup: dict, tracer) -> dict:
    """Medians over the traced measured ops of each op's layer self times,
    counts and Spark readings, plus the set-up layers."""
    from spans import layer_self_times, median

    traced = [f for f in measured if f["traced"]]
    layers: dict[str, list[float]] = {}
    for f in traced:
        selfs = layer_self_times(tracer, f["op"])
        per = dict.fromkeys(set(SPAN_LAYERS.values()), 0.0)
        for name, t in selfs.items():
            if name in SPAN_LAYERS:
                per[SPAN_LAYERS[name]] += t
        names = [s.name for _, s in tracer.op_spans(f["op"])]
        for span, metric in SPAN_COUNTS.items():
            per[metric] = float(names.count(span))
        per["resume.bytes_written_per_op"] = float(tracer.counts[(f["op"], "resume.bytes")])
        # every span but the op's own root belongs to a layer
        per["trace.self_coverage"] = sum(t for n, t in selfs.items() if n != "op") / f["wall_s"]
        if abs(per["trace.self_coverage"] - 1.0) > 0.10:
            bench.failures.append(
                f"op {f['op']}: layer self times cover {per['trace.self_coverage']:.3f} of its wall time"
            )
        per.update({k: v for k, v in f.items() if "." in k})
        for k, v in per.items():
            layers.setdefault(k, []).append(v)
    out = {k: median(v) for k, v in layers.items()}
    for k in SOURCE_METRICS:  # the workload without the HTTP source
        out.setdefault(k, 0.0)
    for k in ("session.get_spark_s", "registry.load_all_s", "process.peak_rss_mb", "wall.setup_s"):
        out[k] = setup[k]
    untraced = [f for f in measured if not f["traced"]]
    out["wall.cold_s"] = facts[0]["wall_s"]
    out["cpu.cold_s"] = facts[0]["cpu_s"]
    out["wall.migrate_p50_s"] = median([f["wall_s"] for f in untraced])
    out["trace.overhead_s"] = median([f["wall_s"] for f in traced]) - out["wall.migrate_p50_s"]
    return out


def unit(metric: str) -> str:
    if metric in UNITS:
        return UNITS[metric]
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s") or "_s_per_" in metric:
        return "s"
    if "bytes" in metric:
        return "bytes"
    return "count"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort: do not leave it running
                proc.kill()
                proc.wait(timeout=10)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = ROOT / ".migbench" / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    # a stop request unwinds through the cleanup below, which stops the
    # stub and the JVM and removes the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, work)
    sampler = RssSampler()
    with contextlib.ExitStack() as cleanup:  # callbacks run last-in first-out
        cleanup.callback(shutil.rmtree, work, ignore_errors=True)
        cleanup.callback(lambda: bench.spark is not None and stop_spark(bench.spark))
        cleanup.callback(lambda: bench.stub is not None and bench.stub.__exit__(None, None, None))
        cleanup.callback(sampler.stop)
        if args.trace:  # peak RSS is a per-layer metric
            sampler.start()

        import pyspark

        import spans as tr

        tracer = tr.Tracer()
        env = {"nproc": len(os.sched_getaffinity(0)), "python": platform.python_version(),
               "pyspark": pyspark.__version__, "loadavg_start": os.getloadavg(),
               "seed": args.seed, "workload": args.workload, "trace": args.trace}
        setup = bench.start_session()
        reps, rep_cpu = [], []
        for rep in range(SETUP_REPEATS):
            t, c = time.perf_counter(), cpu_tree_s(os.getpid())
            bench.make_source(rep)
            reps.append(time.perf_counter() - t)
            rep_cpu.append(cpu_tree_s(os.getpid()) - c)
        if args.workload == "migrate_resume_http":
            bench.start_stub()
            bench.make_crash_template()
        if args.trace:
            tr.install_layers(tracer)
        env["spark"] = bench.spark.version
        env["java"] = bench.spark.sparkContext._jvm.System.getProperty("java.version")
        # the cold op ends set-up: a CLI invocation pays both, and the cold
        # op alone spreads too much from run to run to be gated by itself
        facts = [bench.run_op(0, bool(args.trace), tracer)]
        # the repeated part counts once, with its median
        setup["wall.setup_s"] = time.perf_counter() - T0 - sum(reps) + tr.median(reps)
        setup["setup_s"] = cpu_tree_s(os.getpid()) - sum(rep_cpu) + tr.median(rep_cpu)

        for i in range(1, 1 + WARMUP_OPS[args.workload]):
            facts.append(bench.run_op(i, False, tracer))
        measured: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        while len(measured) < MEASURED or time.perf_counter() < deadline:
            # traced in the pattern u t t u, so a warm-up trend does not
            # bias traced-minus-untraced
            traced = bool(args.trace) and len(measured) % 4 in (1, 2)
            measured.append(bench.run_op(len(facts), traced, tracer))
            facts.append(measured[-1])
        env["loadavg_end"] = os.getloadavg()
        if args.trace:
            setup["process.peak_rss_mb"] = sampler.stop()
            metrics = per_layer(bench, facts, measured, setup, tracer)
            tracer.dump(str(ROOT / ".migbench" / f"trace-{args.workload}-s{args.seed}.json"))
        else:
            metrics = end_to_end(bench, measured, setup)

    untraced = [f for f in measured if not f["traced"]]
    print(json.dumps({"env": env, "setup": setup, "warmup_ops": WARMUP_OPS[args.workload],
                      "measured_wall_s": tr.summary([f["wall_s"] for f in untraced]),
                      "measured_cpu_s": tr.summary([f["cpu_s"] for f in untraced]),
                      "failures": bench.failures, "ops": facts}))
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": len(facts),
        "failed": len(bench.failed_ops),
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())},
    }))
    return 0 if not bench.failures else 1


if __name__ == "__main__":
    sys.exit(main())
