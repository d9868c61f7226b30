"""Spans recorded from outside the program, and the arithmetic over them.

``Tracer`` keeps spans (name, start, end, parent, op id) in memory. The
benchmark installs wrappers around the public functions of each layer at
run time (``install_layers``); no package file changes. A wrapper records a
span only while ``tracer.on`` is true, so the traced run can alternate
traced and untraced ops and report the difference as tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import statistics
import sys
import time
from collections import Counter
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.on = False
        self.op: int | None = None
        self.counts: Counter = Counter()  # (op id, name) -> amount
        self.captured: dict[int | None, object] = {}  # op id -> validation DataFrame
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, amount: float) -> None:
        if self.on:
            self.counts[(self.op, name)] += amount

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a function that records a span around
        each call; ``after(args, result)`` runs inside the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
                if after is not None and self.on:
                    after(args, result)
                return result

        setattr(owner, attr, traced)

    def wrap_context(self, owner, attr: str, name: str) -> None:
        """Like ``wrap`` for a context-manager factory: the enter and the
        exit each get a span (``<name>.acquire``, ``<name>.release``), the
        body of the ``with`` block gets none."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        @contextlib.contextmanager
        def traced(*args, **kwargs):
            cm = fn(*args, **kwargs)
            with self.span(name + ".acquire"):
                value = cm.__enter__()
            try:
                yield value
            except BaseException:
                with self.span(name + ".release"):
                    if not cm.__exit__(*sys.exc_info()):
                        raise
            else:
                with self.span(name + ".release"):
                    cm.__exit__(None, None, None)

        setattr(owner, attr, traced)

    def op_spans(self, op: int) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.op == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover.
    Children of one parent run one after another on one thread, so their
    durations add up without overlap."""
    out = [s.end - s.start for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


def layer_self_times(tracer: Tracer, op: int) -> dict[str, float]:
    """Self seconds per span name within one op."""
    idx = {i: k for k, (i, _) in enumerate(tracer.op_spans(op))}
    spans = [
        Span(s.name, s.start, s.end, idx.get(s.parent), s.op)
        for _, s in tracer.op_spans(op)
    ]
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


def percentile(values: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q`` quantile (0 < q <= 1) and the number of samples
    strictly beyond it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = max(1, math.ceil(q * len(xs)))
    return xs[k - 1], len(xs) - k


def median(values: list[float]) -> float:
    return statistics.median(values)


def summary(values: list[float]) -> dict:
    """Median with its sample count, and p90 only when at least ten samples
    lie beyond it (otherwise the tail is not measured and is left out)."""
    p90, beyond = percentile(values, 0.9)
    return {
        "p50": median(values),
        "samples": len(values),
        "p90": p90 if beyond >= 10 else None,
        "values": values,
    }


def install_layers(tracer: Tracer) -> None:
    """Wrap each layer's public functions. The migrate operator imported
    several of them by name, so they are wrapped where it looks them up."""
    from clickhousemigrators3_spark import catalog, report, resume
    from clickhousemigrators3_spark.operators import migrate

    tracer.wrap(migrate, "migrate_single_table", "migrate.table")
    tracer.wrap(migrate, "discover_partition_values", "migrate.discover")
    tracer.wrap(migrate, "_copy_partitions", "migrate.copy")
    tracer.wrap(migrate, "_validate", "migrate.validate")
    for attr in ("rename_path", "drop_path", "publish_manifest"):
        tracer.wrap(migrate, attr, "migrate.swap")
    tracer.wrap(migrate, "table_exists", "catalog.table_exists")
    tracer.wrap(migrate, "is_locked", "lock.probe")
    tracer.wrap_context(migrate, "table_lock", "lock")

    def capture(args, df):  # the validation query, read after the op
        tracer.captured[tracer.op] = df

    tracer.wrap(migrate, "count_validation", "migrate.validate_plan", after=capture)
    tracer.wrap(
        resume,
        "save_progress",
        "resume.flush",
        after=lambda args, _: tracer.add("resume.bytes", os.path.getsize(args[0])),
    )
    tracer.wrap(resume, "load_progress", "resume.load")
    tracer.wrap(report, "generate_report", "report.generate")
    original = catalog.load_table
    for name, mod in list(sys.modules.items()):
        if name.startswith(catalog.__package__) and getattr(mod, "load_table", None) is original:
            tracer.wrap(mod, "load_table", "catalog.load_table")
