"""Registry-wide COLD timing sweep: run every registered query once (fresh
plans, no prior warm-up beyond table registration) and report per-query
seconds, slowest first. This is the diagnostic that caught the round-14
315 s bpe_merge_steps pathology the headline bench never sees (verdict r14
next-round #8 asks for it on final code each optimization round).

Usage: python scripts/sweep_cold.py [sf_dir] [name ...]
stderr carries progress; stdout the sorted table + a one-line summary.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    from clickhousemigrators3_spark import TABLES
    from clickhousemigrators3_spark.catalog import load_table
    from clickhousemigrators3_spark.registry import load_all
    from clickhousemigrators3_spark.session import get_spark

    reg = load_all()
    names = [n for n in sorted(reg) if not only or n in only]
    if not names:
        print("no queries matched", file=sys.stderr)
        return 1
    spark = get_spark(
        app_name="sweep_cold",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    for t in TABLES:
        load_table(spark, sf_dir, t)

    rows: list[tuple[float, str, str]] = []
    for name in names:
        q = reg[name]
        spark.sparkContext.setJobDescription(f"sweep: {name}")
        t0 = time.perf_counter()
        try:
            n = q.fn(spark, sf_dir).count()
            note = f"{n} rows"
        except Exception as ex:  # noqa: BLE001 — a sweep reports, not raises
            note = f"ERROR {str(ex)[:80]}"
        dt = time.perf_counter() - t0
        rows.append((dt, name, note))
        print(f"# {name}: {dt:.2f}s ({note})", file=sys.stderr)

    rows.sort(reverse=True)
    for dt, name, note in rows:
        print(f"{dt:8.2f}s  {name}  ({note})")
    total = sum(r[0] for r in rows)
    errs = sum(1 for r in rows if r[2].startswith("ERROR"))
    print(
        f"# sweep {sf_dir}: {len(rows)} queries, total {total:.1f}s, "
        f"worst {rows[0][0]:.1f}s ({rows[0][1]}), errors {errs}"
    )
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
