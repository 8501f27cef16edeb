"""Steady-state timing probe — the per-change before/after probe for an
operator edit, and the reproducible source for the README's per-query
sampling-artifact claims.

Runs each query N times against the SAME warmed, cached tables bench.py
uses and reports min/median/max, separating plan cost (the min) from
sampling noise (the spread). Use when a bench number moves and you need
to know whether the PLAN changed or the box was noisy.

Bench methodology: warm cached tables, one untimed settling pass over
every named query (compiles the cached-table plans' codegen), then the
timed noop-sink runs. Each run's materialize_small pins are released
after it, so every sample times the same program — build, pins and sink,
as bench.py's first warm run of a query does.

Usage: python tools/steady_probe.py <sf_dir> <n_runs> <query> [query ...]

Reference run (sf0.1, local[32], 6 runs, round 3):
  q21_sole_late  samples [3.14, 1.14, 1.01, 0.99, 0.89, 0.87] — settles ~0.9-1.0 s
  q_minhash_lsh  samples [3.40, 2.41, 1.71, 1.62, 1.42, 1.34] — first run pays
  the whole-stage-codegen compile, then settles ~1.3-1.7 s
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_architecture_spark.materialize import release_small_pins
from lakehouse_architecture_spark.queries.base import warm_cached_tables
from lakehouse_architecture_spark.queries.registry import ALL_QUERIES
from lakehouse_architecture_spark.session import SessionFactory

USAGE = next(ln for ln in __doc__.splitlines() if ln.startswith("Usage:"))


def _run(spark, name: str, sf_dir: str) -> float:
    t0 = time.time()
    ALL_QUERIES[name].build(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    elapsed = time.time() - t0
    release_small_pins(spark)  # lifecycle, outside the timer
    return elapsed


def main(argv: list[str]) -> int:
    if len(argv) < 3 or not argv[1].isdigit() or int(argv[1]) < 1:
        print(USAGE, file=sys.stderr)
        return 2
    sf_dir, n_runs, names = argv[0], int(argv[1]), argv[2:]
    unknown = [n for n in names if n not in ALL_QUERIES]
    if unknown:
        print(f"unknown query: {', '.join(unknown)}\n{USAGE}", file=sys.stderr)
        return 2

    spark = SessionFactory(app_name="steady_probe").get_or_create()
    # identical warm-cache setup to bench.py's timed section — one shared
    # implementation so the two can never drift
    warm_cached_tables(spark, sf_dir)
    for qname in names:  # settling pass, untimed
        _run(spark, qname, sf_dir)

    for qname in names:
        samples = [round(_run(spark, qname, sf_dir), 3) for _ in range(n_runs)]
        print(
            json.dumps(
                {
                    "query": qname,
                    "n_runs": n_runs,
                    "min": min(samples),
                    "median": round(statistics.median(samples), 3),
                    "max": max(samples),
                    "samples": samples,
                }
            )
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
