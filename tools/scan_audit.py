"""Audits how many times each registry query's executed plan scans its
source parquet files — the metric the exact_quantiles round-6 fix was
driven by (a composed plan that references a subtree many times can scan
a 100 TB fact table once per reference unless the intermediate is
materialized; exchange reuse alone does not collapse them all).

For every query: build at the given sf, execute, then walk the FINAL
adaptive physical plan counting file-source scan leaves. High scan counts
are not automatically bugs (multi-table joins legitimately scan several
tables; a self-join scans its table twice) — the audit flags queries whose
scan count exceeds a threshold so a human checks whether the repeats hit
the same big fact.

Counting is the package's physical-plan walk,
``lakehouse_architecture_spark.plans.inspect.scan_counts`` (its docstring
states the counting rules); this module is its command-line front end and
re-exports ``scan_counts`` / ``live_scan_count`` for existing importers.

Usage: python tools/scan_audit.py [sf_dir] [threshold] [query ...]
Prints one JSON line per flagged query, then a summary line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_architecture_spark.plans.inspect import (  # noqa: F401 (re-export)
    live_scan_count,
    scan_counts,
)
from lakehouse_architecture_spark.queries.registry import ALL_QUERIES
from lakehouse_architecture_spark.session import SessionFactory


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    threshold = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    names = sys.argv[3:] or list(ALL_QUERIES)

    spark = SessionFactory(app_name="scan_audit").get_or_create()
    rows = []
    for name in names:
        spec = ALL_QUERIES[name]
        try:
            df = spec.build(spark, sf_dir)
            df.collect()
            c = scan_counts(df)
        except Exception as e:  # noqa: BLE001
            rows.append({"query": name, "err": str(e).splitlines()[0][:120]})
            continue
        rows.append(
            {
                "query": name,
                "scans": c["live"],
                "cached_lineage_scans": c["total"] - c["live"],
                "reused": c["reused"],
            }
        )
    flagged = [
        r for r in rows if r.get("scans", 0) >= threshold or r.get("err")
    ]
    for r in sorted(flagged, key=lambda r: -r.get("scans", 0)):
        print(json.dumps(r))
    ok = [r for r in rows if not r.get("err")]
    print(
        json.dumps(
            {
                "summary": True,
                "queries": len(rows),
                "flagged_at_threshold": len(flagged),
                "threshold": threshold,
                "max_scans": max((r["scans"] for r in ok), default=0),
                "mean_scans": round(
                    sum(r["scans"] for r in ok) / max(1, len(ok)), 2
                ),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
