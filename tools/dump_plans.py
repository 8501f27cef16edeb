"""Dump full `.explain("formatted")` output for named queries into
plans/<round>/<query>_<tag>.txt — the before/after evidence files for an
optimization pass.

Usage: python tools/dump_plans.py <round> <before|after> <query> [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_architecture_spark.plans.inspect import formatted_plan
from lakehouse_architecture_spark.queries.registry import ALL_QUERIES
from lakehouse_architecture_spark.session import SessionFactory

USAGE = __doc__.strip().splitlines()[-1]


def main(argv: list[str]) -> int:
    if len(argv) < 3 or argv[1] not in ("before", "after"):
        print(USAGE, file=sys.stderr)
        return 2
    rnd, tag, names = argv[0], argv[1], argv[2:]
    unknown = [n for n in names if n not in ALL_QUERIES]
    if unknown:
        print(f"unknown query: {', '.join(unknown)}\n{USAGE}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = SessionFactory(app_name=f"dump_plans_{rnd}").get_or_create()
    for name in names:
        df = ALL_QUERIES[name].build(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
