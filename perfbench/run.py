"""Benchmark of the lakehouse engine: one workload per invocation.

    python3 perfbench/run.py --workload query_parquet --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It prints progress lines, then as its
last line one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``, with ``--trace 1`` its ``per_layer`` metrics (a layer a
workload does not exercise reads 0) and the spans are written to
``perfbench/.work/traces/<workload>-<seed>.jsonl``.

Workloads (see perfbench/README.md for why each exists):

* ``query_cached`` / ``query_parquet`` — registry queries over cached
  tables / straight off parquet (perfbench/query_mix.py);
* ``medallion_etl`` — seeded bronze crawl files through the four-task DAG,
  then a streaming upsert catch-up (perfbench/medallion_etl.py).

``--size smoke`` shrinks every workload for the benchmark's own tests.
"""

from __future__ import annotations

import time

PROC_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_cached", "query_parquet", "medallion_etl")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("smoke", "bench"), default="bench")
    return p.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import lakehouse_architecture_spark  # noqa: F401
        import tools.oracle_check  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench.common import Context

    work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything the run writes stays inside the checkout: Python temp
    # files, the package's executor zip, Spark's local dirs, and files the
    # session drops in its working directory
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.chdir(work)

    ctx = Context(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        size=args.size,
        trace=bool(args.trace),
        root=ROOT,
        work=work,
        cores=len(os.sched_getaffinity(0)),
        proc_start=PROC_START,
    )
    try:
        if args.workload == "medallion_etl":
            from perfbench import medallion_etl as workload
        else:
            from perfbench import query_mix as workload
        attempted, failed, e2e, layer = workload.run(ctx)
        if ctx.trace:
            ctx.tracer.write_jsonl(
                os.path.join(ROOT, "perfbench", ".work", "traces", f"{args.workload}-{args.seed}.jsonl")
            )
            # tracing cost inside the timed cycles, per cycle, against the
            # traced cycle's wall time
            cycles = ctx.tracer.of("cycle")
            traced = sum(c.end - c.start for c in cycles)
            overhead = sum(c.overhead for c in cycles)
            layer["trace.cycle_s"] = traced / len(cycles)
            layer["trace.overhead_s"] = overhead / len(cycles)
            layer["trace.overhead_ratio"] = overhead / traced
    finally:
        if ctx.spark is not None:
            ctx.stop_session()
        shutdown_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    units = declared_metrics(ctx.trace)
    measured = layer if ctx.trace else e2e
    unknown = set(measured) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {
        name: {"value": float(measured.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
