"""The ``medallion_etl`` workload: the paper's pipeline, writes beside reads.

A cycle runs ``pipeline.scheduler.realestate_dag`` through ``run_dag``
(ingest → bronze_to_silver → silver_to_gold → train) over seeded bronze
crawl files (perfbench/bronze.py), then catches up on daily update files
with ``streaming.incremental.incremental_file_source`` feeding
``streaming.sinks.foreach_batch_upsert`` (one file per micro-batch, each
batch rewrites the target snapshot). JSON parsing, cleaning expressions,
parquet writes, RandomForest training and the upsert do the work; the
registry query layer does none.

After the timed cycles the last cycle's outputs are checked: silver holds
every parseable bronze row and gold exactly the generator's keys (so the
unparseable file's row was quarantined), R² is finite and above
:data:`R2_FLOOR`, and the upsert target holds one row per key with the
latest values.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.bronze import SIZES, UPDATE_SCHEMA, BronzeSet, generate
from perfbench.common import Context, cold_setup, dir_bytes, median_or_zero, tail
from perfbench.trace import COUNTER_NAMES, peak_execution_mb, peak_rss_mb

#: Price is area × unit price × ±15% noise, so a forest on (area,
#: bedrooms, location) explains most of the variance; measured R² is
#: about 0.9 at bench size.
R2_FLOOR = 0.5

#: Cycles per run at least. A fresh JVM keeps compiling Spark's code for
#: several cycles (21 s, then 8.1, 6.8, 6.3 s measured), and a single
#: cycle's time swings with the host; the sum of each step's fastest cycle
#: repeats far better (a single cycle spread 28 % over five seeds).
MIN_CYCLES = 4

DAG_SPANS = {
    "ingest": "sources.ingest",
    "bronze_to_silver": "pipeline.bronze_to_silver",
    "silver_to_gold": "pipeline.silver_to_gold",
    "train": "pipeline.train",
}


def _setup_once(ctx: Context) -> tuple[dict, BronzeSet]:
    tr = ctx.tracer
    with tr.span("setup"):
        with tr.span("session.start"):
            start_s = ctx.start_session()
        with tr.span("bronze.generate"):
            inputs = generate(
                os.path.join(ctx.work, f"inputs-{time.monotonic_ns()}"),
                ctx.seed,
                SIZES["smoke" if ctx.size == "smoke" else "bench"],
            )
    return {"session.start_s": start_s}, inputs


class TargetSizes(StreamingQueryListener):
    """Records the upsert target's size after every micro-batch that read
    rows (each batch rewrites the whole snapshot)."""

    def __init__(self, target: str) -> None:
        self.target = target
        self.sizes: dict[int, int] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if event.progress.numInputRows:
            self.sizes[event.progress.batchId] = dir_bytes(self.target)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _cycle(ctx: Context, inputs: BronzeSet, n: int) -> dict:
    """One timed DAG run plus streaming catch-up into fresh output dirs."""
    from lakehouse_architecture_spark.pipeline.scheduler import realestate_dag, run_dag
    from lakehouse_architecture_spark.streaming.incremental import incremental_file_source
    from lakehouse_architecture_spark.streaming.sinks import foreach_batch_upsert

    tr = ctx.tracer
    spark = ctx.spark
    d = os.path.join(ctx.work, f"cycle-{n}")
    out = {k: os.path.join(d, k) for k in ("bronze", "silver", "gold", "target", "checkpoint")}
    os.makedirs(out["bronze"])
    for f in inputs.files:  # the ingest task adds a file, so each cycle gets a copy
        os.link(f, os.path.join(out["bronze"], os.path.basename(f)))

    fetch_page, fetch_detail = inputs.fake_api()
    dag = realestate_dag(spark, fetch_page, fetch_detail, out["bronze"], out["silver"], out["gold"])
    overhead: dict[str, float] = {}
    for name, spec in list(dag.tasks.items()):
        dag.tasks[name] = _traced_task(tr, spec, DAG_SPANS[name], overhead)

    listener = None
    if tr.enabled:
        listener = TargetSizes(out["target"])
        spark.streams.addListener(listener)
    t0 = time.perf_counter()
    with tr.span("cycle") as cycle:
        with tr.span("dag"):
            runs = run_dag(dag)
        t1 = time.perf_counter()
        with tr.span("streaming.catch_up") as sp:
            stream = incremental_file_source(
                spark, inputs.updates_dir, UPDATE_SCHEMA, format="json", max_files_per_trigger=1
            )
            query = foreach_batch_upsert(stream, out["target"], ["list_id"], out["checkpoint"])
            query.awaitTermination()
        t2 = time.perf_counter()
    progress = [p for p in query.recentProgress if p.numInputRows]
    # a traced task's time without the tracing done inside it
    steps = {name: r.seconds - overhead.get(name, 0.0) for name, r in runs.items()}
    steps["catch_up"] = t2 - t1
    # "wall" is the cycle's wall time, tracing included, as a traced run
    # reports it in trace.cycle_s
    shown = {**steps, "wall": t2 - t0}
    print(f"cycle {n}:", json.dumps({k: round(v, 3) for k, v in shown.items()}), flush=True)
    res = {
        "steps": steps,
        "wall_s": t2 - t0 - (cycle.overhead if cycle is not None else 0.0),
        "runs": runs,
        "progress": progress,
        "exception": query.exception(),
        "dirs": out,
    }
    if tr.enabled:
        sp.attrs.update(tr.counters_for_group(str(query.runId)))
        deadline = time.monotonic() + 30
        while len(listener.sizes) < len(progress) and time.monotonic() < deadline:
            time.sleep(0.05)  # progress events reach Python listeners asynchronously
        spark.streams.removeListener(listener)
        res["target_sizes"] = dict(listener.sizes)
    return res


def _traced_task(tr, spec, span_name: str, overhead: dict[str, float]):
    """``spec`` with its function run inside a span with its own job group;
    the tracing time it spends is added up in ``overhead[spec.name]``."""
    from dataclasses import replace

    def fn():
        before = tr.overhead_s
        try:
            with tr.span(span_name, spark_group=True):
                return spec.fn()
        finally:
            overhead[spec.name] = overhead.get(spec.name, 0.0) + tr.overhead_s - before

    return replace(spec, fn=fn) if tr.enabled else spec


def _check(inputs: BronzeSet, c: dict) -> list[str]:
    """Compare the cycle's outputs with what the generator expects. The
    outputs are read with pyarrow, not with the engine under test."""
    import pyarrow.parquet as pq

    errors = []
    runs = c["runs"]
    for name, r in runs.items():
        if r.state != "success":
            errors.append(f"task {name}: {r.state} {r.error}")
        elif r.attempts > 1:  # its time includes the failed attempts
            errors.append(f"task {name}: succeeded after {r.attempts} attempts")
    if c["exception"] is not None:
        errors.append(f"stream: {c['exception']}")
    if errors:
        return errors

    # the unparseable file's row carries no list_id, so a quarantine that
    # let it through shows as a None key and one row too many
    silver = pq.read_table(c["dirs"]["silver"], columns=["list_id"]).column(0).to_pylist()
    if len(silver) != inputs.bronze_rows or set(silver) != inputs.expected_keys:
        errors.append(f"silver: {len(silver)} rows, keys differ from the generated listings")
    gold = pq.read_table(c["dirs"]["gold"], columns=["id"]).column(0).to_pylist()
    if set(gold) != inputs.expected_keys:
        errors.append("gold keys differ from the generated listings")
    r2 = runs["train"].result
    if not (isinstance(r2, float) and math.isfinite(r2) and r2 > R2_FLOOR):
        errors.append(f"R² {r2} not above {R2_FLOOR}")
    target = pq.read_table(c["dirs"]["target"]).to_pylist()
    got = {r["list_id"]: r for r in target}
    if len(got) != len(target):
        errors.append(f"upsert target has {len(target) - len(got)} duplicate keys")
    if got != inputs.expected_upsert:
        wrong = sum(1 for k, v in inputs.expected_upsert.items() if got.get(k) != v)
        errors.append(f"upsert target: {wrong} keys missing or stale, {len(got)} rows")
    return errors


def _corrupt_rows(ctx: Context, bronze_dir: str) -> int:
    """Rows the package's bronze reader quarantines."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sources.readers import read_bronze_json

    # Spark refuses a raw-JSON query that reads only the corrupt-record
    # column, so list_id rides along
    return len(
        read_bronze_json(ctx.spark, bronze_dir)
        .filter(F.col("_corrupt_record").isNotNull())
        .select("list_id", "_corrupt_record")
        .collect()
    )


def run(ctx: Context) -> tuple[int, int, dict, dict]:
    setup_s, (setup, inputs) = cold_setup(ctx, _setup_once)

    cycles = []
    t_start = time.perf_counter()
    while len(cycles) < MIN_CYCLES or time.perf_counter() - t_start < ctx.seconds:
        cycles.append(_cycle(ctx, inputs, len(cycles)))
    rss = peak_rss_mb(ctx.spark)

    errors = [e for c in cycles for e in _check(inputs, c)]
    batches = [p.durationMs["triggerExecution"] / 1e3 for c in cycles for p in c["progress"]]
    layer = {}
    if ctx.trace and not errors:
        layer = _layers(ctx, inputs, cycles, setup, batches)
        layer["peak_rss_mb"] = rss
        if layer["sources.corrupt_rows"] != inputs.expected_corrupt:
            errors.append(
                f"{layer['sources.corrupt_rows']} rows quarantined, "
                f"expected {inputs.expected_corrupt}"
            )
    for e in errors:
        print(f"FAILED {e}", flush=True)
    # operations: the four DAG tasks and every micro-batch of every cycle
    attempted = sum(len(c["runs"]) + len(c["progress"]) for c in cycles)
    e2e = {
        "setup_s": setup_s,
        # the pipeline's floor: each step at its fastest cycle
        "cycle_s": sum(min(c["steps"][k] for c in cycles) for k in cycles[0]["steps"]),
    }
    return attempted, min(len(errors), attempted), e2e, layer


def _layers(ctx, inputs, cycles, setup, batches) -> dict:
    tr = ctx.tracer
    n = len(cycles)
    last = cycles[-1]
    layer = dict(setup)
    layer["spark.peak_exec_mb"] = peak_execution_mb(ctx.spark)
    for task, span in DAG_SPANS.items():
        layer[f"{span}_s"] = min(c["steps"][task] for c in cycles)
    counted = [s for name in (*DAG_SPANS.values(), "streaming.catch_up") for s in tr.of(name)]
    for k in COUNTER_NAMES:
        layer[f"spark.{k}"] = sum(s.attrs.get(k, 0.0) for s in counted) / n
    wall = sum(c["wall_s"] for c in cycles) / n
    layer["spark.cpu_util"] = layer["spark.executor_cpu_s"] / (wall * ctx.cores)
    silver, gold, target = (last["dirs"][k] for k in ("silver", "gold", "target"))
    layer["sources.corrupt_rows"] = _corrupt_rows(ctx, last["dirs"]["bronze"])
    layer["ml.r2"] = last["runs"]["train"].result
    layer["scheduler.attempts"] = sum(r.attempts for c in cycles for r in c["runs"].values()) / n
    layer["pipeline.silver_files"] = sum(1 for f in os.listdir(silver) if f.endswith(".parquet"))
    layer["pipeline.silver_mb"] = dir_bytes(silver) / 2**20
    layer["pipeline.gold_mb"] = dir_bytes(gold) / 2**20
    layer["pipeline.etl_rows_per_s"] = inputs.bronze_rows / sum(
        layer[f"{span}_s"] for span in DAG_SPANS.values()
    )
    bronze_bytes = dir_bytes(last["dirs"]["bronze"]) + inputs.update_bytes
    layer["pipeline.storage_ratio"] = (
        dir_bytes(silver) + dir_bytes(gold) + dir_bytes(target)
    ) / bronze_bytes
    progress = [p for c in cycles for p in c["progress"]]
    layer["streaming.batches"] = len(progress) / n
    layer["streaming.add_batch_s"] = statistics.median(p.durationMs["addBatch"] / 1e3 for p in progress)
    layer["streaming.wal_commit_s"] = statistics.median(p.durationMs["walCommit"] / 1e3 for p in progress)
    layer["streaming.rows_per_s"] = inputs.update_rows / min(c["steps"]["catch_up"] for c in cycles)
    layer["sinks.bytes_rewritten_per_input_byte"] = statistics.median(
        sum(c["target_sizes"].values()) for c in cycles
    ) / inputs.update_bytes
    pct, val = tail(batches)
    layer.update({"ops.count": len(batches), "ops.p50_s": median_or_zero(batches),
                  "ops.tail_pct": pct, "ops.tail_s": val})
    layer["self.cycle_s"] = sum(tr.self_time(s) for s in tr.of("cycle")) / n
    layer["self.dag_s"] = sum(tr.self_time(s) for s in tr.of("dag")) / n
    return layer
