"""What every workload shares: the run context, session start, the timed
set-up and the summary statistics."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer

@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    size: str
    trace: bool
    #: root of the checkout (holds ``lakehouse_architecture_spark``)
    root: str
    #: per-run scratch directory inside the checkout, removed at exit
    work: str
    cores: int
    #: ``time.perf_counter()`` when the process started running Python
    proc_start: float
    spark: object = None
    tracer: Tracer = field(init=False)

    def __post_init__(self) -> None:
        self.tracer = Tracer(lambda: self.spark, self.trace, f"{self.workload}-{self.seed}")

    def start_session(self) -> float:
        """(Re)start the SparkSession through the package's factory and run
        its first action; returns the seconds this took."""
        from lakehouse_architecture_spark.session import SessionFactory

        t0 = time.perf_counter()
        self.spark = SessionFactory(
            app_name=f"perfbench_{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # keep the JVM's files inside the checkout: its temp dir,
                # and no hsperfdata file under /tmp (Spark's local dirs
                # come from SPARK_LOCAL_DIRS, set by run.py)
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work}/tmp -XX:+PerfDisableSharedMem"
                ),
            },
        ).get_or_create()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        from lakehouse_architecture_spark.materialize import release_small_pins

        release_small_pins(self.spark)
        self.spark.stop()


def cold_setup(ctx: Context, setup_once):
    """Run ``setup_once(ctx)`` once and return the seconds from process
    start until it returned, with what it returned. This is the set-up a
    user pays: interpreter start, imports, JVM launch, session start and the
    workload's own preparation."""
    result = setup_once(ctx)
    return time.perf_counter() - ctx.proc_start, result


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``; ``(0, min)`` when there are ten or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 0.0, xs[0]
    return 100.0 * (n - 10) / n, xs[n - 11]


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
