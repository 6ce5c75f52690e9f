"""What every workload shares: the Spark session's lifetime, the work
directory, closed-loop timed rounds and the generic end-to-end metrics.

A workload is a class with ``setup(run)`` (inputs and what the checks
compare against) and ``round(run, i)`` (one fixed sequence of
operations, each timed and checked). The closed loop starts the next
operation only after the previous one has returned and been checked.

There is no warm pass: the first round runs in a fresh session, as the
production job and the query registry's callers do, and a warm pass for
every workload would not fit 22 runs of each into a full check.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import statistics
import subprocess
import time

DRIVER_MEM = "2g"


class CheckFailed(AssertionError):
    """An output of the program disagreed with the independent check."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time,
    so interpreter start-up and imports count towards set-up."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_s = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_s


def cpu_ticks() -> dict:
    """Machine-wide CPU ticks by state, from /proc/stat (steal is time the
    hypervisor gave this machine's CPUs to others)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}


def steal_share(before: dict, after: dict) -> float:
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    return d["steal"] / total if total else 0.0


@dataclasses.dataclass
class Op:
    name: str
    seconds: float


@dataclasses.dataclass
class Run:
    """One benchmark process: one workload, one seed, one session."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str  # the checkout
    work: str  # scratch space inside the checkout, removed at exit
    cores: int
    scale: str = "full"
    spark: object = None
    tracer: object = None
    rounds: list = dataclasses.field(default_factory=list)
    attempted: int = 0  # timed operations started
    extra: dict = dataclasses.field(default_factory=dict)

    def checking(self):
        """Context for checks: untraced, so their Spark jobs count for no layer."""
        return self.tracer.pause() if self.tracer else contextlib.nullcontext()

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext()

    def timed(self, name: str, fn, *args, **kwargs):
        """Run one operation under the clock; returns (Op, result)."""
        self.attempted += 1
        with self.span("op", name):
            t = time.perf_counter()
            out = fn(*args, **kwargs)
            seconds = time.perf_counter() - t
        return Op(name, seconds), out


def prepare_env(root: str, work: str, cores: int) -> None:
    """Environment the session and its Python workers inherit: the engine
    on the workers' path, a bounded driver heap, and every temporary
    file inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): temp files in the work
    # directory, and no hsperfdata file, which would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def start_session(run: Run):
    from sfa_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        log_dir = os.path.join(run.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    run.spark = get_spark(f"enginebench-{run.workload}", cores=run.cores, extra_conf=conf)
    # start the Python workers, so the first UDF of a round does not pay it
    run.spark.range(run.cores).mapInPandas(lambda it: it, "id long").count()
    return run.spark


def stop_session(run: Run) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for it to exit
    (the JVM ends its Python workers when it goes)."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    run.spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    run.spark = None


def remove_work(run: Run) -> None:
    shutil.rmtree(run.work, ignore_errors=True)


def timed_rounds(run: Run, workload) -> None:
    """Closed loop: whole rounds until ``run.seconds`` have passed."""
    t0 = time.perf_counter()
    while not run.rounds or time.perf_counter() - t0 < run.seconds:
        run.rounds.append(workload.round(run, len(run.rounds)))


def end_to_end(run: Run, setup_s: float) -> dict:
    """The metrics every workload reports (see README.md)."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "round_s": {
            "value": statistics.median(sum(op.seconds for op in r) for r in run.rounds),
            "unit": "s",
        },
    }


def op_summary(run: Run) -> dict:
    """Median seconds per named operation, for the human-readable report."""
    by: dict[str, list[float]] = {}
    for r in run.rounds:
        for op in r:
            by.setdefault(op.name, []).append(op.seconds)
    return {k: statistics.median(v) for k, v in by.items()}
