"""Run-time plumbing shared by the workloads: the work directory, the
Spark session, latency statistics and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks), so
    set-up time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            started_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - started_ticks / os.sysconf("SC_CLK_TCK")
        return time.time() - age
    except (OSError, ValueError, IndexError):
        return time.time()


PROCESS_START = process_start_epoch()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot: the share of time
    the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_workdir(root: str, name: str) -> str:
    """A fresh per-run directory under the checkout; everything the run
    writes (inputs, Spark scratch, stores, temp files) lands here."""
    work = os.path.join(root, ".perfbench_work", name)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("inputs", "tmp", "spark-local", "warehouse", "out"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    # child processes (Spark's JVM and Python workers) inherit these
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    return work


def start_spark(work: str, app: str, trace: bool):
    """The engine's own session factory, with the engine's default shuffle
    width and SPARK_GRAFT_CPUS = the host's CPU count.  Returns the
    session and the get_spark wall time."""
    from dbt_metrics_ingestion_script_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage of the run for the post-run harvest
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{app}", extra_conf=conf)
    wall = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, wall


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone either way
            proc.kill()
            proc.wait()


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it: the
    11th-largest sample.  Below 21 samples that percentile is at or below
    the median, not a tail, and the maximum stands in.  Returns the value
    and a label naming the percentile and the sample count."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return s[-1], f"max of n={n} (fewer than 21 samples)"
    return s[n - 11], f"p{100.0 * (n - 10) / n:.1f} of n={n}"


class Result:
    """Metrics, notes and counts of one run; `emit` prints the report
    lines and, last, the one-line JSON result."""

    def __init__(self) -> None:
        self.metrics: dict[str, dict] = {}
        self.notes: list[str] = []
        self.counts: dict[str, list[int]] = {}  # phase -> [attempted, failed]
        self.check_failures: list[str] = []

    def attempt(self, phase: str) -> None:
        self.counts.setdefault(phase, [0, 0])[0] += 1

    def fail(self, phase: str) -> None:
        self.counts.setdefault(phase, [0, 0])[1] += 1

    def metric(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.metrics[name] = {"value": value, "unit": unit}
        if note:
            self.notes.append(f"{name}: {note}")

    def note(self, text: str) -> None:
        self.notes.append(text)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.check_failures.append(what)
        return ok

    def emit(self, names: list[str]) -> None:
        for text in self.notes:
            print(f"# {text}")
        for what in self.check_failures[:20]:
            print(f"# CHECK FAILED: {what}")
        for name in names:
            m = self.metrics[name]
            print(f"{name} = {m['value']:.6g} {m['unit']}")
        line = {
            "correct": not self.check_failures,
            "attempted": sum(c[0] for c in self.counts.values()),
            "failed": sum(c[1] for c in self.counts.values()),
            "metrics": {n: self.metrics[n] for n in names},
        }
        sys.stdout.flush()
        print(json.dumps(line), flush=True)
