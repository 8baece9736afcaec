#!/usr/bin/env python3
"""The repo benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload ingest_and_dashboard --seed 1 --seconds 18 --trace 0

Run from the repository root.  The run generates its inputs from the
seed (before Spark starts), sets up the engine's own Spark session, runs
the work that --seconds sizes (see README.md), checks every output
against the generator's ground truth, and prints one report line per
metric followed, last, by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 runs the workload's phases and reports the end-to-end
metrics, the same names in every workload.  --trace 1 runs every phase
of every workload in one session with per-layer spans (see tracing.py),
so every workload's traced run reports every per-layer metric, and
writes every span to .perfbench_work/traces/.  See README.md.
"""

from __future__ import annotations

import harness  # first: records the process start time  # noqa: I001

import argparse
import importlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# workload -> (phase, share of the measuring time), run one after the
# other in one session.  ingest_and_dashboard runs Layer A then Layer B
# in one process, to fit the benchmark's time budget, and gives the
# dashboard's cheap requests two thirds of the measuring time.
WORKLOADS = {
    "ingest_and_dashboard": (("manifest_ingest", 1), ("metric_dashboard", 2)),
    "corpus_curation": (("corpus_curation", 1),),
}
# The traced run spans every layer whatever the workload, each phase at
# the smallest size that holds a traced and an untraced call of each kind
# (at --seconds 18: two warm ingests, two request blocks, three batches).
TRACED = (("manifest_ingest", 2), ("metric_dashboard", 1), ("corpus_curation", 2))
# What every untraced run reports, in this order; each phase module fills
# in its part (see README.md for what each name means per workload).
END_TO_END = ("setup_s", "requests_per_s", "batch_yield_frac", "answer_recall_frac")


def _unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_in")):
        return "bytes"
    if name.endswith(("_frac", "_rate", "_share")) or name == "ann_recall_at_10":
        return "frac"
    return "count"


class Context:
    """What a workload's run() gets: the session, the tracer, the inputs
    and the result it fills in."""

    def __init__(self, args, work, gen_s, spark, tracer, result):
        self.seed, self.workload = args.seed, args.workload
        self.seconds = 0.0  # the current phase's share of --seconds
        self.work, self.gen_s = work, gen_s
        self.truth: dict = {}  # the current phase's ground truth
        self.spark, self.tracer, self.result = spark, tracer, result
        self.stages: list[dict] = []

    def span_records(self) -> list[dict]:
        """Harvest the status store and write the trace file."""
        from tracing import harvest, span_records

        jobs, self.stages = harvest(self.spark)
        records = span_records(self.tracer.spans, jobs, self.stages)
        out = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed, "seconds": self.seconds,
                       "spans": records}, f, indent=1)
        self.result.note(f"trace: {len(records)} spans, {len(jobs)} jobs -> {os.path.relpath(path, ROOT)}")
        return records

    def layer_metrics(self, layer: dict) -> list[str]:
        for name, value in layer.items():
            self.result.metric(name, value, _unit(name))
        return list(layer)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    try:
        importlib.import_module("dbt_metrics_ingestion_script_spark.pipeline")
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from generators import GENERATORS
    from tracing import Tracer

    phases = TRACED if args.trace else WORKLOADS[args.workload]
    total = sum(share for _, share in phases)
    seconds = {phase: args.seconds * share / total for phase, share in phases}
    modules = {phase: importlib.import_module(f"wl_{phase}") for phase, _ in phases}
    work = harness.prepare_workdir(ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    t0 = time.perf_counter()
    truths = {}
    for phase, _ in phases:
        os.makedirs(os.path.join(work, "inputs", phase))
        truths[phase] = GENERATORS[phase](
            args.seed, os.path.join(work, "inputs", phase),
            modules[phase].planned(seconds[phase], bool(args.trace)))
    gen_s = time.perf_counter() - t0

    result = harness.Result()
    steal0, total0 = harness.cpu_ticks()
    spark, get_spark_s = harness.start_spark(work, args.workload, bool(args.trace))
    try:
        result.note(
            f"engine: SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']}, "
            f"spark.sql.shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')}, "
            f"seed={args.seed}, seconds={args.seconds}, trace={args.trace}"
        )
        ctx = Context(args, work, gen_s, spark, Tracer(spark, bool(args.trace)), result)
        names = []
        for phase, _ in phases:
            ctx.truth, ctx.seconds = truths[phase], seconds[phase]
            t_phase = time.perf_counter()
            names += modules[phase].run(ctx)
            result.note(f"phase {phase}: {time.perf_counter() - t_phase:.1f} s wall, checks included")
        if args.trace:
            attempted = sum(c[0] for c in result.counts.values())
            failed = sum(c[1] for c in result.counts.values())
            names += ctx.layer_metrics({
                "session.get_spark.wall_s": get_spark_s,
                "spark.failed_tasks": sum(s["numFailedTasks"] for s in ctx.stages),
                "error_rate": failed / max(attempted, 1),
            })
        else:
            names = [n for n in END_TO_END if n in names]
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = harness.cpu_ticks()
    result.note(f"host: {100.0 * (steal1 - steal0) / max(total1 - total0, 1):.1f} % of CPU time stolen by the hypervisor during the run")
    missing = [n for n in END_TO_END if n not in names] if not args.trace else []
    if missing:
        print(f"perfbench: workload {args.workload} did not report {missing}", file=sys.stderr)
        return 1
    result.emit(names)
    return 0


if __name__ == "__main__":
    sys.exit(main())
