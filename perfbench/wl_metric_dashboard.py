"""metric_dashboard: the Layer B metric compiler under a dashboard's load.

Two closed-loop clients replay one request script over sf0.1
orders/lineitem/events, each request once.  Requests pick specs by Zipf
popularity: 70 % live queries (`MetricCompiler.compile` + collect), 10 %
panels (`compile_shared` of 4-8 specs on one model and grain), 10 %
`read_metric_range` and 10 % `refresh_metric_incremental` into the same
metric store.  After the loop, untimed, every distinct result is checked
against DuckDB through `oracle_sql_for`, and the store against the same
oracle.

The metric store has no reader isolation (a refresh rewrites partition
directories in place), so the clients serialize a read and a refresh of
the same store entry with a per-entry lock; different entries proceed in
parallel.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import threading
import time

from harness import p50, tail
from oracle_check import duckdb_views, run_sql, same_rows
from tracing import per_span_medians

PHASE = "metric_dashboard"
SPANS = [
    "plans.compiler.MetricCompiler.compile",
    "plans.compiler.MetricCompiler.compile_shared",
    "spark.optimize",
    "spark.execute",
    "sinks.metric_store.refresh_metric_incremental",
    "sinks.metric_store.read_metric_range",
]
END_TO_END = ["requests_per_s", "answer_recall_frac"]
CLIENTS = 2
# about the two clients' request rate on a 4-core host: the phase's share
# of --seconds buys this many requests per second
REQUESTS_PER_S = 3.5


def planned(seconds: float, traced: bool) -> int:
    """Requests in the script (the generator rounds up to whole blocks)."""
    return math.ceil(seconds * REQUESTS_PER_S)


def _spec(d: dict):
    from dbt_metrics_ingestion_script_spark.plans.metric_spec import MetricFilter, MetricSpec

    d = dict(d)
    d["filters"] = [MetricFilter(**f) for f in d.get("filters", [])]
    for part in ("numerator", "denominator"):
        if d.get(part):
            d[part] = _spec(d[part])
    return MetricSpec(**d)


def _files(path: str) -> set[str]:
    return {os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_"))}


class Dashboard:
    def __init__(self, ctx) -> None:
        from dbt_metrics_ingestion_script_spark.plans.compiler import MetricCompiler

        self.ctx, self.spark, self.tracer = ctx, ctx.spark, ctx.tracer
        truth = ctx.truth
        self.specs = {d["name"]: _spec(d) for d in truth["specs"]}
        self.tables = {m: self.spark.read.parquet(p) for m, p in truth["tables"].items()}
        self.compiler = MetricCompiler(self.resolve, registry=self.specs)
        self.store = os.path.join(ctx.work, "out", "metric_store")
        self.entries = truth["store"]
        self.entry_locks = [threading.Lock() for _ in self.entries]
        self.panels = truth["panels"]
        self.captured: dict[tuple, tuple] = {}  # request key -> (columns, rows), first result
        self.seen: set[tuple] = set()
        self.repeats = 0
        self.files_written: list[int] = []
        self.compared = self.matched = 0  # result checks against the oracle
        self.lock = threading.Lock()

    def resolve(self, model: str):
        return self.tables[model]

    def _collect(self, df):
        """Plan (traced: executedPlan forced in its own span) and run."""
        if self.tracer.active:
            with self.tracer.span("spark.optimize"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("spark.execute"):
            return df.columns, [tuple(r) for r in df.collect()]

    def request(self, req: dict):
        from dbt_metrics_ingestion_script_spark.sinks import metric_store

        op = req["op"]
        if op == "live":
            spec = self.specs[req["spec"]]
            with self.tracer.span(SPANS[0]):
                df = self.compiler.compile(spec, req["grain"])
            key = ("live", req["spec"], req["grain"])
            out = self._collect(df)
        elif op == "panel":
            panel = self.panels[req["panel"]]
            with self.tracer.span(SPANS[1]):
                df = self.compiler.compile_shared([self.specs[n] for n in panel["specs"]], panel["grain"])
            key = ("panel", req["panel"])
            out = self._collect(df)
        else:
            entry = self.entries[req["entry"]]
            spec, grain = self.specs[entry["spec"]], entry["grain"]
            with self.entry_locks[req["entry"]]:
                if op == "store_read":
                    key = ("store_read", req["entry"], req["start"], req["end"])
                    with self.tracer.span(SPANS[5]):
                        df = metric_store.read_metric_range(
                            self.spark, self.store, spec.name, grain, req["start"], req["end"])
                        out = df.columns, [tuple(r) for r in df.collect()]
                else:
                    key, out = ("refresh", req["entry"], req["day"]), None
                    target = os.path.join(self.store, spec.name, grain)
                    before = _files(target) if self.tracer.active else set()
                    facts = self.tables[spec.model].where(
                        f"to_date({spec.timestamp}) = DATE '{req['day']}'")
                    with self.tracer.span(SPANS[4]):
                        metric_store.refresh_metric_incremental(
                            self.resolve, spec, grain, facts, self.store)
                    if self.tracer.active:
                        self.files_written.append(len(_files(target) - before))
        with self.lock:
            if key in self.seen:
                self.repeats += 1
            self.seen.add(key)
            if out is not None and key not in self.captured:
                self.captured[key] = out

    def populate_store(self) -> None:
        from dbt_metrics_ingestion_script_spark.sinks import metric_store

        for entry in self.entries:
            spec = self.specs[entry["spec"]]
            metric_store.write_metric(
                self.compiler.compile(spec, entry["grain"]), self.store, spec.name, entry["grain"])

    def check(self, result) -> None:
        from dbt_metrics_ingestion_script_spark.plans.sql_oracle import oracle_sql_for
        from dbt_metrics_ingestion_script_spark.sinks import metric_store

        t0 = time.perf_counter()
        con = duckdb_views(self.ctx.truth["tables"])
        oracle_cache: dict[tuple, tuple] = {}

        def oracle(name: str, grain: str):
            if (name, grain) not in oracle_cache:
                sql = oracle_sql_for(self.specs[name], grain, self.specs)
                oracle_cache[(name, grain)] = run_sql(con, sql)
            return oracle_cache[(name, grain)]

        def compare(what: str, got, want) -> None:
            why = same_rows(*got, *want)
            self.compared += 1
            self.matched += why is None
            if not result.check(why is None, f"{what}: {why}"):
                result.fail(PHASE)

        for key, got in sorted(self.captured.items(), key=repr):
            if key[0] == "live":
                compare(f"live {key[1]}@{key[2]}", got, oracle(key[1], key[2]))
            elif key[0] == "panel":
                panel = self.panels[key[1]]
                cols, rows = got
                for name in panel["specs"]:
                    keep = [c for c in cols if c not in panel["specs"] or c == name]
                    idx = [cols.index(c) for c in keep]
                    # a group another panel metric selected reads NULL, or 0
                    # for count methods, where this metric's filter matched
                    # no rows; its own query has no such group
                    empty = (None, 0) if self.specs[name].calculation_method in (
                        "count", "count_distinct") else (None,)
                    sub = [tuple(r[i] for i in idx) for r in rows if r[cols.index(name)] not in empty]
                    compare(f"panel {key[1]} column {name}@{panel['grain']}", (keep, sub),
                            oracle(name, panel["grain"]))
            else:
                entry = self.entries[key[1]]
                cols, rows = oracle(entry["spec"], entry["grain"])
                t = cols.index("ts")
                lo, hi = (dt.date.fromisoformat(d) for d in key[2:4])
                want = [r for r in rows if lo <= r[t] <= hi]
                compare(f"store read {entry['spec']}@{entry['grain']} {key[2]}..{key[3]}",
                        got, (cols, want))
        for entry in self.entries:
            df = metric_store.read_metric(self.spark, self.store, entry["spec"], entry["grain"])
            compare(f"store contents {entry['spec']}@{entry['grain']}",
                    (df.columns, [tuple(r) for r in df.collect()]), oracle(entry["spec"], entry["grain"]))
        con.close()
        result.note(f"checked {len(self.captured)} distinct results and {len(self.entries)} store "
                    f"entries against DuckDB in {time.perf_counter() - t0:.1f} s")


def run(ctx) -> list[str]:
    result, tracer = ctx.result, ctx.tracer
    t0 = time.perf_counter()
    dash = Dashboard(ctx)
    dash.populate_store()
    result.note(f"dashboard store written in {time.perf_counter() - t0:.1f} s")

    requests = ctx.truth["requests"]
    # the traced run traces every other request of each type, so each type
    # has traced and untraced samples
    seen_ops: dict[str, int] = {}
    trace_it = []
    for req in requests:
        k = seen_ops[req["op"]] = seen_ops.get(req["op"], -1) + 1
        trace_it.append(tracer.enabled and k % 2 == 0)
    samples: list[tuple[str, bool, float, bool]] = []  # (op, traced, wall, ok)
    cursor = iter(range(len(requests)))
    cursor_lock = threading.Lock()
    errors: list[str] = []
    t_start = time.perf_counter()

    def client() -> None:
        while True:
            with cursor_lock:
                i = next(cursor, None)
            if i is None:
                return
            req, traced = requests[i], trace_it[i]
            t0 = time.perf_counter()
            try:
                with tracer.off(not traced):
                    dash.request(req)
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failed request is counted, not fatal
                ok = False
                errors.append(f"request {i} ({req['op']}) raised {type(exc).__name__}: {exc}")
            samples.append((req["op"], traced, time.perf_counter() - t0, ok))

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t_start
    for s in samples:
        result.attempt(PHASE)
        if not s[3]:
            result.fail(PHASE)
    for e in errors[:10]:
        result.note(e)
    dash.check(result)
    repeat_share = dash.repeats / max(len(samples), 1)

    def walls(*ops, traced=False):
        return [w for op, tr, w, ok in samples if op in ops and tr == traced and ok]

    # The untraced run reports the end-to-end metrics and prints the
    # timings the README's gate rule leaves out; the traced run records
    # all of them as per-layer metrics (latencies from its untraced requests).
    q = walls("live", "panel")
    tail_v, tail_label = tail(q)
    completed = len([s for s in samples if s[3]])
    latencies = {"queries_per_s": (completed / elapsed, f"{completed} requests from {CLIENTS} clients in {elapsed:.1f} s; repeat share {repeat_share:.3f}"),
                 "query_p50_s": (p50(q), f"live queries and panels, n={len(q)}"),
                 "query_tail_s": (tail_v, tail_label)}
    for name, xs in (("store_read_p50_s", walls("store_read")), ("refresh_p50_s", walls("refresh"))):
        latencies[name] = (p50(xs), f"n={len(xs)}")
    if not tracer.enabled:
        value, label = latencies.pop("queries_per_s")
        result.metric("requests_per_s", value, "1/s", f"queries_per_s: {label}")
        for name, (value, label) in latencies.items():
            result.note(f"{name} = {value:.6g} s ({label}; not an end-to-end metric, see README)")
        result.metric("answer_recall_frac", dash.matched / dash.compared, "frac",
                      f"{dash.matched} of {dash.compared} results equal the DuckDB oracle's")
        return END_TO_END

    records = ctx.span_records()
    layer = per_span_medians(records, SPANS)
    layer.update({name: value for name, (value, _) in latencies.items()})
    layer["sinks.metric_store.files_written"] = statistics.median(dash.files_written) if dash.files_written else 0
    layer["dashboard.repeat_share"] = repeat_share
    on, off = walls("live", traced=True), walls("live")
    layer["metric_dashboard.tracing_overhead_frac"] = (
        statistics.median(on) / statistics.median(off) - 1.0 if on and off else 0.0)
    return ctx.layer_metrics(layer)

