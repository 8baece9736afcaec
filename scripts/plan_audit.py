"""Plan audit over the full registry: per-query table-scan counts,
shuffle (non-broadcast Exchange) counts, broadcast counts, and Python
eval presence, printed as a table.

Usage: python scripts/plan_audit.py [sf_dir] [query ...]

(query names, if given, restrict the audit to those queries)

This is the reproducible form of the round-6 scan-count audit: run it
after plan-affecting changes and diff the committed PLANAUDIT_r{N}.txt.
Multi-scan queries are expected in four documented classes (see
SCALE.md "Scan-count audit"): inherent self-joins, iterative operators
(persisted at runtime), action-free 1-row totals, and inline index
derivations whose production form reads a materialized index.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from dbt_metrics_ingestion_script_spark.session import get_spark  # noqa: E402

import __spark_entry__ as E  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="plan_audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    print(f"{'query':45s} {'scans':28s} shuf bcast pyeval ckpt")
    queries = E.queries()
    # a query named on the command line but registered driver=False
    # is audited too
    from dbt_metrics_ingestion_script_spark.registry import REGISTRY

    for name in sorted((only - queries.keys()) & REGISTRY.keys()):
        queries[name] = REGISTRY[name].fn
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001
            print(f"{name:45s} ERROR {exc}")
            continue
        scans = ",".join(
            f"{t}x{plan.count(t + '.parquet')}"
            for t in TABLES
            if plan.count(t + ".parquet")
        )
        shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
        bcast = plan.count("BroadcastExchange")
        pyeval = "YES" if "BatchEvalPython" in plan else "-"
        arrow = "arrow" if "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan else ""
        # checkpoint leaves (Scan ExistingRDD): each HIDES the scans of
        # the job that materializes it -- counted so the scan budget is
        # never understated by lineage truncation (round-10 advice)
        ckpt = plan.count("Scan ExistingRDD")
        print(
            f"{name:45s} {scans or '-':28s} {shuffles:4d} {bcast:5d} "
            f"{pyeval:>6s} {ckpt:4d} {arrow}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
