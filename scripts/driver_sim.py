"""Local replica of the per-round driver: entry() smoke at sf0.001 plus
the full 50-query differential oracle check at sf0.01.  Prints one
status line per query and a final summary; exit code 1 on any failure.

Usage: python scripts/driver_sim.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

from dbt_metrics_ingestion_script_spark.session import get_spark  # noqa: E402
from tests.oracle import assert_matches_oracle  # noqa: E402

import __spark_entry__ as E  # noqa: E402


def _provenance_line(only: set[str]) -> str:
    """One header line binding this run to the code + registry it ran
    against (VERDICT r13 item 7): the git SHA it was generated at, a
    dirty flag, and a digest of the sorted driver-registered query
    names.  check_evidence.py recomputes the digest at HEAD and fails
    on a mismatch, so a committed DRIVERSIM can never silently vouch
    for a registry it did not actually run."""
    import hashlib
    import subprocess

    E.queries()  # force registration before reading the registry
    from dbt_metrics_ingestion_script_spark.registry import REGISTRY

    names = sorted(n for n, qd in REGISTRY.items() if qd.driver)
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()[:16]
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd="/root/repo", capture_output=True, text=True, check=True,
        ).stdout.strip()
        dirty = bool(
            subprocess.run(
                ["git", "status", "--porcelain"],
                cwd="/root/repo", capture_output=True, text=True,
                check=True,
            ).stdout.strip()
        )
    except Exception:  # noqa: BLE001
        sha, dirty = "unknown", True
    return (
        f"provenance: git_sha={sha} dirty={int(dirty)} "
        f"registry_digest={digest} n={len(names)} subset={int(bool(only))}"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    print(_provenance_line(only), flush=True)
    # shuffle-partition count is overridable so committed evidence can
    # also cover the bench's execution config (AQE-coalesced 32), not
    # only the sf0.01-sized default of 8 (VERDICT r6 nit 2)
    shuffle = int(os.environ.get("DRIVER_SIM_SHUFFLE", "8"))
    spark = get_spark(app_name="driver_sim", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    print(
        f"config: sf_dir={sf_dir} shuffle_partitions={shuffle} "
        f"aqe={spark.conf.get('spark.sql.adaptive.enabled')}",
        flush=True,
    )

    rows = E.entry(spark).collect()
    print(f"entry: {len(rows)} rows OK", flush=True)

    queries, oracles = E.queries(), E.oracle_sql()
    # a query named on the command line but registered driver=False
    # (no oracle) still runs, rows-only
    from dbt_metrics_ingestion_script_spark.registry import REGISTRY

    for name in sorted((only - queries.keys()) & REGISTRY.keys()):
        queries[name] = REGISTRY[name].fn
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                assert_matches_oracle(df, oracles[name], sf_dir)
                status = "match"
            else:
                n = df.count()
                status = f"rows-only ({n})"
            print(f"PASS {name}: {status} [{time.perf_counter() - t0:.1f}s]", flush=True)
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: {exc}", flush=True)
            traceback.print_exc()
    print(f"summary: {len(failed)} failed of {len(only) or len(queries)}")
    if failed:
        print("failed:", failed)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
