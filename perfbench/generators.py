"""Seeded input generators, one per workload.

Pure Python, numpy and pyarrow: no Spark is started here, and the engine
only ever sees the files these functions write.  Each generator writes
every input of one run into `out_dir` and returns the ground truth the
workload checks the engine's outputs against.  The same seed always
gives the same files.

Run one by hand to look at its inputs:

    python3 perfbench/generators.py --workload corpus_curation --seed 3 --out gen_out
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GLOSSARY_ROOT = "dbt_metrics"

# ---------------------------------------------------------------------------
# manifest_ingest
# ---------------------------------------------------------------------------

# the reference's published ladder (TESTING_GUIDE 10/50/100/500), plus a
# 5 % share of 5,000-metric manifests for the tail
LADDER = (10, 50, 100, 500)
BIG_MANIFEST, BIG_SHARE = 5000, 0.05
# the first (cold) ingest always reads a manifest of this size, so
# ingest_cold_s compares like with like across seeds
COLD_MANIFEST = 100
MALFORMED_SHARE = 0.02  # no name: the pipeline must quarantine the record
UNKNOWN_MODEL_SHARE = 0.05  # depends on a model the manifest lacks
METRIC_TYPES = ("simple", "ratio", "derived", "cumulative")
CATEGORIES = ("Finance/Revenue", "Finance/Cost", "Growth", "Product/Engagement", "Ops")
PACKAGE = "shop"
MODELS = {
    f"model.{PACKAGE}.fct_orders": ("fct_orders", "analytics", "marts", "orders_final"),
    f"model.{PACKAGE}.fct_lineitem": ("fct_lineitem", "analytics", "marts", None),
    f"model.{PACKAGE}.fct_events": ("fct_events", "analytics", "events", None),
    f"model.{PACKAGE}.dim_customers": ("dim_customers", "analytics", "marts", None),
}
SOURCES = {
    f"source.{PACKAGE}.raw.orders": ("orders", "raw", "landing", "orders_v2"),
}


def _metric_record(rng: np.random.Generator, rev: int, i: int) -> tuple[dict, dict]:
    """One manifest metric record plus its expected pipeline outcome."""
    name = f"r{rev}_metric_{i:05d}"
    mtype = METRIC_TYPES[int(rng.integers(len(METRIC_TYPES)))]
    category = CATEGORIES[int(rng.integers(len(CATEGORIES)))] if rng.random() < 0.8 else None
    parents = [list(MODELS)[int(rng.integers(3))]]
    if rng.random() < 0.3:
        parents.append(list(SOURCES)[0])
    unknown = rng.random() < UNKNOWN_MODEL_SHARE
    if unknown:
        parents.append(f"model.{PACKAGE}.retired_model_{int(rng.integers(1000))}")
    malformed = rng.random() < MALFORMED_SHARE
    label = f"Metric {rev}.{i}" if rng.random() < 0.7 else ""
    record = {
        "name": name,
        "label": label,
        "description": f"{mtype} metric {i} of revision {rev}" if rng.random() < 0.9 else "",
        "type": mtype,
        "calculation_method": ["sum", "count", "count_distinct", "average"][int(rng.integers(4))],
        "expression": "order_total",
        "timestamp": "order_date",
        "time_grains": ["day", "week", "month"][: 1 + int(rng.integers(3))],
        "dimensions": ["customer_id"] if rng.random() < 0.3 else [],
        "filters": (
            [{"field": "order_total", "operator": ">", "value": str(int(rng.integers(100)))}]
            if rng.random() < 0.3
            else []
        ),
        "metrics": [f"r{rev}_metric_{max(i - 1, 0):05d}"] if mtype == "derived" else [],
        "depends_on": {"nodes": parents, "macros": []},
        "meta": {"owner": f"team_{int(rng.integers(5))}"},
        "tags": ["perfbench"],
        "package_name": PACKAGE,
        "path": f"models/metrics/{name}.yml",
    }
    if category is not None:
        record["meta"]["datahub_glossary_category"] = category
    if mtype == "ratio":
        record["numerator"] = "revenue"
        record["denominator"] = "orders"
    if malformed:
        del record["name"]
    expected = {
        "valid": not malformed,
        "name": name,
        "display_name": label or name,
        "category": category or "Uncategorized",
        "unresolved": int(unknown),
    }
    return record, expected


def manifest_document(rng: np.random.Generator, rev: int, n_metrics: int) -> tuple[dict, dict]:
    """A dbt manifest with n_metrics metrics and its expected outcome."""
    metrics, expect = {}, []
    for i in range(n_metrics):
        record, e = _metric_record(rng, rev, i)
        metrics[f"metric.{PACKAGE}.r{rev}_metric_{i:05d}"] = record
        expect.append(e)
    nodes = {
        uid: {
            "name": n, "resource_type": "model", "package_name": PACKAGE,
            "database": db, "schema": sch, "alias": alias,
            "relation_name": f"{db}.{sch}.{alias or n}",
        }
        for uid, (n, db, sch, alias) in MODELS.items()
    }
    sources = {
        uid: {"name": n, "resource_type": "source", "database": db, "schema": sch, "identifier": ident}
        for uid, (n, db, sch, ident) in SOURCES.items()
    }
    doc = {
        "metadata": {"dbt_version": "1.7.0", "project_name": PACKAGE},
        "metrics": metrics,
        "nodes": nodes,
        "sources": sources,
        "semantic_models": {},
        "parent_map": {uid: rec["depends_on"]["nodes"] for uid, rec in metrics.items()},
        "child_map": {},
    }
    return doc, _expected_outcome(expect)


def _expected_outcome(expect: list[dict]) -> dict:
    valid = [e for e in expect if e["valid"]]
    cats = sorted({e["category"] for e in valid})
    root = f"urn:li:glossaryNode:{GLOSSARY_ROOT}"
    node_urns = [root] + [
        f"urn:li:glossaryNode:{GLOSSARY_ROOT}.{c.replace('/', '.')}" for c in cats
    ]
    terms = {
        f"urn:li:glossaryTerm:{GLOSSARY_ROOT}.{e['category'].replace('/', '.')}.{e['name']}":
            e["display_name"]
        for e in valid
    }
    return {
        "n_metrics": len(valid),
        "n_nodes": len(node_urns),
        "n_quarantined": len(expect) - len(valid),
        "n_unresolved_lineage": sum(e["unresolved"] for e in valid),
        "node_urns": node_urns,
        "terms": terms,
    }


def _revision_sizes(n: int) -> list[int]:
    """Warm revision sizes, the same for every seed so that runs compare
    like with like: each ladder size twice in a row (a traced run traces
    one of each pair and not the other), in a fixed order, with a pair of
    5,000-metric manifests closing every block of 40 revisions."""
    per_block = round(2 / BIG_SHARE)
    ladder = (100, 500, 50, 10)
    sizes = []
    for k in range(0, n, 2):
        pair = k % per_block // 2
        size = BIG_MANIFEST if pair == per_block // 2 - 1 else ladder[pair % len(ladder)]
        sizes += [size, size]
    return sizes[:n]


def gen_manifest_ingest(seed: int, out_dir: str, n_warm: int) -> dict:
    """The cold revision (COLD_MANIFEST metrics) and n_warm more, one file
    each; plus a probe revision used to rewrite an already ingested path
    (the stale-manifest probe)."""
    rng = np.random.default_rng([seed, 1])
    revisions = []
    for rev, n in enumerate([COLD_MANIFEST] + _revision_sizes(n_warm)):
        doc, expected = manifest_document(rng, rev, n)
        path = os.path.join(out_dir, f"manifest_r{rev:04d}.json")
        with open(path, "w") as f:
            json.dump(doc, f)
        revisions.append({"path": path, "n_records": n, "expected": expected})
    # the probe rewrites revision 0's path with a different document
    probe_n = revisions[0]["n_records"] + 40
    doc, expected = manifest_document(rng, 0, probe_n)
    probe_path = os.path.join(out_dir, "probe_rewrite.json")
    with open(probe_path, "w") as f:
        json.dump(doc, f)
    return {
        "revisions": revisions,
        "probe": {"path": probe_path, "n_records": probe_n, "expected": expected},
    }


def post_rejected(seed: int, body: bytes, attempt: int) -> bool:
    """The mock endpoint's seeded rejection rule: the first attempt of a
    seeded 1 % of bodies (a hash of body and seed) is rejected, and a
    retry of the same body (attempt >= 1) is accepted."""
    h = hashlib.sha256(seed.to_bytes(8, "little") + body).digest()
    return attempt == 0 and int.from_bytes(h[:8], "little") % 100 == 0


# ---------------------------------------------------------------------------
# metric_dashboard
# ---------------------------------------------------------------------------

N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000  # sf0.1
N_SPECS = 200
DASHBOARD_POOL_SEED = 20240101
ZIPF_S = 1.1
OP_MIX = (("live", 0.7), ("panel", 0.1), ("store_read", 0.1), ("refresh", 0.1))  # shares
BLOCK = 10  # requests per block; every block holds the OP_MIX exactly
GRAINS = ("day", "week", "month", "quarter", "year")
STORE_GRAINS = ("month", "quarter", "year")

# model -> (timestamp, [(method, expression)], [dims], [filters])
MODEL_SHAPES = {
    "orders": (
        "o_orderdate",
        [("sum", "o_totalprice"), ("average", "o_totalprice"), ("count", "*"),
         ("count_distinct", "o_custkey"), ("max", "o_totalprice"), ("min", "o_totalprice")],
        ["o_orderstatus", "o_orderpriority"],
        [("o_orderstatus", "=", "F"), ("o_orderstatus", "!=", "P"),
         ("o_totalprice", ">", "100000"), ("o_totalprice", "<=", "250000"),
         ("o_orderpriority", "=", "1-URGENT")],
    ),
    "lineitem": (
        "l_shipdate",
        [("sum", "l_extendedprice"), ("sum", "l_quantity"), ("average", "l_discount"),
         ("count", "*"), ("count_distinct", "l_suppkey"), ("max", "l_extendedprice")],
        ["l_returnflag", "l_linestatus"],
        [("l_returnflag", "!=", "R"), ("l_quantity", ">=", "10"),
         ("l_linestatus", "=", "O"), ("l_discount", "<", "0.05")],
    ),
    "events": (
        "ts",
        [("sum", "value"), ("count", "*"), ("count_distinct", "user_id"),
         ("average", "value")],
        ["event_type"],
        [("event_type", "=", "purchase"), ("event_type", "!=", "error"),
         ("value", ">", "100")],
    ),
}


# model -> (first day, days covered) of its timestamp column
MODEL_SPAN = {"orders": ("1995-01-01", 2405), "lineitem": ("1995-01-02", 2499),
              "events": ("2024-01-01", 30)}


def _ts_column(rng, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    if days > 60:  # date-valued timestamps, like TPC-H order dates
        offs = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        offs = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _write_fact_tables(rng: np.random.Generator, out_dir: str) -> dict[str, str]:
    choice = lambda vals, n: pa.array(np.array(vals)[rng.integers(0, len(vals), n)])  # noqa: E731
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15_000, N_ORDERS)),
        "o_orderstatus": choice(["O", "F", "P"], N_ORDERS),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, N_ORDERS), 2)),
        "o_orderdate": _ts_column(rng, N_ORDERS, *MODEL_SPAN["orders"]),
        "o_orderpriority": choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
        ),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM)),
        "l_partkey": pa.array(rng.integers(0, 20_000, N_LINEITEM)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, N_LINEITEM)),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEM).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, N_LINEITEM), 2)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": choice(["N", "A", "R"], N_LINEITEM),
        "l_linestatus": choice(["O", "F"], N_LINEITEM),
        "l_shipdate": _ts_column(rng, N_LINEITEM, *MODEL_SPAN["lineitem"]),
    })
    events = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": _ts_column(rng, N_EVENTS, *MODEL_SPAN["events"]),
        "user_id": pa.array(rng.integers(0, 1_500, N_EVENTS)),
        "event_type": choice(["view", "click", "purchase", "signup", "error"], N_EVENTS),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })
    paths = {}
    for name, table in (("orders", orders), ("lineitem", lineitem), ("events", events)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def _simple_spec(rng, name: str, model: str, dims: list[str]) -> dict:
    ts, measures, _, filters = MODEL_SHAPES[model]
    method, expr = measures[int(rng.integers(len(measures)))]
    n_filters = int(rng.choice([0, 1, 2], p=[0.4, 0.4, 0.2]))
    picked = rng.choice(len(filters), n_filters, replace=False)
    return {
        "name": name, "metric_type": "simple", "calculation_method": method,
        "expression": expr, "model": model, "timestamp": ts, "dimensions": dims,
        "filters": [dict(zip(("field", "operator", "value"), filters[int(j)])) for j in picked],
    }


def _spec_pool(rng: np.random.Generator) -> list[dict]:
    """~200 specs of the four types oracle_sql_for renders.  Simple specs
    come in (model, dims) families so panels can share one scan."""
    specs: list[dict] = []
    simple_by_family: dict[tuple, list[dict]] = {}
    while len(specs) < N_SPECS:
        k = len(specs)
        model = list(MODEL_SHAPES)[int(rng.integers(len(MODEL_SHAPES)))]
        ts, measures, dims_pool, _ = MODEL_SHAPES[model]
        dims = [dims_pool[int(rng.integers(len(dims_pool)))]] if rng.random() < 0.4 else []
        kind = rng.choice(METRIC_TYPES, p=[0.55, 0.15, 0.15, 0.15])
        name = f"m{k:03d}_{kind}"
        family = simple_by_family.setdefault((model, tuple(dims)), [])
        if kind == "simple" or (kind == "derived" and len(family) < 2):
            spec = _simple_spec(rng, f"m{k:03d}_simple", model, dims)
            family.append(spec)
        elif kind == "ratio":
            num = _simple_spec(rng, f"{name}_num", model, dims)
            den = _simple_spec(rng, f"{name}_den", model, dims)
            num["calculation_method"], den["calculation_method"] = "sum", "count"
            num["expression"] = measures[0][1]
            den["expression"], den["filters"] = "*", []
            spec = {"name": name, "metric_type": "ratio", "model": model, "timestamp": ts,
                    "dimensions": dims, "numerator": num, "denominator": den}
        elif kind == "cumulative":
            spec = _simple_spec(rng, name, model, dims)
            spec["metric_type"] = "cumulative"
            spec["calculation_method"] = ("sum", "count")[int(rng.integers(2))]
            if spec["calculation_method"] == "sum":
                spec["expression"] = measures[0][1]
            else:
                spec["expression"] = "*"
            spec["reset_grain"] = ("year", None)[int(rng.integers(2))]
        else:  # derived over two simple specs of the same family
            a, b = rng.choice(len(family), 2, replace=False)
            ia, ib = family[int(a)]["name"], family[int(b)]["name"]
            # no division: ANSI mode raises on a zero divisor
            op = ("+", "-")[int(rng.integers(2))]
            spec = {"name": name, "metric_type": "derived", "model": model, "timestamp": ts,
                    "dimensions": dims, "expression": f"{ia} {op} {ib}",
                    "input_metrics": [ia, ib]}
        specs.append(spec)
    return specs


def _panels(rng, specs: list[dict], n: int) -> list[dict]:
    families: dict[tuple, list[str]] = {}
    for s in specs:
        if s["metric_type"] == "simple":
            families.setdefault((s["model"], tuple(s["dimensions"])), []).append(s["name"])
    usable = sorted((k, v) for k, v in families.items() if len(v) >= 4)
    panels = []
    for _ in range(n):
        _, names = usable[int(rng.integers(len(usable)))]
        size = int(rng.integers(4, min(8, len(names)) + 1))
        picked = sorted(rng.choice(len(names), size, replace=False))
        panels.append({"specs": [names[int(j)] for j in picked],
                       "grain": GRAINS[int(rng.integers(1, len(GRAINS)))]})
    return panels


def gen_metric_dashboard(seed: int, out_dir: str, n_requests: int) -> dict:
    """sf0.1 orders/lineitem/events, a fixed spec pool, store entries and
    panels, and a script of n_requests (rounded up to whole blocks)."""
    rng = np.random.default_rng([seed, 2])
    tables = _write_fact_tables(rng, out_dir)
    # The spec pool, its popularity, the store entries, the panels and the
    # content and order of every request block are the workload's
    # definition and do not vary with the seed; a seed draws the data, the
    # store-read ranges and the refreshed days.  So every run makes the
    # same requests in the same order, and the run-to-run spread of the
    # latencies is the engine's and the host's, not the traffic mix's
    # (a read waits for a refresh of the same store entry, so the order
    # alone moves the throughput).
    pool_rng = np.random.default_rng(DASHBOARD_POOL_SEED)
    specs = _spec_pool(pool_rng)
    # Zipf popularity; the popularity ranks take the models in turn, so
    # the hot set spans the three fact tables alike
    by_model = {m: list(pool_rng.permutation([i for i, s in enumerate(specs) if s["model"] == m]))
                for m in MODEL_SHAPES}
    order = [int(lst[k]) for k in range(len(specs)) for lst in by_model.values() if k < len(lst)]
    weights = 1.0 / np.power(np.arange(1, len(specs) + 1), ZIPF_S)
    popularity = np.empty(len(specs))
    popularity[order] = weights / weights.sum()
    # one store entry per model, each a spec refresh_metric_incremental takes
    store = []
    for m in MODEL_SHAPES:
        refreshable = [
            s["name"] for s in specs if s["model"] == m and (
                s["metric_type"] in ("simple", "ratio")
                or (s["metric_type"] == "cumulative" and s.get("reset_grain") == "year"))
        ]
        store.append({"spec": refreshable[int(pool_rng.integers(len(refreshable)))],
                      "model": m, "grain": STORE_GRAINS[int(pool_rng.integers(len(STORE_GRAINS)))]})
    panels = _panels(pool_rng, specs, 64)
    # every block of BLOCK requests holds the OP_MIX exactly, so even a
    # short run sees every request type; live queries take the grains in
    # turn and store requests the entries
    n_blocks = -(-n_requests // BLOCK)
    n_live = round(BLOCK * dict(OP_MIX)["live"])
    picks = pool_rng.choice(len(specs), n_blocks * n_live, p=popularity)
    grains = [g for _ in range(len(picks) // len(GRAINS) + 1) for g in pool_rng.permutation(GRAINS)]
    requests = []
    for b in range(n_blocks):
        block = [{"op": "live", "spec": specs[int(picks[b * n_live + k])]["name"],
                  "grain": str(grains[b * n_live + k])} for k in range(n_live)]
        block.append({"op": "panel", "panel": int(pool_rng.integers(len(panels)))})
        for kind in ("store_read", "refresh"):
            block.append({"op": kind, "entry": b % len(store)})
        for j in pool_rng.permutation(len(block)):
            req = block[int(j)]
            if req["op"] in ("store_read", "refresh"):
                first, days = MODEL_SPAN[store[req["entry"]]["model"]]
                day0 = dt.date.fromisoformat(first)
                if req["op"] == "store_read":
                    start = day0 + dt.timedelta(days=int(rng.integers(0, days // 2)))
                    req["start"] = start.isoformat()
                    req["end"] = (start + dt.timedelta(days=days // 3)).isoformat()
                else:
                    # the facts that "arrived": one seeded day of the model
                    req["day"] = (day0 + dt.timedelta(days=int(rng.integers(0, days)))).isoformat()
            requests.append(req)
    script = {"specs": specs, "store": store, "panels": panels, "requests": requests}
    with open(os.path.join(out_dir, "dashboard_script.json"), "w") as f:
        json.dump(script, f)
    return {"tables": tables, **script}


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

N_DOCS, N_VECS, DIM = 5000, 2000, 64  # sf0.1 documents/embeddings
DUP_SHARE = 0.05  # each of: exact copies, near copies (1-3 token edits), vector near-copies
VOCAB = (
    "a the data spark query table row column key value group sort hash join "
    "scan filter merge window stream batch line part order customer vector "
    "index fast slow big small agg plan cache shard node graph token model"
).split()
UPSERT_BATCH = 40
QUERY_BATCH = 512


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def gen_corpus_curation(seed: int, out_dir: str, n_batches: int) -> dict:
    """The sf0.1 documents/embeddings shapes with injected duplicates, and
    n_batches of serving queries and upsert vectors."""
    rng = np.random.default_rng([seed, 3])
    docs: list[tuple[int, list[str]]] = [  # (doc_id, tokens)
        (i, [VOCAB[int(j)] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 61)))])
        for i in range(N_DOCS)
    ]
    next_id = N_DOCS
    n_dup = int(DUP_SHARE * N_DOCS)
    exact, near = {}, {}
    for src in rng.choice(N_DOCS, n_dup, replace=False):
        exact[next_id] = int(src)
        docs.append((next_id, list(docs[int(src)][1])))
        next_id += 1
    for src in rng.choice(N_DOCS, n_dup, replace=False):
        toks = list(docs[int(src)][1])
        for pos in rng.choice(len(toks), int(rng.integers(1, 4)), replace=False):
            toks[int(pos)] = VOCAB[int(rng.integers(len(VOCAB)))]
        near[next_id] = int(src)
        docs.append((next_id, toks))
        next_id += 1
    langs = np.array(["en", "de", "fr", "es", "zh"])
    doc_table = pa.table({
        "doc_id": pa.array([d[0] for d in docs], type=pa.int64()),
        "text": pa.array([" ".join(d[1]) for d in docs]),
        "lang": pa.array(langs[rng.integers(0, len(langs), len(docs))]),
        "source": pa.array([f"src{d[0] % 20}" for d in docs]),
        "n_chars": pa.array([len(" ".join(d[1])) for d in docs], type=pa.int64()),
    })
    docs_path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(doc_table, docs_path)

    vecs = _unit(rng.standard_normal((N_VECS, DIM)))
    n_vdup = int(DUP_SHARE * len(vecs))
    vsrc = rng.choice(len(vecs), n_vdup, replace=False)
    copies = _unit(vecs[vsrc] + 0.02 * rng.standard_normal((n_vdup, DIM)))
    vec_near = {len(vecs) + k: int(s) for k, s in enumerate(vsrc)}
    vecs = np.concatenate([vecs, copies]).astype(np.float32)
    emb_table = pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(vecs)).astype(np.int32)),
    })
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(emb_table, emb_path)

    # serving: query batches near corpus vectors, and new vectors to upsert
    q_src = rng.choice(len(vecs), n_batches * QUERY_BATCH)
    queries = _unit(vecs[q_src] + 0.1 * rng.standard_normal((len(q_src), DIM))).astype(np.float32)
    upserts = _unit(rng.standard_normal((n_batches * UPSERT_BATCH, DIM))).astype(np.float32)
    np.save(os.path.join(out_dir, "vectors.npy"), vecs)
    np.save(os.path.join(out_dir, "queries.npy"), queries)
    np.save(os.path.join(out_dir, "upserts.npy"), upserts)
    return {
        "documents": docs_path,
        "embeddings": emb_path,
        "n_docs": len(docs),
        "exact_dups": exact,
        "near_dups": near,
        "vector_dups": vec_near,
        "vectors": vecs,
        "queries": queries,
        "upserts": upserts,
        "upsert_id_base": len(vecs),
    }


GENERATORS = {
    "manifest_ingest": gen_manifest_ingest,
    "metric_dashboard": gen_metric_dashboard,
    "corpus_curation": gen_corpus_curation,
}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--count", type=int, default=10,
                   help="warm ingests, dashboard requests or serving batches")
    a = p.parse_args()
    os.makedirs(a.out, exist_ok=True)
    truth = GENERATORS[a.workload](a.seed, a.out, a.count)
    print(json.dumps({k: v for k, v in truth.items() if isinstance(v, (str, int))}))


if __name__ == "__main__":
    main()
