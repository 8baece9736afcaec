"""corpus_curation: the EXT dedup/similarity operators on an LLM corpus.

One client runs one curation pass over sf0.1-shaped documents and
embeddings with seeded injected duplicates:

    hashed_linear_score -> exact_dedup_survivors -> near_dedup_minhash
    embedding_near_pairs -> duplicate_clusters_star -> materialize_ivf_pq_index

then a serving loop that alternates `ivf_pq_batch_serve` batches with
`ivf_pq_index_upsert` of seeded new vectors into the same store, until
--seconds have passed since the pass began (at least one batch).  After
the loop, untimed, the survivors are checked against the injected
duplicate ground truth and every ANN answer against brute-force cosine
in numpy.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pyarrow.dataset as pads

from generators import QUERY_BATCH, UPSERT_BATCH
from harness import PROCESS_START, p50
from tracing import per_span_medians

PHASE = "corpus_curation"
SPANS = [
    "operators.text.hashed_linear_score",
    "operators.dedup.exact_dedup_survivors",
    "operators.dedup.near_dedup_minhash",
    "operators.dedup.embedding_near_pairs",
    "operators.dedup.duplicate_clusters_star",
    "operators.similarity.materialize_ivf_pq_index",
    "operators.similarity.ivf_pq_batch_serve",
    "operators.similarity.ivf_pq_index_upsert",
]
SPILL_SPANS = SPANS[2:6]
END_TO_END = ["setup_s", "requests_per_s", "batch_yield_frac", "answer_recall_frac"]
QUALITY_THRESHOLD = -0.25  # hashed_linear_score keep gate
COSINE_THRESHOLD = 0.6  # semantic duplicate: cosine >= this
K, SHORTLIST, N_PROBE = 10, 80, 4
PQ = {"m": 8, "dim": 64}


def planned(seconds: float, traced: bool) -> int:
    """Serving batches to generate: more than the loop can run in its time
    (a serve and an upsert take over a second)."""
    return math.ceil(seconds) + 3


class Curation:
    def __init__(self, ctx) -> None:
        self.ctx, self.spark, self.tracer = ctx, ctx.spark, ctx.tracer
        self.docs = self.spark.read.parquet(ctx.truth["documents"])
        self.emb = self.spark.read.parquet(ctx.truth["embeddings"])
        self.out = os.path.join(ctx.work, "out")
        self.index = os.path.join(self.out, "ivf_pq_index")
        self.indexed_ids: list[int] = []  # vec ids the store holds
        self.upserted = 0

    def _stage(self, name: str, make):
        """One operator call in its span.  The pass materializes every
        stage's output (localCheckpoint), as a staged curation pipeline
        does, so each stage's jobs run inside its own span and the traced
        and untraced passes run the same jobs."""
        with self.tracer.span(name):
            return make().localCheckpoint(eager=True)

    def curation_pass(self) -> None:
        from dbt_metrics_ingestion_script_spark.operators import dedup, similarity, text
        from pyspark.sql import functions as F

        scored = self._stage(SPANS[0], lambda: text.hashed_linear_score(
            self.docs, extra_cols=("text",), threshold=QUALITY_THRESHOLD))
        kept = scored.where("keep").select("doc_id", "text")
        self.kept = kept
        exact = self._stage(SPANS[1], lambda: dedup.exact_dedup_survivors(kept))
        self.survivors = self._stage(SPANS[2], lambda: dedup.near_dedup_minhash(exact))

        pairs = self._stage(SPANS[3], lambda: dedup.embedding_near_pairs(
            self.emb, threshold=COSINE_THRESHOLD))
        clusters = self._stage(SPANS[4], lambda: dedup.duplicate_clusters_star(pairs))
        drops = clusters.where(F.col("cluster_id") != F.col("doc_id")).select(
            F.col("doc_id").alias("vec_id"))
        survivors = self.emb.join(drops, "vec_id", "left_anti")
        with self.tracer.span(SPANS[5]):
            similarity.materialize_ivf_pq_index(
                survivors, self.index, n_centroids=16, n_codes=16, **PQ)

    def serve(self, batch: int) -> list[tuple]:
        from dbt_metrics_ingestion_script_spark.operators import similarity

        qs = self.ctx.truth["queries"][batch * QUERY_BATCH:(batch + 1) * QUERY_BATCH]
        with self.tracer.span(SPANS[6]):
            queries = self.spark.createDataFrame(
                [(batch * QUERY_BATCH + i, v.tolist()) for i, v in enumerate(qs)],
                "query_id long, embedding array<float>")
            idx = similarity.read_ivf_pq_index(self.spark, self.index)
            rows = similarity.ivf_pq_batch_serve(
                idx["assignments"], idx["centroids"], idx["codes"].select("id", "subspace", "code"),
                idx["codebooks"], queries, k=K, shortlist=SHORTLIST, n_probe=N_PROBE,
                round_digits=6, **PQ).collect()
        return [tuple(r) for r in rows]

    def upsert(self) -> None:
        from dbt_metrics_ingestion_script_spark.operators import similarity

        truth = self.ctx.truth
        lo = self.upserted * UPSERT_BATCH
        vecs = truth["upserts"][lo:lo + UPSERT_BATCH]
        base = truth["upsert_id_base"] + lo
        with self.tracer.span(SPANS[7]):
            new = self.spark.createDataFrame(
                [(base + i, v.tolist()) for i, v in enumerate(vecs)],
                "vec_id long, embedding array<float>")
            similarity.ivf_pq_index_upsert(new, self.index, **PQ)
        self.upserted += 1

    def store_ids(self) -> np.ndarray:
        from dbt_metrics_ingestion_script_spark.operators.similarity import resolve_ivf_pq_store

        part = os.path.join(resolve_ivf_pq_store(self.index), "assignments")
        return pads.dataset(part, format="parquet", partitioning="hive").to_table(columns=["id"])["id"].to_numpy()


def _check_curation(cur: Curation, result) -> float:
    """Survivors against the injected duplicates; returns dup_removed_frac."""
    truth = cur.ctx.truth
    survivors = {r[0] for r in cur.survivors.select("doc_id").collect()}
    kept = {r[0] for r in cur.kept.select("doc_id").collect()}
    injected = set(truth["exact_dups"]) | set(truth["near_dups"])
    removed = kept - survivors
    ok = result.check(removed <= injected,
                      f"dedup removed {len(removed - injected)} documents that are not injected duplicates")
    missed_exact = [d for d, src in truth["exact_dups"].items() if d in kept and src in kept and d in survivors]
    ok &= result.check(not missed_exact, f"{len(missed_exact)} exact copies survived exact dedup")
    doc_dups = [d for d in injected if d in kept]
    doc_removed = sum(1 for d in doc_dups if d not in survivors)

    vecs = truth["vectors"]
    indexed = set(cur.store_ids().tolist())
    vec_dups = truth["vector_dups"]
    vec_removed = sum(1 for d in vec_dups if d not in indexed)
    dropped = [int(i) for i in range(len(vecs)) if i not in indexed]
    # every dropped vector must have a verified semantic duplicate
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    if dropped:
        best = (unit[dropped] @ unit.T)
        best[np.arange(len(dropped)), dropped] = -1.0
        lonely = int((best.max(axis=1) < COSINE_THRESHOLD - 1e-6).sum())
        ok &= result.check(lonely == 0, f"{lonely} dropped vectors have no neighbour at cosine >= {COSINE_THRESHOLD}")
    if not ok:
        result.fail(PHASE)
    result.note(
        f"duplicates removed: documents {doc_removed}/{len(doc_dups)} (exact {len(truth['exact_dups'])}, "
        f"near {len(truth['near_dups'])} injected), vectors {vec_removed}/{len(vec_dups)}; "
        f"duplicate share of the input {(len(injected) + len(vec_dups)) / (truth['n_docs'] + len(vecs)):.3f}")
    cur.indexed_ids = sorted(indexed)
    return (doc_removed + vec_removed) / (len(doc_dups) + len(vec_dups))


def _check_serving(cur: Curation, answers: list[tuple[int, int, list[tuple]]], result) -> float:
    """ANN answers against brute-force cosine; returns mean recall@10."""
    truth = cur.ctx.truth
    vecs = np.concatenate([truth["vectors"], truth["upserts"]]).astype(np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    base = np.array(cur.indexed_ids)
    recalls, bad = [], 0
    for batch, n_upserted, rows in answers:
        ids = np.concatenate([base, truth["upsert_id_base"] + np.arange(n_upserted * UPSERT_BATCH)])
        members = set(ids.tolist())
        by_q: dict[int, list[tuple[int, float]]] = {}
        for qid, vid, sim in rows:
            by_q.setdefault(qid, []).append((vid, sim))
        for qi in range(QUERY_BATCH):
            qid = batch * QUERY_BATCH + qi
            q = truth["queries"][qid].astype(np.float64)
            q /= np.linalg.norm(q)
            sims = unit[ids] @ q
            exact = set(ids[np.argsort(-sims, kind="stable")[:K]].tolist())
            got = by_q.get(qid, [])
            bad += (len(got) != K or any(v not in members for v, _ in got)
                    or any(abs(s - float(unit[v] @ q)) > 1e-5 for v, s in got))
            recalls.append(len(exact & {v for v, _ in got}) / K)
    if not result.check(bad == 0, f"{bad} ANN answers with a wrong size, unknown id or wrong cosine"):
        result.fail(PHASE)
    return statistics.mean(recalls)


def run(ctx) -> list[str]:
    result, tracer = ctx.result, ctx.tracer
    setup_s = time.time() - PROCESS_START - ctx.gen_s
    result.attempt(PHASE)
    t_pass = time.perf_counter()
    cur = Curation(ctx)
    cur.curation_pass()
    curation_s = time.perf_counter() - t_pass
    dup_removed = _check_curation(cur, result)

    # No untimed warm-up: the first batch is the store's first read and
    # write.  The traced run makes at least three batches and traces the
    # middle one, so its overhead compares two batches that follow another.
    answers: list[tuple[int, int, list[tuple]]] = []
    walls: dict[tuple[str, bool], list[tuple[int, float]]] = {
        (op, tr): [] for op in ("serve", "upsert") for tr in (False, True)}
    n_batches = len(ctx.truth["queries"]) // QUERY_BATCH
    batch = 0
    t_end = t_pass + ctx.seconds
    min_batches = 3 if tracer.enabled else 1
    while (time.perf_counter() < t_end or batch < min_batches) and batch < n_batches:
        traced = tracer.enabled and batch % 2 == 1
        with tracer.off(not traced):
            for op in ("serve", "upsert"):
                result.attempt(PHASE)
                t0 = time.perf_counter()
                try:
                    if op == "serve":
                        answers.append((batch, cur.upserted, cur.serve(batch)))
                    else:
                        cur.upsert()
                except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
                    result.fail(PHASE)
                    result.note(f"{op} {batch} raised {type(exc).__name__}: {exc}")
                    continue
                walls[(op, traced)].append((batch, time.perf_counter() - t0))
        batch += 1
    if batch == n_batches:
        result.note("ran out of generated query batches before the measuring time ended")
    recall = _check_serving(cur, answers, result)

    # The untraced run reports the end-to-end metrics and prints the
    # timings the README's gate rule leaves out; the traced run records
    # all of them as per-layer metrics (serving from its untraced batches).
    serve = [w for _, w in walls[("serve", False)]]
    upsert = [w for _, w in walls[("upsert", False)]]
    latencies = {"curation_s": (curation_s, "one pass, input files to survivors plus a materialized index"),
                 "serve_p50_s": (p50(serve), f"batches of {QUERY_BATCH} queries, n={len(serve)}"),
                 "upsert_p50_s": (p50(upsert), f"batches of {UPSERT_BATCH} vectors, n={len(upsert)}")}
    if not tracer.enabled:
        result.metric("setup_s", setup_s, "s", f"process start to the curation pass, input generation ({ctx.gen_s:.2f} s) excluded")
        result.metric("requests_per_s", QUERY_BATCH * len(serve) / sum(serve), "1/s",
                      f"ANN queries answered per second of serving, {len(serve)} batch(es) of {QUERY_BATCH}")
        for name, (value, label) in latencies.items():
            result.note(f"{name} = {value:.6g} s ({label}; not an end-to-end metric, see README)")
        result.metric("batch_yield_frac", dup_removed, "frac", "dup_removed_frac: injected duplicates removed")
        result.metric("answer_recall_frac", recall, "frac",
                      f"ann_recall_at_10: {len(answers) * QUERY_BATCH} queries against brute-force cosine")
        return END_TO_END

    records = ctx.span_records()
    layer = per_span_medians(records, SPANS)
    for name in SPILL_SPANS:
        layer[f"{name}.spill_bytes"] = sum(r["spill_bytes"] for r in records if r["name"] == name)
    layer.update({name: value for name, (value, _) in latencies.items()})
    layer["ann_recall_at_10"] = recall
    layer["dup_removed_frac"] = dup_removed
    layer["similarity.store_files"] = sum(len(fs) for _, _, fs in os.walk(cur.index))
    on = [w for _, w in walls[("serve", True)]]
    off = [w for b, w in walls[("serve", False)] if b > 0]  # not the first batch
    layer["corpus_curation.tracing_overhead_frac"] = (
        statistics.median(on) / statistics.median(off) - 1.0 if on and off else 0.0)
    return ctx.layer_metrics(layer)
