"""Streaming ANN serving (streaming/ann_serve.py, VERDICT r11 item 6):
DPP does not exist in streaming plans, so the stream path must get the
same pruning through an explicit per-micro-batch probe -> isin
partition filter.  Asserted here on the REAL micro-batch plans captured
inside foreachBatch:

  1. the stored scans carry the probed cells as PartitionFilters;
  2. centroid_id never survives as a post-scan data filter;
  3. the corpus (embeddings.parquet) is absent from the serving plan;
  4. the streamed results equal the batch serve row-for-row.
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark.operators import similarity
from dbt_metrics_ingestion_script_spark.sources.tables import load_table
from dbt_metrics_ingestion_script_spark.streaming.ann_serve import (
    stream_serve_ivf_pq,
)


def _serve_stream(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    store = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(emb, store, n_centroids=8)

    qbatch = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    qdir = str(tmp_path / "qstream")
    qbatch.write.parquet(qdir)
    out_dir = str(tmp_path / "served")
    plans: list[str] = []
    sq = stream_serve_ivf_pq(
        spark.readStream.schema(qbatch.schema).parquet(qdir),
        store,
        out_dir,
        k=5,
        shortlist=20,
        n_probe=2,
        round_digits=6,
        plan_log=plans,
    )
    assert sq.awaitTermination(120), "stream did not drain"
    return emb, store, qbatch, out_dir, plans


def _meta(node, key: str) -> str:
    opt = node.metadata().get(key)
    return opt.get() if opt.isDefined() else ""


def _scan_below(node):
    """The file scan directly under `node`, looking through the
    row/codegen adapters Spark puts between an operator and its scan;
    None if the child is anything else."""
    child = node.child()
    while child.getClass().getSimpleName() in (
        "ColumnarToRowExec",
        "InputAdapter",
        "WholeStageCodegenExec",
    ):
        child = child.child()
    if child.getClass().getSimpleName() == "FileSourceScanExec":
        return child
    return None


def _is_stored_part(scan) -> bool:
    loc = _meta(scan, "Location")
    return "/assignments" in loc or "/codes" in loc


def test_stream_serve_prunes_partitions_per_batch(spark, sf_dir, tmp_path):
    emb, store, qbatch, out_dir, plans = _serve_stream(
        spark, sf_dir, tmp_path
    )
    assert plans, "no micro-batch plan captured"
    for plan in plans:
        nodes = list(similarity.plan_nodes(plan))
        scans = [
            n
            for n in nodes
            if n.getClass().getSimpleName() == "FileSourceScanExec"
        ]
        stored = [n for n in scans if _is_stored_part(n)]
        assert stored, plan.toString()
        # 1. probed cells arrive as PARTITION filters on the stored scans
        for scan in stored:
            assert "centroid_id" in _meta(scan, "PartitionFilters"), (
                plan.toString()
            )
        # 2. ... and never as a post-scan data filter: no Filter on
        # centroid_id sits directly on a stored-part scan, and no scan
        # pushes centroid_id as a data filter.  (Catalyst may propagate
        # the isin constraint onto the KB-sized probe frame; that
        # Filter reads no stored part.)
        for n in nodes:
            if n.getClass().getSimpleName() != "FilterExec":
                continue
            if "centroid_id" not in n.condition().toString():
                continue
            scan = _scan_below(n)
            assert scan is None or not _is_stored_part(scan), (
                plan.toString()
            )
        for scan in scans:
            assert "centroid_id" not in _meta(scan, "PushedFilters"), (
                plan.toString()
            )
        # 3. the serving plan never scans the corpus
        assert not [
            s for s in scans if "embeddings.parquet" in _meta(s, "Location")
        ], plan.toString()

    # 4. row parity with the batch serve over the same (unfiltered) store
    idx = similarity.read_ivf_pq_index(spark, store)
    expected = similarity.ivf_pq_batch_serve(
        idx["assignments"],
        idx["centroids"],
        idx["codes"].select("id", "subspace", "code"),
        idx["codebooks"],
        qbatch,
        k=5,
        shortlist=20,
        n_probe=2,
        round_digits=6,
    ).collect()
    served = spark.read.parquet(out_dir).collect()
    key = lambda r: (r["query_id"], r["vec_id"])  # noqa: E731
    assert sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"]) for r in served
    ) == sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"]) for r in expected
    )
    # every query in the batch got its k rows
    per_q = {}
    for r in served:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert set(per_q.values()) == {5}


@pytest.mark.slow
def test_stream_ingest_equals_batch_upsert(spark, sf_dir, tmp_path):
    """Streaming index maintenance (stream_ingest_ivf_pq): draining the
    ingest batch through MULTIPLE micro-batches must produce exactly
    the store a single batch upsert produces (order-insensitivity), and
    the ingestion must actually have been multi-batch."""
    from dbt_metrics_ingestion_script_spark.streaming.ann_serve import (
        stream_ingest_ivf_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % 5 == 4
    base, batch = emb.where(~is_batch), emb.where(is_batch)

    stream_store = str(tmp_path / "stream_store")
    batch_store = str(tmp_path / "batch_store")
    similarity.materialize_ivf_pq_index(base, stream_store, n_centroids=8)
    similarity.materialize_ivf_pq_index(base, batch_store, n_centroids=8)

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    b = batch.select("vec_id", "embedding")
    for part in (
        b.where(F.col("vec_id") % 10 == 4),
        b.where(F.col("vec_id") % 10 != 4),
    ):
        part.coalesce(1).write.mode("append").parquet(stage)
    epochs: list[int] = []
    sq = stream_ingest_ivf_pq(
        spark.readStream.schema(b.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage),
        stream_store,
        epoch_log=epochs,
    )
    assert sq.awaitTermination(120), "ingest stream did not drain"
    assert len(epochs) >= 2, epochs  # genuinely multi-batch

    similarity.ivf_pq_index_upsert(batch, batch_store)

    for part in ("assignments", "codes"):
        a = sorted(
            map(
                tuple,
                spark.read.parquet(
                    os.path.join(
                        similarity.resolve_ivf_pq_store(stream_store), part
                    )
                )
                .drop("vec")
                .collect(),
            )
        )
        c = sorted(
            map(
                tuple,
                spark.read.parquet(
                    os.path.join(
                        similarity.resolve_ivf_pq_store(batch_store), part
                    )
                )
                .drop("vec")
                .collect(),
            )
        )
        assert a == c, part
