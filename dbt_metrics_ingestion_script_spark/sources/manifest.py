"""dbt-manifest frontend: one JSON document -> typed DataFrames.

Reference behavior being re-expressed (not ported): whole-document
json.load + tolerant per-field `.get(k, default)` extraction
(/root/reference/dbt_metrics_to_datahub.py:119-150).  Here the manifest
is read once with an explicit permissive StructType (keyed sections as
MapType), each section exploded into its own DataFrame, and defaults
applied with coalesce -- so Catalyst prunes unread fields and the same
code handles arbitrarily many metrics distributed across partitions.

Scale note: a dbt manifest is a single document (MBs, not TBs) -- the
frontend cost is irrelevant; what matters is that the extracted frames
behave as ordinary (small, broadcastable) dimension tables for the
lineage joins downstream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

S = StringType()


def _struct(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


FILTER_TYPE = _struct(("field", S), ("operator", S), ("value", S))

METRIC_TYPE = _struct(
    ("name", S),
    ("label", S),
    ("description", S),
    ("type", S),
    ("calculation_method", S),
    ("expression", S),
    ("timestamp", S),
    ("time_grains", ArrayType(S)),
    ("dimensions", ArrayType(S)),
    ("filters", ArrayType(FILTER_TYPE)),
    ("metrics", ArrayType(S)),
    ("depends_on", _struct(("nodes", ArrayType(S)), ("macros", ArrayType(S)))),
    ("meta", MapType(S, S)),
    ("tags", ArrayType(S)),
    ("package_name", S),
    ("path", S),
)

NODE_TYPE = _struct(
    ("name", S),
    ("resource_type", S),
    ("package_name", S),
    ("database", S),
    ("schema", S),
    ("alias", S),
    ("relation_name", S),
)

SOURCE_TYPE = _struct(
    ("name", S),
    ("resource_type", S),
    ("database", S),
    ("schema", S),
    ("identifier", S),
)

SEMANTIC_MODEL_TYPE = _struct(
    ("name", S),
    ("description", S),
    ("model", S),
    ("dimensions", ArrayType(MapType(S, S))),
    ("measures", ArrayType(MapType(S, S))),
    ("entities", ArrayType(MapType(S, S))),
    ("meta", MapType(S, S)),
)

MANIFEST_SCHEMA = StructType(
    [
        StructField("metadata", MapType(S, S), True),
        StructField("metrics", MapType(S, METRIC_TYPE), True),
        StructField("nodes", MapType(S, NODE_TYPE), True),
        StructField("sources", MapType(S, SOURCE_TYPE), True),
        StructField("semantic_models", MapType(S, SEMANTIC_MODEL_TYPE), True),
        StructField("parent_map", MapType(S, ArrayType(S)), True),
        StructField("child_map", MapType(S, ArrayType(S)), True),
    ]
)


@dataclass
class ManifestFrames:
    """The manifest decomposed into per-section DataFrames."""

    raw: DataFrame  # one row, full document
    metrics: DataFrame
    nodes: DataFrame
    sources: DataFrame
    semantic_models: DataFrame
    parent_edges: DataFrame  # (child, parent)
    child_edges: DataFrame  # (parent, child)


def _explode_section(raw: DataFrame, section: str) -> DataFrame:
    return raw.select(
        F.explode_outer(F.col(section)).alias("unique_id", "value")
    ).filter(F.col("unique_id").isNotNull())


def _s(name: str, default: str = "") -> F.Column:
    """String field with default (mirrors `.get(k, '')` tolerance)."""
    return F.coalesce(F.col(f"value.{name}"), F.lit(default)).alias(name)


def _arr(name: str):
    return F.coalesce(F.col(f"value.{name}"), F.array().cast(ArrayType(S))).alias(name)


_MANIFEST_CACHE: dict[
    tuple[str, str], tuple[tuple[int, int] | None, "ManifestFrames"]
] = {}


def _file_stamp(path: str) -> tuple[int, int] | None:
    """(size, mtime_ns) of a local manifest file, None for a path the
    driver cannot stat (a remote URI)."""
    import os

    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns)


def load_manifest(
    spark: SparkSession, path: str, use_cache: bool = True
) -> ManifestFrames:
    """Parse a manifest into section frames; memoized per (session, path)
    and the file's (size, mtime_ns).

    A manifest is immutable metadata read by every Layer A operator in a
    run -- without memoization each query re-plans the multiLine JSON
    scan (~0.5 s of fixed driver cost per call) and every downstream
    action re-parses the document.  The section frames are persisted
    (MEMORY_ONLY, metadata-sized) so the JSON parse happens once per
    session, mirroring the reference's single json.load
    (/root/reference/dbt_metrics_to_datahub.py:119-123).

    Keyed on applicationId (stable per SparkContext), not id(spark):
    CPython can reuse a dead session's id() for a new one, which would
    hand out persisted frames bound to a stopped context.  A manifest
    rewritten at the same path changes its stat stamp (the
    `_parquet_fingerprint` rule of queries_ext), so the memo re-parses
    it and releases the old document's persisted frames instead of
    returning them."""
    key = (spark.sparkContext.applicationId, path)
    stamp = _file_stamp(path)
    if use_cache and key in _MANIFEST_CACHE:
        cached_stamp, cached = _MANIFEST_CACHE[key]
        if cached_stamp == stamp:
            return cached
        for df in _persisted(cached):
            df.unpersist()
        del _MANIFEST_CACHE[key]
    frames = _load_manifest_uncached(spark, path)
    if use_cache:
        for df in _persisted(frames):
            df.persist()
        _MANIFEST_CACHE[key] = (stamp, frames)
    return frames


def _persisted(frames: ManifestFrames) -> tuple[DataFrame, ...]:
    return (frames.metrics, frames.nodes, frames.sources,
            frames.semantic_models, frames.parent_edges)


def _load_manifest_uncached(spark: SparkSession, path: str) -> ManifestFrames:
    raw = spark.read.schema(MANIFEST_SCHEMA).option("multiLine", True).json(path)

    metrics = _explode_section(raw, "metrics").select(
        "unique_id",
        _s("name"),
        _s("label"),
        _s("description"),
        F.col("value.type").alias("type"),
        F.col("value.calculation_method").alias("calculation_method"),
        F.col("value.expression").alias("expression"),
        F.col("value.timestamp").alias("timestamp"),
        _arr("time_grains"),
        _arr("dimensions"),
        F.coalesce(F.col("value.filters"), F.array().cast(ArrayType(FILTER_TYPE))).alias(
            "filters"
        ),
        _arr("metrics"),
        F.coalesce(F.col("value.depends_on.nodes"), F.array().cast(ArrayType(S))).alias(
            "depends_on"
        ),
        F.coalesce(F.col("value.meta"), F.map_from_arrays(F.array(), F.array()).cast(
            MapType(S, S)
        )).alias("meta"),
        _arr("tags"),
        _s("package_name"),
        _s("path"),
    )

    nodes = _explode_section(raw, "nodes").select(
        "unique_id",
        _s("name"),
        _s("resource_type"),
        _s("package_name"),
        _s("database"),
        _s("schema"),
        F.col("value.alias").alias("alias"),
        F.col("value.relation_name").alias("relation_name"),
    )

    sources = _explode_section(raw, "sources").select(
        "unique_id",
        _s("name"),
        _s("resource_type"),
        _s("database"),
        _s("schema"),
        F.col("value.identifier").alias("identifier"),
    )

    semantic_models = _explode_section(raw, "semantic_models").select(
        "unique_id",
        _s("name"),
        _s("description"),
        _s("model"),
        F.col("value.dimensions").alias("dimensions"),
        F.col("value.measures").alias("measures"),
        F.col("value.entities").alias("entities"),
        F.col("value.meta").alias("meta"),
    )

    parent_edges = raw.select(F.explode_outer("parent_map").alias("child", "parents")).select(
        "child", F.explode("parents").alias("parent")
    )
    child_edges = raw.select(F.explode_outer("child_map").alias("parent", "children")).select(
        "parent", F.explode("children").alias("child")
    )

    return ManifestFrames(
        raw=raw,
        metrics=metrics,
        nodes=nodes,
        sources=sources,
        semantic_models=semantic_models,
        parent_edges=parent_edges,
        child_edges=child_edges,
    )
