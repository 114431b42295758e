"""IVF-partitioned vector storage: the index IS the table layout.

A deployed IVF index at 100 TB is not a side data structure — it is how
the corpus is laid out on disk.  Writing the corpus ``partitionBy`` its
IVF cell gives every inverted list its own parquet directory, so a
probe reads ONLY the probed cells' files: the scan cost of a batch of
queries is ``|probed cells| / n_cells`` of the corpus bytes, enforced
by the STORAGE layer (partition pruning in the FileScan — visible as
``PartitionFilters`` in the plan), not by a runtime filter that still
lists and opens every file.

This composes with the rest of the ANN ladder: the stored frame carries
(id, vector, centroid_id), so ``topk_ivf(assigned=store)`` serves from
it without a per-search assignment pass, and a PQ/BQ code column can
ride the same layout (``pq_encode(keep=["centroid_id"])``).

Reference parity: none — the reference has no vector surface; this is
the extension layer's storage counterpart to ``operators/similarity``'s
IVF search (SURVEY §2 EXT), same role as ``operators/zorder``'s
``cluster_by_z`` layout for range predicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CELLS = "cells"
_CENTROIDS = "_centroids"


def write_ivf_store(
    corpus: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    centroid_stride: int = 97,
    centroids: DataFrame | None = None,
) -> None:
    """One assignment pass (broadcast centroids — no shuffle of the
    corpus beyond the partitioned write) → corpus parquet partitioned
    by ``centroid_id`` + a bounded ``_centroids`` sidecar (the index
    metadata a search needs to route probes).  Deterministic stride
    centroids by default; pass a k-means frame (id_col, vec_col) for
    the production path — the sidecar makes the store self-describing
    either way."""
    from mongo2mysql_spark.operators.similarity import assign_centroids

    if centroids is None:
        centroids = corpus.filter(F.col(id_col) % centroid_stride == 0)
    cent = centroids.select(F.col(id_col), F.col(vec_col))
    assigned = assign_centroids(corpus, cent, id_col, vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("centroid_id")
    )
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        os.path.join(path, _CELLS)
    )
    cent.write.mode("overwrite").parquet(os.path.join(path, _CENTROIDS))


def read_centroids(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, _CENTROIDS))


def read_probed_cells(
    spark: SparkSession, path: str, cells: list[int]
) -> DataFrame:
    """The probed slice of the store.  ``cells`` are LITERALS, so the
    ``isin`` reaches the FileScan as a static PartitionFilter — only
    the probed directories are listed and read (plan-asserted in
    tests).  A join-shaped probe would need runtime DPP; the probe set
    is bounded (|queries|·nprobe) and known up front, so literals are
    both simpler and stronger."""
    store = spark.read.parquet(os.path.join(path, _CELLS))
    return store.filter(F.col("centroid_id").isin([int(c) for c in cells]))


def topk_ivf_partitioned(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF search served from the partitioned store: route the bounded
    query set against the sidecar centroids, prune the scan to the
    probed cells (partition pruning — the I/O realization of the
    inverted file), then the standard probe-join + exact cosine rank
    with the STORED assignment (no per-search assignment pass).
    Results are exactly :func:`operators.similarity.topk_ivf` over the
    raw corpus with the same centroids/nprobe (tested)."""
    from mongo2mysql_spark.operators.similarity import (
        assign_centroids,
        topk_ivf,
    )

    centroids = read_centroids(spark, path)
    probes = assign_centroids(queries, centroids, id_col, vec_col, nprobe=nprobe)
    cells = sorted(
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    )
    store = read_probed_cells(spark, path, cells).withColumn(
        "centroid_id", F.col("centroid_id").cast("long")
    )
    return topk_ivf(
        store,
        queries,
        id_col,
        vec_col,
        k=k,
        nprobe=nprobe,
        centroids=centroids,
        assigned=store,
    )
