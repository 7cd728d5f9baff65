"""IVF index lifecycle: build once, persist, serve queries from disk.

:func:`financial_data_engineering_spark.llm.similarity.ivf_topk` trains
the coarse quantizer and assigns the corpus on every call — right for an
oracle-checked query, wrong for production, where the corpus is 100 TB
and queries arrive continuously. This module splits the lifecycle:

- :func:`build_ivf_index` runs k-means + assignment ONCE and writes two
  artifacts: ``centroids/`` (k rows) and ``lists/`` — the inverted lists
  — PARTITIONED BY CLUSTER, with each vector's L2 norm precomputed.
- :func:`ivf_topk_from_index` loads the k centroids (control-plane),
  assigns the (small, broadcastable) query set to its ``nprobe`` lists,
  and reads ONLY the probed cluster partitions: the broadcast probes
  drive dynamic partition pruning of ``lists/`` on ``cluster``, so
  serving cost scales with nprobe/n_centroids of the index, not its
  full size. Scoring and tie-breaks are ``ivf_topk``'s own
  (``_cosine_topk``, the shared retrieval tail), which the round-trip
  test pins. Each (query, neighbor) pair is scored once —
  a vector sits in one list and a query's probes are distinct lists —
  so the rank window is the serving plan's only shuffle.

Serving submits no Spark job before the caller's action: the centroids
are read with pyarrow (mirroring the pyarrow write), ``lists/`` is read
with a declared schema (no inference job), and the pruning set comes
from the probes' broadcast exchange that the scoring join reuses,
instead of a collect of the probed clusters.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_engineering_spark.functions.vectors import l2_norm_fixed
from financial_data_engineering_spark.llm.caching import persist_tracked
from financial_data_engineering_spark.llm.similarity import (
    _cosine_topk,
    ivf_assignments,
    kmeans_centroids,
)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_iters: int = 2,
    dim: int = 64,
) -> None:
    """Train the coarse quantizer and write the IVF index to ``path``."""
    proj = persist_tracked(corpus.select(id_col, vec_col))
    centroids = kmeans_centroids(
        proj,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        n_iters=n_iters,
        dim=dim,
    )
    # Centroids are control-plane (k rows, already on the driver from
    # training) — write them with pyarrow directly instead of a Spark
    # job: a createDataFrame-backed local-relation write measures a flat
    # ~5 s per call on this Spark build (vs 8 rows of actual work), and
    # serving reads the file back with pyarrow the same way.
    import pyarrow as pa
    import pyarrow.parquet as pq

    cent_dir = os.path.join(path, "centroids")
    # true overwrite semantics: clear any previous build's files (a stale
    # part file would otherwise read back as extra centroid rows)
    shutil.rmtree(cent_dir, ignore_errors=True)
    os.makedirs(cent_dir, exist_ok=True)
    table = pa.table(
        {
            "cluster": pa.array(
                [int(cid) for cid, _ in centroids], type=pa.int64()
            ),
            "centroid": pa.array(
                [[float(x) for x in vec] for _, vec in centroids],
                type=pa.list_(pa.float64()),
            ),
        }
    )
    pq.write_table(table, os.path.join(cent_dir, "part-00000.parquet"))
    lists = ivf_assignments(
        proj, centroids, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=1
    ).select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        l2_norm_fixed("v", dim).alias("cn"),
        "cluster",
    )
    # Cluster-key repartition before the partitioned write: without it
    # every input partition writes a sliver into every cluster directory
    # (up to tasks x n_centroids files — measured 2-4x slower to write AND
    # to serve, since each probed cluster opens dozens of tiny footers).
    # n_centroids output tasks is right while a cluster's list fits one
    # task; at real scale raise the partition count (cluster, salt) so
    # files stay bounded without reintroducing the sliver explosion.
    lists.repartition(n_centroids, F.col("cluster")).write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(os.path.join(path, "lists"))


def ivf_topk_from_index(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Serve approximate cosine top-k from a persisted IVF index,
    touching only the probed cluster partitions. ``queries`` must carry
    the corpus's id and vector types: they declare the schema under
    which ``lists/`` is read."""
    import pyarrow.parquet as pq

    cent = pq.read_table(os.path.join(path, "centroids")).to_pydict()
    centroids = list(zip(cent["cluster"], cent["centroid"]))
    # ``probe_rank < nprobe`` holds for every assignment row. It is there
    # for the optimizer: dynamic partition pruning of ``lists/`` is only
    # planned when the broadcast side carries a predicate it rates
    # selective, and without one a query set that is not itself a
    # filtered frame (say, rows built on the driver) scans every list.
    probes = ivf_assignments(
        queries, centroids, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=nprobe
    ).filter(F.col("probe_rank") < nprobe).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        "cluster",
        l2_norm_fixed("v", dim).alias("qn"),
    )
    lists_schema = T.StructType(
        [
            T.StructField("neighbor_id", queries.schema[id_col].dataType),
            T.StructField("cv", queries.schema[vec_col].dataType),
            T.StructField("cn", T.DoubleType()),
            T.StructField("cluster", T.LongType()),
        ]
    )
    lists = spark.read.schema(lists_schema).parquet(os.path.join(path, "lists"))
    # No pair dedupe: a corpus vector sits in exactly one list and a
    # query's nprobe probes are distinct lists, so with unique ids each
    # (query_id, neighbor_id) pair is scored once.
    return _cosine_topk(probes, lists, k=k, dim=dim, on="cluster")
