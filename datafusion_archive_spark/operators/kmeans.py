"""Distributed Lloyd's k-means over an embedding column — the trainer
the IVF index defers to (operators/similarity.py seeds centroids by an
id-stride rule and notes "a real system would run k-means"; this is
that system).

Scale design: per iteration the corpus is scanned once — a broadcast
of the k x dim centroid table joins onto every vector (map-side, no
corpus shuffle), the nearest-centroid argmin is a window over the
per-vector candidate rows, and the recentering aggregate shuffles only
(list_id, partial component sums). The ONLY driver-side data is the
k x dim centroid matrix per iteration (same bounded-collect pattern as
the IVF probed-id set). Assignment ties break on
list_id, so iteration is deterministic up to floating-point summation
order in the means.

The reference has no ML surface (``/root/reference/ROADMAP.md:36-56``);
this operator belongs to the training-data-pipeline extension mandate
(embedding clustering for IVF index builds, near-dup bucketing, and
corpus diversity analysis). Correctness is pinned differentially
against a NumPy Lloyd's implementation with the same deterministic
seeding in tests/test_round5b.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datafusion_archive_spark.operators.util import cached


def _sqdist(v, c):
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kmeans_train(
    corpus: DataFrame,
    k: int = 8,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Run ``n_iters`` Lloyd iterations and return the k centroids
    (list of dim-length lists, indexed by list_id).

    Seeding is deterministic: the k vectors with the smallest ids.
    An emptied cluster keeps its previous centroid (the standard
    guard; with real data and sane k it never fires).
    """
    spark = corpus.sparkSession
    pts = cached(
        corpus.select(
            F.col(id_col).alias("pid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )
    dim = len(pts.select("v").first()[0])
    cents = [
        list(r.v) for r in pts.orderBy("pid").limit(k).collect()
    ]
    w = Window.partitionBy("pid").orderBy("dist", "list_id")
    for _ in range(n_iters):
        cdf = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "list_id INT, c ARRAY<DOUBLE>",
        )
        assigned = (
            pts.crossJoin(F.broadcast(cdf))
            .select(
                "pid",
                "v",
                "list_id",
                _sqdist(F.col("v"), F.col("c")).alias("dist"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        new = {
            r.list_id: [r[f"c{i}"] for i in range(dim)]
            for r in assigned.groupBy("list_id")
            .agg(
                *[
                    F.avg(F.col("v")[i]).alias(f"c{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        }
        cents = [new.get(i, cents[i]) for i in range(k)]
    pts.unpersist()
    return cents


def kmeans_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest trained centroid — the
    k-means counterpart of similarity.ivf_assign. Returns
    (id, v, list_id, dist); at rest, write partitioned by list_id for
    the pruned-probe IVF layout."""
    spark = corpus.sparkSession
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "list_id INT, c ARRAY<DOUBLE>",
    )
    w = Window.partitionBy("pid").orderBy("dist", "list_id")
    return (
        corpus.select(
            F.col(id_col).alias("pid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .crossJoin(F.broadcast(cdf))
        .select(
            "pid", "v", "list_id", _sqdist(F.col("v"), F.col("c")).alias("dist")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def kmeans_inertia(assigned: DataFrame) -> float:
    """Total within-cluster squared distance — the Lloyd's objective;
    must be non-increasing over iterations."""
    return assigned.agg(F.sum("dist")).first()[0]
