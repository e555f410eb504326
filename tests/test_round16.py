"""Round-16 (optimization round 2) pins.

1. The unique-doc-id precondition behind the r15 redundant-distinct
   drops in ``ngram_jaccard_pairs`` / ``containment_pairs`` (VERDICT
   r15 #7): under duplicate ids the exploded (id, shingle) rows are
   NOT globally unique, per-doc sizes double-count, and the measure
   leaves its mathematical range. The test pins that deviation so the
   precondition is asserted by the suite, not just documented.
2. kmeans_lloyd's plan shape after the round-16 rewrite: the returned
   frame must stay one parquet scan + one vectorized assignment pass
   (MapInArrow) + the bounded aggregate — not the old unrolled
   iteration lineage (13 scans / 56 Exchange nodes).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_archive_spark.operators import dedup


def test_ngram_jaccard_unique_id_precondition_pinned(spark):
    """Duplicate doc ids break the dropped-distinct argument: the
    same (id, shingle) row then exists once per duplicate row, sizes
    and intersections double-count, and jaccard exceeds 1.0 — the
    documented out-of-contract behavior (operators/dedup.py). If a
    refactor ever re-introduces set semantics under duplicates (or a
    caller starts relying on them), this pin goes red and forces the
    precondition discussion instead of a silent semantics change."""
    df = spark.createDataFrame(
        [
            ("d1", "alpha beta gamma delta"),
            ("d1", "alpha beta gamma delta"),  # duplicate id: 2 rows
            ("d2", "alpha beta gamma delta"),
        ],
        "doc_id STRING, text STRING",
    )
    rows = dedup.ngram_jaccard_pairs(df, k=3, threshold=0.0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == ("d1", "d2")
    # 2 shingles per text; d1's rows double-count: n_a=4, n_b=2,
    # inter=4 -> jaccard = 4 / (4 + 2 - 4) = 2.0 (> 1: out of range,
    # the pinned signature of a violated precondition)
    assert r.jaccard == 2.0

    # unique ids (the contract every repo caller satisfies): exact
    # set semantics, jaccard == 1.0 for identical texts
    ok = spark.createDataFrame(
        [
            ("d1", "alpha beta gamma delta"),
            ("d2", "alpha beta gamma delta"),
        ],
        "doc_id STRING, text STRING",
    )
    rows = dedup.ngram_jaccard_pairs(ok, k=3, threshold=0.0).collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_loop_parts_is_the_single_width_authority(spark):
    """ADVICE r15: pagerank pre-partitions its contribution cache at
    the loop width, and loop_session sets its child's shuffle width,
    both from the public util.loop_parts. Pin that a frame laid out
    at that width satisfies the follow-up aggregate's distribution —
    no second Exchange (the property the layout exists to buy)."""
    from datafusion_archive_spark.operators.util import loop_parts

    parts = loop_parts(spark, 100_000)
    laid_out = (
        spark.range(100_000)
        .select((F.col("id") % 97).alias("dst"), F.col("id").alias("v"))
        .repartition(parts, "dst")
    )
    agg = laid_out.groupBy("dst").agg(F.sum("v"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan  # the layout one only


def test_kmeans_lloyd_plan_is_single_scan(spark):
    """The round-16 kmeans_lloyd returns one scan + MapInArrow + a
    bounded aggregate; each iteration runs as its own bounded job at
    build time. Pin the returned frame's shape so the unrolled
    iteration lineage (13 scans, 56 Exchanges) cannot come back
    unnoticed."""
    from datafusion_archive_spark.queries.pipeline62 import q_kmeans_lloyd

    df = q_kmeans_lloyd(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # executedPlan of the lazy frame (pre-execution): count structural
    # nodes in the string form
    assert plan.count("Scan parquet") <= 1, plan
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan
    assert plan.count("Exchange") <= 4, plan
    # and it still computes the pinned fixed point at the smoke SF
    rows = df.collect()
    assert [r.k for r in rows] == sorted(r.k for r in rows)
    assert all(r.within_ss >= 0 for r in rows)
    from datafusion_archive_spark.operators.util import release_caches

    release_caches()
