"""Pipeline wave 62 (round 5, sixtieth wave): centroid clustering and
experiment-assignment integrity.

- ``kmeans_lloyd`` — k-means over the embedding corpus with
  _KM_K clusters, deterministic init (cluster j starts at the
  centroid of the vec_id ≡ j (mod k) group — no RNG, reproducible
  in any engine), and _KM_ITERS exact Lloyd iterations: assign =
  argmin centroid distance (ties to the lower cluster id), update =
  per-cluster mean. Each iteration is one broadcast-centroids
  assignment pass + one regroup — the canonical distributed k-means;
  the oracle unrolls identical iterations as MATERIALIZED CTEs.
  Completes the clustering family (PCA / DBSCAN / silhouette).
- ``ab_srm_check`` — the sample-ratio-mismatch guardrail: the
  portable event-id hash splits purchases 50/50 by design; report
  the observed split, the χ²₁ GOF statistic against the design
  ratio, and its p-value (A&S polynomial via the normal square
  root). SRM is the first thing to check before reading ANY
  experiment — a biased assignment invalidates everything
  downstream.

The reference has no arrays or joins (``/root/reference/ROADMAP.md``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_archive_spark.functions import text as TX
from datafusion_archive_spark.queries.llm import _hash64_sql
from datafusion_archive_spark.queries.pipeline35 import (
    _norm_sf_expr,
    _norm_sf_sql,
)
from datafusion_archive_spark.queries.timeseries import load_events

from datafusion_archive_spark.operators.util import cached

_KM_K = 8
_KM_ITERS = 2
_DIM = 64
_SRM_SEED = 23  # same split the conformal wave certifies


def _km_vmat(batch, name):
    """(n, dim) float64 matrix from an Arrow list column."""
    import numpy as np

    col = batch.column(batch.schema.get_field_index(name))
    n = len(col)
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(n, flat.size // n)


def _km_assign(V, kid, C):
    """Vectorized Lloyd assignment: nearest centroid per row of V,
    ties to the lower cluster id (np.argmin returns the FIRST minimum
    and centroid rows are ordered by ascending id — the same tie rule
    as the old row_number over (ss, ck))."""
    import numpy as np

    d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    return kid[d.argmin(axis=1)]


def _km_partial_fn(ks, cs):
    """mapInArrow kernel: assign each vector to its nearest (ks, cs)
    centroid and emit PER-BATCH partial sums (k, i, psum, pcnt) for
    the next centroid update — k*dim rows per batch regardless of
    batch size, so the downstream (k, i) aggregate shuffles bounded
    bytes (guide §2.3 'aggregate before you shuffle')."""
    import numpy as np

    kid = np.asarray(ks, dtype=np.int64)
    C = np.asarray(cs, dtype=np.float64)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if not b.num_rows:
                continue
            V = _km_vmat(b, "v")
            a = _km_assign(V, kid, C)
            dim = V.shape[1]
            out_k, out_i, out_s, out_c = [], [], [], []
            for j, k in enumerate(kid):
                m = a == k
                cnt = int(m.sum())
                if not cnt:
                    continue
                out_k.append(np.full(dim, k, dtype=np.int64))
                out_i.append(np.arange(dim, dtype=np.int32))
                out_s.append(V[m].sum(axis=0))
                out_c.append(np.full(dim, cnt, dtype=np.int64))
            if not out_k:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_k)),
                    pa.array(np.concatenate(out_i)),
                    pa.array(np.concatenate(out_s)),
                    pa.array(np.concatenate(out_c)),
                ],
                names=["k", "i", "psum", "pcnt"],
            )

    return fn


def _km_within_fn(ks_a, cs_a, ks_f, cs_f):
    """mapInArrow kernel for the readout pass: assign via the
    iteration-final centroids (ks_a, cs_a), then emit each vector's
    squared distance to its cluster's POST-assignment centroid
    (ks_f, cs_f) — one (vec_id, k, d2) row per vector."""
    import numpy as np

    ka = np.asarray(ks_a, dtype=np.int64)
    Ca = np.asarray(cs_a, dtype=np.float64)
    kf = np.asarray(ks_f, dtype=np.int64)
    Cf = np.asarray(cs_f, dtype=np.float64)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if not b.num_rows:
                continue
            vid = b.column(
                b.schema.get_field_index("vec_id")
            ).to_numpy(zero_copy_only=False)
            V = _km_vmat(b, "v")
            k = _km_assign(V, ka, Ca)
            # every assigned id is present in kf by construction (kf
            # is the id set of this very assignment rule on this data)
            diff = V - Cf[np.searchsorted(kf, k)]
            d2 = (diff * diff).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(vid), pa.array(k), pa.array(d2)],
                names=["vec_id", "k", "d2"],
            )

    return fn


def q_kmeans_lloyd(spark, sf):
    """K-means: 2 exact Lloyd iterations, deterministic init.

    Round 16 (guide §1.2 step 1, §2.3, §4.2): the k x dim centroid
    matrix is bounded driver state (8 x 64 doubles), so each iteration
    collects it and re-injects it into a vectorized assignment kernel
    instead of threading the previous iteration's assignment lineage
    through joins. The old unrolled form re-derived the base scan per
    nesting level (13 scans / 56 Exchange nodes in
    plans/r16/kmeans_lloyd_before.txt — at 100 TB each level re-reads
    the corpus and reshuffles corpus-cardinality d2/assignment rows);
    now every iteration is exactly ONE pass over the vectors emitting
    k*dim partial-sum rows per batch, and the only shuffle is the
    bounded (k, i) partial aggregate. The per-row engine is
    mapInArrow + NumPy (guide §4.2): two JVM alternatives were
    measured and rejected — literal-unrolled distance expressions
    (~5.5 s of Catalyst/codegen PER JOB for 512-literal folds) and
    generic HOF folds over a broadcast centroid row (interpreted,
    ~100 µs/row, and the optimizer hoists the argmin above the
    posexplode Generate so it re-evaluates per exploded element).
    Assignment semantics are unchanged: argmin over per-cluster
    squared distance, ties to the lower cluster id (np.argmin returns
    the first minimum over ids sorted ascending); an emptied cluster
    drops out of the collected centroid rows exactly as it dropped
    out of the old inner joins. The same bounded-collect pattern as
    kmeans_train; the DuckDB oracle
    (materialized-CTE unroll) pins the fixed point.
    """
    emb = cached(
        spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )

    def _shape(rows):
        by_k: dict[int, dict[int, float]] = {}
        for r in rows:
            by_k.setdefault(r.k, {})[r.i] = r.c
        ks = sorted(by_k)
        return ks, [[by_k[k][i] for i in sorted(by_k[k])] for k in ks]

    # c1: the mod-k seed assignment is a pure column expression — no
    # kernel needed, one exploded two-phase (k, i) average
    ks, cs = _shape(
        emb.select(
            (F.col("vec_id") % _KM_K).cast("long").alias("k"),
            F.posexplode("v").alias("i", "x"),
        )
        .groupBy("k", "i")
        .agg(F.avg("x").alias("c"))
        .collect()
    )
    # c2..c_ITERS, then cf (the centroids of the FINAL assignment):
    # each pass is one vectorized scan emitting per-batch partials;
    # avg(x) = sum(psum)/sum(pcnt) combines them exactly as the old
    # Average aggregate did (double sum / long count)
    for _ in range(_KM_ITERS):
        ksf, csf = _shape(
            emb.select("v")
            .mapInArrow(
                _km_partial_fn(ks, cs),
                "k LONG, i INT, psum DOUBLE, pcnt LONG",
            )
            .groupBy("k", "i")
            .agg((F.sum("psum") / F.sum("pcnt")).alias("c"))
            .collect()
        )
        ks, cs, prev_ks, prev_cs = ksf, csf, ks, cs
    # loop exit state: (prev_ks, prev_cs) = c_ITERS drives the final
    # assignment, (ks, cs) = cf scores it
    per_vec = emb.select("vec_id", "v").mapInArrow(
        _km_within_fn(prev_ks, prev_cs, ks, cs),
        "vec_id LONG, k LONG, d2 DOUBLE",
    )
    within = per_vec.groupBy("k").agg(
        F.count_distinct("vec_id").alias("size"),
        F.round(F.sum("d2"), 4).alias("within_ss"),
    )
    return within.orderBy("k")


def q_ab_srm_check(spark, sf):
    """Sample-ratio mismatch chi-square on the hash split."""
    ev = load_events(spark, sf).filter(
        F.col("event_type") == "purchase"
    )
    split = ev.select(
        (
            F.pmod(
                TX.hash64(F.col("event_id").cast("string"), _SRM_SEED),
                F.lit(2),
            )
            == 0
        )
        .cast("long")
        .alias("arm_a")
    )
    agg = split.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("arm_a").alias("n_a"),
    )
    n = F.col("n").cast("double")
    na = F.col("n_a").cast("double")
    chi2 = F.pow(na - n / 2.0, F.lit(2.0)) / (n / 2.0) + F.pow(
        (n - na) - n / 2.0, F.lit(2.0)
    ) / (n / 2.0)
    z = F.sqrt(chi2)
    return agg.select(
        F.col("n").alias("n_events"),
        F.col("n_a").alias("n_arm_a"),
        F.round(na / n, 6).alias("share_a"),
        F.round(chi2, 6).alias("chi2_srm"),
        F.round(2.0 * _norm_sf_expr(z), 8).alias("p_srm"),
    )


QUERIES = {
    "kmeans_lloyd": q_kmeans_lloyd,
    "ab_srm_check": q_ab_srm_check,
}


def _kmeans_oracle() -> str:
    parts = [
        f"""
        cells AS MATERIALIZED (
          SELECT vec_id, r.i AS i,
                 CAST(embedding[r.i] AS DOUBLE) AS x
          FROM embeddings, range(1, {_DIM} + 1) r(i)
        ),
        a0 AS MATERIALIZED (
          SELECT DISTINCT vec_id, vec_id % {_KM_K} AS k FROM cells
        )"""
    ]
    prev = "a0"
    for it in range(1, _KM_ITERS + 1):
        parts.append(
            f"""
        c{it} AS MATERIALIZED (
          SELECT a.k, t.i, avg(t.x) AS c
          FROM cells t JOIN {prev} a ON t.vec_id = a.vec_id
          GROUP BY 1, 2
        ),
        d{it} AS MATERIALIZED (
          SELECT t.vec_id, k.k AS ck,
                 sum((t.x - k.c) ** 2) AS ss
          FROM cells t JOIN c{it} k ON t.i = k.i
          GROUP BY 1, 2
        ),
        a{it} AS MATERIALIZED (
          SELECT vec_id, ck AS k FROM (
            SELECT vec_id, ck,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY ss, ck) AS rn
            FROM d{it}
          ) WHERE rn = 1
        )"""
        )
        prev = f"a{it}"
    parts.append(
        f"""
        cf AS (
          SELECT a.k, t.i, avg(t.x) AS c
          FROM cells t JOIN {prev} a ON t.vec_id = a.vec_id
          GROUP BY 1, 2
        )
        SELECT a.k,
               count(DISTINCT t.vec_id) AS size,
               round(sum((t.x - f.c) ** 2), 4) AS within_ss
        FROM cells t
        JOIN {prev} a ON t.vec_id = a.vec_id
        JOIN cf f ON f.k = a.k AND f.i = t.i
        GROUP BY 1
        ORDER BY 1"""
    )
    return "WITH" + ",".join(parts)


ORACLES = {
    "kmeans_lloyd": _kmeans_oracle(),
    "ab_srm_check": f"""
        WITH split AS (
          SELECT CASE WHEN
            {_hash64_sql("CAST(event_id AS VARCHAR)", _SRM_SEED)}
              % 2 = 0 THEN 1 ELSE 0 END AS arm_a
          FROM events WHERE event_type = 'purchase'
        ),
        agg AS (
          SELECT count(*) AS n,
                 CAST(sum(arm_a) AS BIGINT) AS n_a
          FROM split
        )
        SELECT n AS n_events,
               n_a AS n_arm_a,
               round(CAST(n_a AS DOUBLE) / n, 6) AS share_a,
               round((n_a - n / 2.0) ** 2 / (n / 2.0)
                 + ((n - n_a) - n / 2.0) ** 2 / (n / 2.0), 6)
                 AS chi2_srm,
               round(2.0 * {_norm_sf_sql(
                   "sqrt((n_a - n / 2.0) ** 2 / (n / 2.0)"
                   " + ((n - n_a) - n / 2.0) ** 2 / (n / 2.0))"
               )}, 8) AS p_srm
        FROM agg
    """,
}
