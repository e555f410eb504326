"""Pipeline wave 28 (round 5, twenty-sixth wave): LSH banding
auto-tuning.

- ``lsh_tuning_curve`` — the banding-parameter tuning report for
  MinHash LSH: for each (bands × rows-per-band) split of the 16-hash
  signature — (2×8), (4×4), (8×2) — the measured candidate-pair
  count, how many candidates clear the 0.25 estimated-Jaccard
  verification, and the THEORETICAL capture probability
  1 − (1 − s^r)^b of the S-curve at s = 0.5. This is the table an
  engineer reads before spending a 100 TB pass: more bands → more
  candidates (recall) at more join volume (cost); the certified
  production configuration (4×4) sits in this grid.

Built on the exact same md5-affine signature family as the certified
``dedup_minhash_lsh``, so the oracle reproduces every number
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_archive_spark.operators import dedup
from datafusion_archive_spark.queries.llm import (
    _MINHASH_SIG_CTE,
    _N_MINHASH,
)
from datafusion_archive_spark.operators.util import load_table, materialized

_CONFIGS = [2, 4, 8]  # bands; rows_per_band = 16 / bands
_VERIFY_T = 0.25
_S_PROBE = 0.5


def _capture_prob(bands: int) -> float:
    r = _N_MINHASH // bands
    return 1.0 - (1.0 - _S_PROBE**r) ** bands


def q_lsh_tuning_curve(spark, sf):
    """One row per banding config: candidate pairs, verified pairs
    (est ≥ 0.25), and the theoretical capture probability at Jaccard
    0.5. The dial between recall and candidate-join volume.

    Scale: the signature table (num_hashes longs per doc) is
    checkpointed once, with its row count observed on that job, and
    each config bands it (dedup.lsh_pairs) — the corpus is scanned
    once; the three configs reuse the signatures."""
    sig, n_docs = materialized(
        dedup.minhash_signatures(
            _t(spark, sf, "documents"), num_hashes=_N_MINHASH, k=3
        )
    )
    rows = []
    for bands in _CONFIGS:
        pairs = dedup.lsh_pairs(
            sig,
            n_docs,
            num_hashes=_N_MINHASH,
            bands=bands,
            threshold=0.0,  # keep ALL candidates; verify in the agg
        )
        rows.append(
            pairs.agg(
                F.lit(bands).alias("bands"),
                F.lit(_N_MINHASH // bands).alias("rows_per_band"),
                F.count(F.lit(1)).alias("n_candidates"),
                F.sum(
                    F.when(F.col("est_jaccard") >= _VERIFY_T, 1).otherwise(0)
                ).alias("n_verified"),
                F.round(F.lit(_capture_prob(bands)), 6).alias(
                    "capture_prob_at_05"
                ),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _pairs_sql(bands: int) -> str:
    """Parametric SQL twin of dedup.minhash_lsh_pairs' candidate
    generation for an arbitrary band count (the llm.py builder is
    pinned to the certified 4-band config)."""
    rpb = _N_MINHASH // bands
    band_selects = []
    for b in range(bands):
        cols = [f"mh_{i}" for i in range(b * rpb, (b + 1) * rpb)]
        bucket = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT id, {b} AS band, {bucket} AS bucket, "
            + ", ".join(f"mh_{i}" for i in range(_N_MINHASH))
            + " FROM sig"
        )
    buckets = "\n          UNION ALL\n          ".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
        for i in range(_N_MINHASH)
    )
    return f"""
        buckets_{bands} AS (
          {buckets}
        ),
        cand_{bands} AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 ({agree}) / {_N_MINHASH}.0 AS est_raw
          FROM buckets_{bands} a
          JOIN buckets_{bands} b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        ),
        pairs_{bands} AS (
          SELECT id_a, id_b, round(min(est_raw), 4) AS est_jaccard
          FROM cand_{bands} GROUP BY id_a, id_b
        )
    """


def _tuning_oracle() -> str:
    chains = ",".join(_pairs_sql(b) for b in _CONFIGS)
    selects = "\nUNION ALL\n".join(
        f"""
        SELECT {b} AS bands,
               {_N_MINHASH // b} AS rows_per_band,
               count(*) AS n_candidates,
               CAST(sum(CASE WHEN est_jaccard >= {_VERIFY_T}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
               round({_capture_prob(b)!r}, 6) AS capture_prob_at_05
        FROM pairs_{b}
        """
        for b in _CONFIGS
    )
    return _MINHASH_SIG_CTE + "," + chains + selects


QUERIES = {
    "lsh_tuning_curve": q_lsh_tuning_curve,
}

ORACLES = {
    "lsh_tuning_curve": _tuning_oracle(),
}
