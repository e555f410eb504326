"""LLM-training-data pipeline queries: text analysis, dedup family,
similarity search, multimodal plumbing — the north-star extension
surface (BASELINE.json; absent from the reference engine).

MinHash and SimHash oracles are generated programmatically (16 hash
columns / 60 bit positions of identical SQL on both engines) — all
hashing is md5-derived (see functions.text.hash64) precisely so DuckDB
can replicate Spark's results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_archive_spark.functions import text as TX
from datafusion_archive_spark.functions.rounding import round_half_up
from datafusion_archive_spark.functions import ranking
from datafusion_archive_spark.operators import (
    dedup,
    multimodal,
    similarity,
    splits,
)
from datafusion_archive_spark.operators.util import load_table, spread

# -- shared SQL fragments (DuckDB) ------------------------------------------

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_WORDS = f"regexp_split_to_array({_NORM}, ' ')"


def _shingles_sql(k: int) -> str:
    """DuckDB twin of functions.text.word_shingles(k)."""
    return (
        f"list_transform(range(1, greatest(len(w) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(w[i:i+{k - 1}], ' '))"
    )


def _hash64_sql(expr: str, seed: int) -> str:
    """DuckDB twin of functions.text.hash64."""
    return f"('0x' || substr(md5({expr} || ':{seed}'), 1, 15))::BIGINT"


_N_MINHASH = 16
_MINHASH_BANDS = 4
_SIMHASH_BITS = 60
_SIMHASH_BANDS = 4


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark, sf):
    # spread (round 15): seven regex/token kernels per row on a
    # single-task small-file scan; no-op at scale
    d = spread(_t(spark, sf, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.char_count(t).alias("char_count"),
        TX.token_count(t).alias("tokens_ws"),
        TX.bpe_ish_token_count(t).alias("tokens_bpe"),
        TX.punct_ratio(t).alias("punct_ratio"),
        TX.stopword_ratio(t).alias("stopword_ratio"),
        TX.avg_token_len(t).alias("avg_token_len"),
        TX.quality_score(t).alias("quality"),
    )


def q_text_lang_id(spark, sf):
    # spread (round 15): same single-task-scan argument as text_stats
    d = spread(_t(spark, sf, "documents"))
    return d.select("doc_id", TX.lang_id(F.col("text")).alias("lang_pred"))


def q_text_fingerprint(spark, sf):
    # spread (round 15): map-only hash kernel — single-task on a
    # small-file scan without it; no-op at scale
    d = spread(_t(spark, sf, "documents"))
    return d.select(
        "doc_id",
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.rolling_hash_fingerprint(F.col("text"), 8).alias("rolling_fp"),
    )


def q_text_clean(spark, sf):
    """PII-scrub / boilerplate-strip chain. The corpus text is
    synthetic word-soup, so each doc is first decorated with a
    deterministic HTML wrapper, an email, and a URL built from its own
    id — giving the strip/mask chain real matches that the oracle
    reproduces exactly."""
    d = spread(_t(spark, sf, "documents"))
    sid = F.col("doc_id").cast("string")
    decorated = F.concat(
        F.lit("<b>u"), sid, F.lit("@example.com</b> "),
        F.col("text"),
        F.lit(" https://ex.com/"), sid,
    )
    cleaned = TX.clean_text(decorated)
    return d.select(
        "doc_id",
        TX.fingerprint(cleaned).alias("fp_clean"),
        round_half_up(TX.repetition_ratio(cleaned), 4).alias("repetition"),
        TX.token_count(cleaned).alias("tokens_clean"),
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf):
    return dedup.exact_duplicates(_t(spark, sf, "documents"))


def q_dedup_ngram_jaccard(spark, sf):
    """max_shingle_df engages the stop-shingle skew guard — the
    per-shingle self-join term is quadratic in a shingle's document
    frequency, so hot shingles must be dropped for the join to stay
    linear at corpus scale. The oracle applies the identical df-cap."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), k=3, threshold=0.2, max_shingle_df=50
    )


def q_dedup_minhash_signatures(spark, sf):
    return dedup.minhash_signatures(
        _t(spark, sf, "documents"), num_hashes=_N_MINHASH, k=3
    )


def q_dedup_clusters(spark, sf):
    """Near-dup clusters: LSH pairs → connected components →
    (keep_id, cluster_size). The DuckDB oracle resolves the same
    components with WITH RECURSIVE transitive closure."""
    return dedup.dedup_clusters(_t(spark, sf, "documents"), threshold=0.25)


def q_dedup_minhash_lsh(spark, sf):
    return dedup.minhash_lsh_pairs(
        _t(spark, sf, "documents"),
        num_hashes=_N_MINHASH,
        bands=_MINHASH_BANDS,
        k=3,
        threshold=0.25,
    )


def q_dedup_simhash_signatures(spark, sf):
    return dedup.simhash64(_t(spark, sf, "documents"), bits=_SIMHASH_BITS)


def q_dedup_simhash_pairs(spark, sf):
    """Combination blocking (n_blocks=6 -> C(6,3)=20 30-bit keys):
    output-identical to the simple 4-band scheme (verification is
    exact hamming; the oracle is brute-force XOR popcount), but
    candidate volume stays linear in docs past ~2^15 of them — the
    r11 scale probe caught the simple scheme's random 15-bit band
    collisions growing ~n² (tools/scale_probe_r11.log)."""
    return dedup.simhash_near_pairs(
        _t(spark, sf, "documents"),
        max_hamming=_SIMHASH_BANDS - 1,  # pigeonhole-exact either way
        bits=_SIMHASH_BITS,
        n_blocks=6,
    )


# ---------------------------------------------------------------------------
# Similarity search / embedding near-dup
# ---------------------------------------------------------------------------


def q_ann_bruteforce(spark, sf):
    e = _t(spark, sf, "embeddings")
    return similarity.cosine_topk(e, e.filter(F.col("vec_id") < 10), k=5)


def _planted_embeddings(spark, sf):
    """Corpus with planted near-duplicates: each vec_id < 25 gets a
    perturbed twin (0.9·v + 0.1·reverse(v), cosine ≈ 0.99 to the
    original) at id+100000. The raw testdata vectors are uniform-random
    — no natural pair clears a 0.9 cosine threshold, so without
    planting a near-dup query is vacuously empty at every sf."""
    e = _t(spark, sf, "embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", vd.alias("embedding"))
    pert = base.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.zip_with(
            F.col("embedding"),
            F.reverse(F.col("embedding")),
            lambda a, b: a * F.lit(0.9) + b * F.lit(0.1),
        ).alias("embedding"),
    )
    return base.unionByName(pert)


def q_embedding_near_dup(spark, sf):
    """Banded-LSH candidate generation → exact-cosine verification over
    a corpus with planted near-duplicates. The registered scale path:
    candidate join is O(N·bands); the exact quadratic kernel
    (similarity.cosine_pairs) remains the verification baseline."""
    return similarity.lsh_cosine_pairs(
        _planted_embeddings(spark, sf),
        threshold=0.9, planes=12, bands=4, dim=64,
    )


def q_embedding_near_dup_exact(spark, sf):
    """The exact quadratic kernel on the same planted corpus — the
    ground-truth baseline the LSH path approximates (on this corpus
    both find all 25 planted pairs; at scale only the LSH form runs)."""
    return similarity.cosine_pairs(
        _planted_embeddings(spark, sf), threshold=0.9
    )


def q_ann_lsh(spark, sf):
    """Approximate ANN (banded random-hyperplane LSH). The oracle
    replicates the exact construction in SQL — hyperplane constants are
    inlined (repr round-trips doubles exactly in both engines)."""
    e = _t(spark, sf, "embeddings")
    return similarity.lsh_cosine_topk(
        e, e.filter(F.col("vec_id") < 10), k=5, planes=12, bands=4, dim=64
    )


def q_ann_ivf(spark, sf):
    """IVF probe ANN — deterministic centroid subset, oracle-checked."""
    e = _t(spark, sf, "embeddings")
    return similarity.ivf_topk(
        e, e.filter(F.col("vec_id") < 10), k=5, nprobe=2, centroid_stride=50
    )


def q_decontaminate(spark, sf):
    """Benchmark decontamination — the training-pipeline step that
    flags documents sharing any 8-word shingle with a held-out eval
    set (here: doc_id < 20 stands in for the benchmark corpus).

    Scale shape: the benchmark's distinct gram-hash set is tiny and
    broadcast, so the corpus is scanned once and never shuffled for
    the membership probe; only (doc_id, hit) pairs reach the count
    aggregate."""
    d = _t(spark, sf, "documents")

    def grams(df):
        return df.select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.array_distinct(TX.word_shingles(F.col("text"), 8))
            ).alias("g"),
        ).select("id", TX.hash64(F.col("g"), 0).alias("gh"))

    bench_grams = (
        grams(d.filter(F.col("doc_id") < 20)).select("gh").distinct()
    )
    # spread the CORPUS side (round 15): the shingle+hash kernel on a
    # small-file single-task scan serialized on one core; no-op at
    # scale, and the benchmark side is 20 docs — not worth a shuffle
    hits = (
        grams(spread(d))
        .join(F.broadcast(bench_grams), "gh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    return (
        d.select("doc_id")
        .join(hits, d.doc_id == hits.id, "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def q_chunk_documents(spark, sf):
    """Token-bounded document chunking — split every document into
    ≤32-token chunks (the standard context-window prep pass before
    tokenization). Pure scan-side: words split once, chunks sliced via
    posexplode over the chunk count; no shuffle at all — at 100 TB
    this is a map-only stage whose output feeds the tokenizer."""
    max_tok = 32
    d = _t(spark, sf, "documents")
    words = F.split(TX.normalize_text(F.col("text")), " ")
    n_chunks = F.ceil(F.size("w") / F.lit(max_tok)).cast("int")
    return (
        d.select("doc_id", words.alias("w"))
        .select(
            "doc_id",
            "w",
            F.posexplode(F.sequence(F.lit(1), n_chunks)).alias(
                "chunk_idx", "_one_based"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join(
                F.slice(F.col("w"), F.col("chunk_idx") * max_tok + 1, max_tok),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(max_tok),
                F.size("w") - F.col("chunk_idx") * max_tok,
            ).alias("n_tokens"),
        )
    )


def q_pack_sequences(spark, sf):
    """Sequence packing: fill 512-token training sequences from the
    chunk stream by contiguous cumulative fill — ``seq = floor(tokens
    before me / budget)`` over a deterministic order. Packing is
    sharded (doc_id mod 32) so each shard's running sum is an
    independent window — one shuffle on the shard key, no global
    ordering bottleneck; shards map to writer tasks at scale."""
    from pyspark.sql import Window

    budget = 512
    chunks = q_chunk_documents(spark, sf).withColumn(
        "shard", (F.col("doc_id") % 32).cast("int")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = chunks.select(
        "shard",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget)
        ).cast("int").alias("seq_id"),
        "n_tokens",
    )
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("seq_tokens"),
    )


def q_vocab_topk(spark, sf):
    """Corpus vocabulary statistics: token frequencies, top 100 by
    count (ties broken by token — deterministic). One explode + one
    map-side-combined aggregate + TakeOrdered; the classic BPE-corpus
    prep pass."""
    d = _t(spark, sf, "documents")
    return (
        d.select(
            F.explode(
                F.split(TX.normalize_text(F.col("text")), " ")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(100)
    )


def q_udaf_median(spark, sf):
    """Custom UDAF surface (reference ``FunctionType::Aggregate``,
    ``src/logicalplan.rs:25-28`` — declared, never implemented): a
    Pandas GROUPED_AGG UDAF (Arrow-batched, one call per group) for
    the per-language median token count. np.percentile's linear
    interpolation == DuckDB quantile_cont, so the oracle is exact.

    Scale note: a GROUPED_AGG UDAF materializes each group as one
    Arrow batch (O(group) memory in the worker) — this query exists
    to exercise the UDAF surface; the scale path for per-group
    medians over fact data is operators/quantiles.
    exact_grouped_quantiles (no per-group buffer anywhere)."""
    from datafusion_archive_spark.functions.udaf import median_udaf

    d = _t(spark, sf, "documents")
    return (
        d.select("lang", TX.token_count(F.col("text")).alias("tokens"))
        .groupBy("lang")
        .agg(median_udaf("tokens").alias("median_tokens"))
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def q_multimodal_decode(spark, sf):
    """Binary media columns + metadata + stubbed decode via
    mapInPandas. Payload = utf8 bytes of the text column (the container
    has no codecs; the decode stub derives dims from payload bytes, so
    the full pipeline is oracle-checkable)."""
    d = _t(spark, sf, "documents").withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    m = multimodal.attach_media(d, "payload", media_type="image")
    return multimodal.decode_media(m, "payload")


def q_multimodal_frame_sample(spark, sf):
    decoded = q_multimodal_decode(spark, sf)
    return multimodal.frame_sample(decoded, every_n=2)


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------


def _minhash_cols_sql() -> str:
    from datafusion_archive_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_affine_params,
    )

    cols = []
    for i in range(_N_MINHASH):
        a, b = minhash_affine_params(i)
        cols.append(f"min((base * {a} + {b}) % {MINHASH_PRIME}) AS mh_{i}")
    return ",\n               ".join(cols)


_MINHASH_SIG_CTE = f"""
        WITH wl AS (
          SELECT doc_id, {_WORDS} AS w FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct({_shingles_sql(3)})) AS shingle
          FROM wl
        ),
        based AS (
          SELECT doc_id, {_hash64_sql('shingle', 0)} % 2147483647 AS base
          FROM sh
        ),
        sig AS (
          SELECT doc_id AS id, {_minhash_cols_sql()} FROM based GROUP BY doc_id
        )
"""


def _minhash_pair_ctes(threshold: float) -> str:
    """CTE chain (starting with the signature CTEs) ending in
    ``pairs(id_a, id_b, est_jaccard)`` — the SQL twin of
    dedup.minhash_lsh_pairs, shared by the lsh-pairs and clusters
    oracles."""
    rows_per_band = _N_MINHASH // _MINHASH_BANDS
    band_selects = []
    for b in range(_MINHASH_BANDS):
        cols = [f"mh_{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
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
        {_MINHASH_SIG_CTE},
        buckets AS (
          {buckets}
        ),
        cand AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 ({agree}) / {_N_MINHASH}.0 AS est_raw
          FROM buckets a
          JOIN buckets b
            ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
        ),
        pairs AS (
          SELECT id_a, id_b, round(min(est_raw), 4) AS est_jaccard
          FROM cand GROUP BY id_a, id_b
          HAVING round(min(est_raw), 4) >= {threshold}
        )
"""


def _minhash_lsh_oracle() -> str:
    return _minhash_pair_ctes(0.25) + """
        SELECT id_a, id_b, est_jaccard FROM pairs
    """


def _dedup_clusters_oracle() -> str:
    """SQL twin of dedup.dedup_clusters: the same LSH pairs resolved
    into connected components by a WITH RECURSIVE transitive closure
    (exact agreement pins the Spark component labels)."""
    return (
        "WITH RECURSIVE "
        + _minhash_pair_ctes(0.25).strip().removeprefix("WITH")
        + """,
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION
          SELECT id_b AS u, id_a AS v FROM pairs
        ),
        reach(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ),
        comp AS (
          SELECT u AS node, least(u, min(v)) AS component
          FROM reach GROUP BY u
        )
        SELECT component AS keep_id, count(*) AS cluster_size
        FROM comp GROUP BY component
    """
    )


def _simhash_sig_cte() -> str:
    votes = ",\n                 ".join(
        f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
        for j in range(_SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN v_{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END"
        for j in range(_SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
        ),
        h AS (
          SELECT doc_id, {_hash64_sql('tok', 0)} AS hv FROM toks
        ),
        votes AS (
          SELECT doc_id,
                 {votes}
          FROM h GROUP BY doc_id
        ),
        sig AS (
          SELECT doc_id AS id, ({sig}) AS simhash FROM votes
        )
"""


_QUALITY_SQL = """floor((
            least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
            + (1.0 - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                     / greatest(length(text), 1)) * 0.3
            + least((length(regexp_replace(trim(text), '\\s+', '', 'g'))
                     / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1)) / 10.0, 1.0) * 0.2
            ) * 10000 + 0.5) / 10000.0"""


def _lang_id_oracle() -> str:
    from datafusion_archive_spark.functions.text import LANG_MARKERS

    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        terms = " + ".join(
            f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS INT)"
            for m in markers
        )
        score_exprs.append(f"({terms}) AS s_{lang}")
    scores = ",\n                 ".join(score_exprs)
    langs = list(LANG_MARKERS)
    mx = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    case = " ".join(f"WHEN s_{la} = mx THEN '{la}'" for la in langs)
    return f"""
        WITH padded AS (
          SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents
        ),
        scored AS (
          SELECT doc_id,
                 {scores}
          FROM padded
        ),
        mxd AS (
          SELECT doc_id, s_en, s_de, s_fr, s_es, {mx} AS mx FROM scored
        )
        SELECT doc_id,
               CASE WHEN mx <= 0 THEN 'unknown' {case} ELSE 'unknown' END
                 AS lang_pred
        FROM mxd
    """


#: normalized-vector CTE body — all embedding oracles dot pre-normalized
#: vectors, mirroring operators.similarity._normalized exactly
_NORM_VECS_SQL = (
    "SELECT vec_id, list_transform(embedding::DOUBLE[], "
    "x -> x / sqrt(list_dot_product(embedding::DOUBLE[], "
    "embedding::DOUBLE[]))) AS v FROM embeddings"
)

_COSINE_SQL = "round(list_dot_product({a}, {b}), 6)"


def _ann_lsh_oracle(planes: int = 12, bands: int = 4, k: int = 5) -> str:
    """SQL twin of similarity.lsh_cosine_topk: same hyperplanes (repr
    round-trips IEEE doubles exactly), same banding, same tiebreaks."""
    hp = similarity._hyperplanes(64, planes, seed=42)
    bits_per_band = planes // bands
    mask = (1 << bits_per_band) - 1
    sig_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in plane)}]) >= 0 "
        f"THEN {1 << p}::BIGINT ELSE 0 END"
        for p, plane in enumerate(hp)
    )
    bands_vals = ", ".join(f"({b})" for b in range(bands))
    return f"""
        WITH c AS ({_NORM_VECS_SQL}),
        sig AS (SELECT vec_id, v, ({sig_terms}) AS sig FROM c),
        banded AS (
          SELECT vec_id, v, band,
                 (sig >> (band * {bits_per_band})) & {mask} AS band_val
          FROM sig, (VALUES {bands_vals}) AS b(band)
        ),
        qb AS (SELECT * FROM banded WHERE vec_id < 10),
        cand AS (
          SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
                 min({_COSINE_SQL.format(a='qb.v', b='cb.v')}) AS cosine
          FROM qb JOIN banded cb
            ON qb.band = cb.band AND qb.band_val = cb.band_val
               AND qb.vec_id <> cb.vec_id
          GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
                 ) AS INTEGER) AS rank
          FROM cand
        ) t WHERE rank <= {k}
    """


#: planted-corpus twin of _planted_embeddings: base vectors plus a
#: 0.9·v + 0.1·reverse(v) twin of every vec_id < 25 at id+100000
_PLANTED_VECS_SQL = """
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
          UNION ALL
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(list_zip(embedding::DOUBLE[],
                                         list_reverse(embedding::DOUBLE[])),
                   s -> s[1] * 0.9::DOUBLE + s[2] * 0.1::DOUBLE) AS e
          FROM embeddings WHERE vec_id < 25
"""


def _near_dup_lsh_oracle(
    threshold: float = 0.9, planes: int = 12, bands: int = 4
) -> str:
    """SQL twin of q_embedding_near_dup: the same planted corpus,
    hyperplane signatures (constants inlined — repr round-trips IEEE
    doubles exactly), banded self-join candidates, exact-cosine
    verification."""
    hp = similarity._hyperplanes(64, planes, seed=42)
    bits_per_band = planes // bands
    mask = (1 << bits_per_band) - 1
    sig_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in plane)}]) >= 0 "
        f"THEN {1 << p}::BIGINT ELSE 0 END"
        for p, plane in enumerate(hp)
    )
    bands_vals = ", ".join(f"({b})" for b in range(bands))
    return f"""
        WITH allv AS ({_PLANTED_VECS_SQL}),
        c AS (
          SELECT vec_id, list_transform(e,
                   x -> x / sqrt(list_dot_product(e, e))) AS v
          FROM allv
        ),
        sig AS (SELECT vec_id, v, ({sig_terms}) AS sig FROM c),
        banded AS (
          SELECT vec_id, v, band,
                 (sig >> (band * {bits_per_band})) & {mask} AS band_val
          FROM sig, (VALUES {bands_vals}) AS b(band)
        ),
        cand AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 min({_COSINE_SQL.format(a='a.v', b='b.v')}) AS cosine
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_val = b.band_val
               AND a.vec_id < b.vec_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, cosine FROM cand WHERE cosine >= {threshold}
    """


def _ann_ivf_oracle(k: int = 5, nprobe: int = 2, stride: int = 50) -> str:
    """SQL twin of similarity.ivf_topk (same centroid subset,
    assignment argmax, probe ranking and tiebreaks)."""
    cos_qc = _COSINE_SQL.format(a="q.v", b="ct.cv")
    return f"""
        WITH c AS ({_NORM_VECS_SQL}),
        cents AS (SELECT vec_id AS list_id, v AS cv FROM c
                  WHERE vec_id % {stride} = 0),
        assign AS (
          SELECT nid, v, list_id FROM (
            SELECT c.vec_id AS nid, c.v, cents.list_id,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY list_dot_product(c.v, cents.cv) DESC,
                       cents.list_id
                   ) AS rn
            FROM c, cents
          ) t WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, v FROM c WHERE vec_id < 10),
        probes AS (
          SELECT query_id, v, list_id FROM (
            SELECT q.query_id, q.v, ct.list_id,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY list_dot_product(q.v, ct.cv) DESC,
                       ct.list_id
                   ) AS rn
            FROM q, cents ct
          ) t WHERE rn <= {nprobe}
        ),
        scored AS (
          SELECT p.query_id, a.nid AS neighbor_id,
                 {_COSINE_SQL.format(a='p.v', b='a.v')} AS cosine
          FROM probes p JOIN assign a ON p.list_id = a.list_id
          WHERE p.query_id <> a.nid
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
                 ) AS INTEGER) AS rank
          FROM scored
        ) t WHERE rank <= {k}
    """


def q_train_val_test_split(spark, sf):
    """Deterministic hash-based 80/10/10 split assignment — map-only
    (operators.splits); the oracle reproduces the identical md5-bucket
    CASE, pinning cross-engine split stability."""
    d = _t(spark, sf, "documents").select("doc_id", "source")
    return splits.assign_splits(d, id_col="doc_id")


def q_bm25_topk(spark, sf):
    """BM25 keyword retrieval (functions.ranking): top-15 documents
    for a 3-term query. Contributions are summed as integer micros so
    the score and the top-k cut are partition-order-independent and
    engine-exact."""
    return ranking.bm25_topk(
        _t(spark, sf, "documents"),
        ["merge", "vector", "window"],
        k=15,
    )


def q_dedup_editdistance(spark, sf):
    """Levenshtein near-dup pairs with prefix blocking + length
    pre-filter. Planted twins (doc_id < 25 re-appended with a 6-char
    suffix at id+200000) guarantee non-vacuous hits: each twin shares
    its original's 16-char block and sits at distance 6 ≤ 8."""
    base = _t(spark, sf, "documents").select("doc_id", "text")
    pert = base.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq zq")).alias("text"),
    )
    return dedup.editdistance_pairs(
        base.unionByName(pert), max_dist=8, prefix_len=16
    )


QUERIES = {
    "text_stats": q_text_stats,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "text_clean": q_text_clean,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_signatures": q_dedup_minhash_signatures,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "dedup_simhash_signatures": q_dedup_simhash_signatures,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "ann_bruteforce": q_ann_bruteforce,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_exact": q_embedding_near_dup_exact,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "decontaminate_ngram_overlap": q_decontaminate,
    "vocab_topk": q_vocab_topk,
    "udaf_median_tokens": q_udaf_median,
    "chunk_documents": q_chunk_documents,
    "pack_sequences": q_pack_sequences,
    "train_val_test_split": q_train_val_test_split,
    "bm25_topk": q_bm25_topk,
    "dedup_editdistance": q_dedup_editdistance,
}


ORACLES = {
    "text_stats": f"""
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS char_count,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER)
                 AS tokens_ws,
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS tokens_bpe,
               round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                     / greatest(length(text), 1), 4) AS punct_ratio,
               round(CAST(len(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       t -> t IN ('the','a','an','and','or','of','to','in','is','it')
                     )) AS DOUBLE)
                     / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4)
                 AS stopword_ratio,
               round(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                     / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4)
                 AS avg_token_len,
               {_QUALITY_SQL} AS quality
        FROM documents
    """,
    "text_lang_id": _lang_id_oracle(),
    "text_fingerprint": f"""
        WITH wl AS (SELECT doc_id, text, {_WORDS} AS w FROM documents)
        SELECT doc_id,
               md5({_NORM}) AS fp,
               list_min(list_transform({_shingles_sql(8)},
                 s -> {_hash64_sql('s', 0)})) AS rolling_fp
        FROM wl
    """,
    "text_clean": r"""
        WITH decorated AS (
          SELECT doc_id,
                 '<b>u' || CAST(doc_id AS VARCHAR) || '@example.com</b> '
                 || text || ' https://ex.com/' || CAST(doc_id AS VARCHAR)
                   AS t
          FROM documents
        ),
        cleaned AS (
          SELECT doc_id,
                 trim(regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(t, '<[^>]+>', ' ', 'g'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                     'https?://[^\s]+', '<URL>', 'g'),
                   '\s+', ' ', 'g')) AS ct
          FROM decorated
        ),
        toks AS (
          SELECT doc_id, ct,
                 string_split(lower(trim(
                   regexp_replace(ct, '\s+', ' ', 'g'))), ' ') AS tk
          FROM cleaned
        )
        SELECT doc_id,
               md5(lower(trim(regexp_replace(ct, '\s+', ' ', 'g'))))
                 AS fp_clean,
               floor(CAST(list_max(list_transform(list_distinct(tk),
                       t -> len(list_filter(tk, x -> x = t))))
                     AS DOUBLE) / len(tk) * 10000 + 0.5) / 10000.0
                 AS repetition,
               CAST(len(regexp_split_to_array(trim(ct), '\s+'))
                    AS INTEGER) AS tokens_clean
        FROM toks
    """,
    "dedup_exact": f"""
        SELECT md5({_NORM}) AS fp,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "dedup_ngram_jaccard": f"""
        WITH wl AS (
          SELECT doc_id, {_WORDS} AS w FROM documents
        ),
        sh_all AS (
          SELECT DISTINCT doc_id, unnest({_shingles_sql(3)}) AS shingle FROM wl
        ),
        rare AS (
          SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= 50
        ),
        sh AS (
          SELECT sh_all.* FROM sh_all JOIN rare USING (shingle)
        ),
        sizes AS (
          SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               floor((inter / (na.n + nb.n - inter)) * 10000 + 0.5) / 10000.0
                 AS jaccard
        FROM inter
        JOIN sizes na ON id_a = na.doc_id
        JOIN sizes nb ON id_b = nb.doc_id
        WHERE floor((inter / (na.n + nb.n - inter)) * 10000 + 0.5) / 10000.0
              >= 0.2
    """,
    "dedup_minhash_signatures": _MINHASH_SIG_CTE
    + """
        SELECT * FROM sig
    """,
    "dedup_minhash_lsh": _minhash_lsh_oracle(),
    "dedup_clusters": _dedup_clusters_oracle(),
    "dedup_simhash_signatures": _simhash_sig_cte()
    + """
        SELECT * FROM sig
    """,
    "dedup_simhash_pairs": _simhash_sig_cte()
    + f"""
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                 AS hamming
        FROM sig a JOIN sig b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_BANDS - 1}
    """,
    "ann_bruteforce": f"""
        WITH c AS ({_NORM_VECS_SQL}),
        q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_COSINE_SQL.format(a='q.v', b='c.v')} AS cosine
          FROM q, c WHERE q.vec_id <> c.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
                 ) AS INTEGER) AS rank
          FROM scored
        ) t WHERE rank <= 5
    """,
    "embedding_near_dup": _near_dup_lsh_oracle(),
    "embedding_near_dup_exact": f"""
        WITH allv AS ({_PLANTED_VECS_SQL}),
        c AS (
          SELECT vec_id, list_transform(e,
                   x -> x / sqrt(list_dot_product(e, e))) AS v
          FROM allv
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_COSINE_SQL.format(a='a.v', b='b.v')} AS cosine
        FROM c a JOIN c b ON a.vec_id < b.vec_id
        WHERE {_COSINE_SQL.format(a='a.v', b='b.v')} >= 0.9
    """,
    "ann_lsh": _ann_lsh_oracle(),
    "ann_ivf": _ann_ivf_oracle(),
    "multimodal_decode": """
        SELECT doc_id,
               'image' AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
               md5(text) AS content_md5,
               CAST(64 + octet_length(encode(text)) % 577 AS INTEGER) AS width,
               CAST(64 + (octet_length(encode(text)) * 31) % 389 AS INTEGER) AS height,
               CAST(1 + octet_length(encode(text)) % 7 AS INTEGER) AS n_frames
        FROM documents
    """,
    "multimodal_frame_sample": """
        SELECT doc_id, md5(text) AS content_md5,
               CAST(u AS INTEGER) AS frame_idx
        FROM documents,
             unnest(range(0, 1 + octet_length(encode(text)) % 7, 2)) AS t(u)
    """,
    "decontaminate_ngram_overlap": f"""
        WITH wl AS (
          SELECT doc_id, {_WORDS} AS w FROM documents
        ),
        grams AS (
          SELECT DISTINCT id, {_hash64_sql('s', 0)} AS gh FROM (
            SELECT doc_id AS id, unnest({_shingles_sql(8)}) AS s FROM wl
          )
        ),
        bench AS (SELECT DISTINCT gh FROM grams WHERE id < 20),
        hits AS (
          SELECT id, count(*) AS n FROM grams JOIN bench USING (gh)
          GROUP BY id
        )
        SELECT d.doc_id,
               coalesce(h.n, 0) AS n_shared_grams,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.id
    """,
    "vocab_topk": f"""
        SELECT token, count(*) AS freq FROM (
          SELECT unnest({_WORDS}) AS token FROM documents
        ) GROUP BY token
        ORDER BY freq DESC, token
        LIMIT 100
    """,
    "udaf_median_tokens": """
        SELECT lang,
               quantile_cont(
                 len(regexp_split_to_array(trim(text), '\\s+')), 0.5)
                 AS median_tokens
        FROM documents GROUP BY lang
    """,
    "chunk_documents": f"""
        WITH wl AS (SELECT doc_id, {_WORDS} AS w FROM documents)
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_idx,
               array_to_string(w[i*32+1 : i*32+32], ' ') AS chunk_text,
               CAST(least(32, len(w) - i*32) AS INTEGER) AS n_tokens
        FROM wl,
             unnest(range(0, CAST(ceil(len(w) / 32.0) AS BIGINT))) AS t(i)
    """,
    "pack_sequences": f"""
        WITH wl AS (SELECT doc_id, {_WORDS} AS w FROM documents),
        chunks AS (
          SELECT doc_id,
                 CAST(i AS INTEGER) AS chunk_idx,
                 CAST(least(32, len(w) - i*32) AS INTEGER) AS n_tokens,
                 CAST(doc_id % 32 AS INTEGER) AS shard
          FROM wl,
               unnest(range(0, CAST(ceil(len(w) / 32.0) AS BIGINT))) AS t(i)
        ),
        packed AS (
          SELECT shard,
                 CAST(floor((sum(n_tokens) OVER (
                        PARTITION BY shard ORDER BY doc_id, chunk_idx
                        ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0)
                      AS INTEGER) AS seq_id,
                 n_tokens
          FROM chunks
        )
        SELECT shard, seq_id,
               count(*) AS n_chunks,
               CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
        FROM packed GROUP BY shard, seq_id
    """,
    "train_val_test_split": """
        SELECT doc_id, source,
               CASE WHEN h < 8000 THEN 'train'
                    WHEN h < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id, source,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
                                 1, 15))::BIGINT % 10000 AS h
          FROM documents
        ) t
    """,
    # BM25 twin: every float literal is embedded as CAST('<repr>' AS
    # DOUBLE) so DuckDB parses the exact IEEE double Spark's plan
    # carries (k1+1=2.2, k1=1.2, 1-b=0.25, b=0.75); contributions are
    # rounded to integer micros before the sum so the score and the
    # top-k cut are partition-order-independent in both engines.
    "bm25_topk": f"""
        WITH b2 AS (
          SELECT doc_id, w, len(w) AS dl
          FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
        ),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM b2),
        tok AS (SELECT doc_id, dl, unnest(w) AS token FROM b2),
        tf AS (
          SELECT doc_id, dl, token, count(*) AS tf
          FROM tok WHERE token IN ('merge', 'vector', 'window')
          GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        scored AS (
          SELECT tf.doc_id,
                 CAST(floor(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * ((tf * CAST('2.2' AS DOUBLE))
                      / (tf + CAST('1.2' AS DOUBLE)
                         * (CAST('0.25' AS DOUBLE)
                            + CAST('0.75' AS DOUBLE) * dl / avgdl)))
                   * 1000000 + 0.5) AS BIGINT) AS micros
          FROM tf JOIN dfreq USING (token), stats
        ),
        agg AS (
          SELECT doc_id, CAST(sum(micros) AS BIGINT) AS micros
          FROM scored GROUP BY 1
        ),
        topk AS (
          SELECT doc_id, micros FROM agg
          ORDER BY micros DESC, doc_id LIMIT 15
        )
        SELECT doc_id,
               micros / 1000000.0 AS score,
               CAST(row_number() OVER (ORDER BY micros DESC, doc_id)
                    AS INTEGER) AS rank
        FROM topk
    """,
    "dedup_editdistance": f"""
        WITH all_docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 200000 AS doc_id, text || ' zq zq' AS text
          FROM documents WHERE doc_id < 25
        ),
        t2 AS (
          SELECT id, norm,
                 substr(norm, 1, 16) AS block,
                 length(norm) AS len
          FROM (SELECT doc_id AS id, {_NORM} AS norm FROM all_docs)
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(levenshtein(a.norm, b.norm) AS INTEGER) AS dist
        FROM t2 a JOIN t2 b
          ON a.block = b.block AND a.id < b.id
             AND abs(a.len - b.len) <= 8
        WHERE levenshtein(a.norm, b.norm) <= 8
    """,
}
