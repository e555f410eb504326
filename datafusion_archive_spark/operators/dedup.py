"""Deduplication operators for document corpora.

Six strategies, all expressed as DataFrame compositions that scale to
100 TB on a real cluster:

- :func:`exact_duplicates` — hash-groupBy on a content fingerprint.
  One shuffle on a 128-bit key; fingerprints computed scan-side.
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via a shingle
  self-join. Shuffle key = shingle; hot shingles are pre-filtered by
  document frequency (stop-shingle removal) to bound skew.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash +
  LSH banding: candidate generation cost is O(docs × bands), never
  O(docs²); the quadratic verify step runs only inside tiny buckets.
- :func:`simhash64` / :func:`simhash_near_pairs` — 64-bit SimHash with
  banded blocking for Hamming-distance search.
- :func:`editdistance_pairs` — banded Levenshtein with prefix
  blocking; the quadratic kernel runs only inside same-prefix blocks.
- embedding near-dup lives in
  :mod:`datafusion_archive_spark.operators.similarity`
  (:func:`~datafusion_archive_spark.operators.similarity.cosine_pairs`).

The MinHash and SimHash pair searches and :func:`dedup_clusters` build
their signatures in Spark and checkpoint them
(:func:`~datafusion_archive_spark.operators.util.materialized`); the
row count observed on that job picks the path. At most
``util.GRAPH_ROW_CAP`` documents, one Arrow task
(:func:`~datafusion_archive_spark.operators.util.one_task`) bands the
signatures, verifies the candidates and emits the rows with NumPy; the
banding (:func:`_bucket_pairs`) is shared by all three kernels. Above
the cap the banding and the candidate self-join run as Spark jobs.
Both paths give the same rows.

Every hash is md5-derived (:func:`~datafusion_archive_spark.functions.
text.hash64`) so an external SQL oracle can reproduce results exactly.
The reference engine has no dedup surface; this is north-star work
(BASELINE.json).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from datafusion_archive_spark.functions import text as TX
from datafusion_archive_spark.functions.rounding import round_half_up
from datafusion_archive_spark.operators import util as _util
from datafusion_archive_spark.operators.util import (
    cached,
    loop_session as _loop_session,
    materialized,
    one_task,
    release_later,
    spread,
    unpersist_checkpoint,
)


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by normalized-content fingerprint.

    Returns one row per distinct content: ``fp`` (md5 hex), ``keep_id``
    (min id — the canonical survivor), ``n_copies``.

    Scale: a single hash-aggregate; the fingerprint is computed in the
    scan stage and the shuffle moves only (fp, id) pairs, not text.
    """
    return (
        df.select(
            TX.fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _nonempty(df: DataFrame, text_col: str) -> DataFrame:
    """Drop null / empty / whitespace-only documents before shingle or
    token hashing: they carry no content, and their degenerate single
    shingle (the empty string) would otherwise make every empty doc a
    'near-duplicate' of every other. Exact dedup keeps them (same-
    fingerprint grouping of empties IS meaningful there)."""
    return df.filter(F.length(TX.normalize_text(F.col(text_col))) > 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    side_pred=None,
) -> DataFrame:
    """Exact pairwise Jaccard similarity over k-word shingle sets,
    returning pairs ``(id_a, id_b, jaccard)`` with
    ``jaccard >= threshold`` — ``id_a < id_b`` when ``side_pred`` is
    None, otherwise ``id_a`` is the predicate side.

    ``side_pred`` (round 16, ADVICE r15): an optional id-column
    predicate restricting WHICH pairs are enumerated — side a holds
    rows where ``side_pred(id)`` is true, side b its complement, and
    the self-join pairs a×b only (no ``id_a < id_b`` constraint; the
    sides are disjoint so orientation is fixed by the predicate).
    This is the incremental-dedup restriction (guide §3.2 — restrict
    BEFORE the quadratic step): a NEW×CORPUS join never materializes
    the corpus² candidate term. Shingle building, the stop-shingle
    cap (still computed over the WHOLE corpus before the split), the
    per-doc sizes (side-independent), and the Jaccard formula are
    the one shared kernel; q_dedup_incremental previously inlined
    all of it.

    Plan shape: explode distinct shingles → self-join on shingle →
    count co-occurrences → join per-doc set sizes → Jaccard. The only
    quadratic term is per-shingle (documents sharing a shingle), so
    ``max_shingle_df`` drops shingles whose document frequency exceeds
    the cap — the standard stop-shingle guard that keeps the self-join
    skew-free at corpus scale (AQE skew-join handles the remainder).

    Null/empty/whitespace-only documents are excluded (via
    :func:`_nonempty`): they have no shingles, and without the guard
    every empty document would pair with every other at jaccard 1.0
    through the single empty shingle.

    Precondition (round 15): ``id_col`` must be unique per row — true
    for every caller (document ids). Under it the exploded rows are
    globally unique by construction (array_distinct de-duplicates
    within a document), so the old corpus-wide ``.distinct()`` — a
    full Exchange of every (id, shingle) — was doing nothing and is
    dropped (same argument as minhash_estimate_audit, r15).
    """
    shingles = (
        spread(_nonempty(df, text_col)).select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(TX.word_shingles(F.col(text_col), k))
            ).alias("shingle"),
        )
    )
    # reused by three plan branches (sizes, join-left, join-right);
    # persisting avoids recomputing the explode+distinct each time
    shingles = cached(shingles)
    if max_shingle_df is not None:
        rare = (
            shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        # cached (round 16): the capped frame also feeds all three
        # branches; uncached, the cap join re-ran for each
        shingles = cached(shingles.join(rare, "shingle"))

    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n"))

    if side_pred is None:
        a = shingles.alias("a")
        b = shingles.alias("b")
        cond = (F.col("a.shingle") == F.col("b.shingle")) & (
            F.col("a.id") < F.col("b.id")
        )
    else:
        # disjoint sides: orientation is fixed by the predicate, so
        # the id ordering constraint is unnecessary (and wrong — a
        # corpus id below a new id must still pair)
        a = shingles.filter(side_pred(F.col("id"))).alias("a")
        b = shingles.filter(~side_pred(F.col("id"))).alias("b")
        cond = F.col("a.shingle") == F.col("b.shingle")
    inter = (
        a.join(b, cond)
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            # half-up formula (not F.round): a small-integer ratio can
            # land exactly on a decimal midpoint, where Spark and
            # external engines disagree — see functions.rounding
            round_half_up(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact pairwise shingle CONTAINMENT — ``|A ∩ B| / |A|`` — the
    asymmetric near-dup relation Jaccard misses: a short document
    embedded verbatim inside a long one scores near 1.0 containment
    but low Jaccard (the union is dominated by the long doc). This is
    the doc-in-doc signal used to drop quoted/aggregated pages from
    training corpora (Broder's containment, the same measure
    super-shingle systems estimate).

    Returns ``(id_a < id_b, containment_a_in_b, containment_b_in_a)``
    where either direction clears ``threshold``. Plan shape and scale
    behavior are identical to :func:`ngram_jaccard_pairs` — the
    intersection self-join is per-shingle linear under the
    ``max_shingle_df`` stop-shingle cap; only the final ratio differs
    (per-side size instead of union). Same unique-id precondition and
    dropped redundant distinct as :func:`ngram_jaccard_pairs` (r15).
    """
    shingles = (
        spread(_nonempty(df, text_col)).select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(TX.word_shingles(F.col(text_col), k))
            ).alias("shingle"),
        )
    )
    shingles = cached(shingles)
    if max_shingle_df is not None:
        rare = (
            shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        shingles = shingles.join(rare, "shingle")

    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n"))

    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "cont_a_in_b",
            round_half_up(F.col("inter") / F.col("n_a"), 4),
        )
        .withColumn(
            "cont_b_in_a",
            round_half_up(F.col("inter") / F.col("n_b"), 4),
        )
        .filter(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= threshold
        )
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
    )


#: Mersenne prime 2^31-1 — modulus of the universal hash family below.
MINHASH_PRIME = 2147483647


def minhash_affine_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash function i of the universal
    family ``h_i(x) = ((base(x) mod p) * a + b) mod p`` — derived from
    md5 so any engine can reproduce them. a ∈ [1, p-1], b ∈ [0, p-1];
    the product stays < 2^62, so no int64 overflow (ANSI-safe)."""
    import hashlib

    a = int(hashlib.md5(f"minhash-a:{i}".encode()).hexdigest()[:8], 16) % (
        MINHASH_PRIME - 1
    ) + 1
    b = int(hashlib.md5(f"minhash-b:{i}".encode()).hexdigest()[:8], 16) % (
        MINHASH_PRIME
    )
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """Per-document MinHash signature via a universal hash family:
    ONE md5 per shingle (``base = hash64(shingle, 0)``), then
    ``h_i = ((base mod p) * a_i + b_i) mod p`` per hash function —
    16× fewer md5 evaluations than hashing per-seed, with the same
    collision statistics (standard affine MinHash construction).

    Shape: explode distinct shingles once, take per-document mins in a
    single hash aggregation (map-side partial combine ships just
    num_hashes longs per doc). One pass over the text — an
    array_min-per-column formulation would recompute the shingle
    pipeline num_hashes times (Catalyst collapses projections without
    cross-column CSE).
    """
    ex = spread(_nonempty(df, text_col)).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(TX.word_shingles(F.col(text_col), k))
        ).alias("shingle"),
    ).select(
        "id", (TX.hash64(F.col("shingle"), 0) % MINHASH_PRIME).alias("base")
    )
    # expr strings, not chained Column ops — see simhash64 note on
    # py4j plan-construction cost
    aggs = []
    for i in range(num_hashes):
        a, b = minhash_affine_params(i)
        aggs.append(
            F.expr(f"min((base * {a}L + {b}L) % {MINHASH_PRIME}L)").alias(
                f"mh_{i}"
            )
        )
    return ex.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH banding near-dup detection.

    Signatures are split into ``bands`` bands of ``num_hashes/bands``
    rows; documents agreeing on any full band become candidate pairs
    (shuffle key = (band index, band values) — cardinality ~#docs×bands,
    never quadratic). Candidates are then verified with the *estimated*
    Jaccard = fraction of agreeing minhashes, keeping pairs ≥ threshold.

    Returns ``(id_a < id_b, est_jaccard)``.

    The signatures are checkpointed (id + num_hashes longs/doc ≈ 136 B
    — ~140 GB even for 10^9 docs, spillable), and :func:`lsh_pairs`
    picks the path from the row count observed on that job.
    """
    assert num_hashes % bands == 0
    sig, n_docs = materialized(
        minhash_signatures(df, text_col, id_col, num_hashes, k)
    )
    return lsh_pairs(sig, n_docs, num_hashes, bands, threshold)


def lsh_pairs(
    sig: DataFrame,
    n_docs: int,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The pairs of :func:`minhash_lsh_pairs` over a materialized
    signature table ``(id, mh_0, ...)`` of ``n_docs`` rows, so callers
    that band one signature table several ways build it once.

    At most util.GRAPH_ROW_CAP documents: a lazy util.one_task frame
    bands, verifies and emits the pairs in one Python worker
    (_lsh_pairs_kernel). Above it: the Spark banding, candidate
    self-join and verify filter (_lsh_join). Both give the same rows."""
    assert num_hashes % bands == 0
    if n_docs > _util.GRAPH_ROW_CAP:
        return _lsh_join(sig, num_hashes, bands, threshold)
    typ = sig.schema["id"].dataType.simpleString()
    kernel = functools.partial(
        _lsh_pairs_kernel,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    return one_task(
        sig, kernel, f"id_a {typ}, id_b {typ}, est_jaccard double"
    )


def _lsh_join(
    sig: DataFrame, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    """The LSH banding, candidate self-join and verify filter of
    :func:`minhash_lsh_pairs` over a signature table ``(id, mh_0,
    ...)``, which the plan reads several times: pass it materialized."""
    rows_per_band = num_hashes // bands
    mh_cols = [f"mh_{i}" for i in range(num_hashes)]
    band_structs = []
    for b in range(bands):
        band_cols = mh_cols[b * rows_per_band : (b + 1) * rows_per_band]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", *[F.col(c) for c in band_cols]).alias(
                    "bucket"
                ),
            )
        )
    buckets = sig.select(
        "id", F.explode(F.array(*band_structs)).alias("bb"), *mh_cols
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"), *mh_cols)

    a = buckets.alias("a")
    b = buckets.alias("b")
    agree = F.expr(
        " + ".join(f"IF(a.{c} = b.{c}, 1, 0)" for c in mh_cols)
    )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (agree / F.lit(float(num_hashes))).alias("est_jaccard_raw"),
        )
        # a pair can match in several bands — dedupe candidates
        .groupBy("id_a", "id_b")
        .agg(F.round(F.min("est_jaccard_raw"), 4).alias("est_jaccard"))
    )
    return cand.filter(F.col("est_jaccard") >= threshold)


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """Per-document SimHash: each whitespace token votes ±1 on each of
    ``bits`` bit positions of its 60-bit md5-derived hash; the sign of
    the per-position sum forms the signature.

    Implemented as explode(tokens) → one hash per token → bit-slice
    votes aggregated per document — a single shuffle on doc id with
    map-side partial aggregation. ``bits`` ≤ 60 because
    :func:`~datafusion_archive_spark.functions.text.hash64` yields 60
    usable bits.
    """
    bits = min(bits, 60)
    # md5-hash each token ONCE in its own projection; the packed vote
    # aggregates then bit-slice the materialized long. Inlining the
    # hash into each aggregate would evaluate the md5 per slice —
    # CollapseProject keeps non-cheap multi-referenced aliases as a
    # separate projection, same pattern as minhash_signatures.
    tokens = spread(_nonempty(df, text_col)).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(TX.normalize_text(F.col(text_col)), " ")
        ).alias("tok"),
    ).select("id", TX.hash64(F.col("tok"), seed=0).alias("th"))
    # Bit-packed voting: instead of `bits` separate ±1-sum columns
    # (a 60-long-wide aggregation buffer shuffled per doc), deposit
    # each hash bit into a 16-bit lane of ceil(bits/4) packed longs
    # and sum those. Lane g*4+f of s_g counts tokens whose bit j was
    # set (cnt_j ≤ token count, so lanes never carry for docs up to
    # 65 535 tokens — far above any sane document; pre-chunk longer
    # ones). The ±1 vote sign is recovered after the aggregate:
    # sum(±1) > 0  ⟺  2·cnt_j > n. Shuffle width drops 4× (15 longs
    # + count vs 60 longs) and the per-token CASE WHENs disappear.
    # Expressions are built as single SQL strings (F.expr), not
    # chained Column ops: 60 bit positions × several py4j calls each
    # costs ~2 s of driver-side plan construction PER QUERY BUILD —
    # measured 2.6 s chained vs ~0 s for one expr() round-trip.
    lane_bits = 16
    lanes_per_long = 64 // lane_bits
    n_packed = -(-bits // lanes_per_long)
    packed = []
    for g in range(n_packed):
        terms = " + ".join(
            f"shiftleft(shiftright(th, {g * lanes_per_long + f}) & 1, "
            f"{lane_bits * f})"
            for f in range(lanes_per_long)
            if g * lanes_per_long + f < bits
        )
        packed.append(F.expr(f"sum({terms})").alias(f"s_{g}"))
    agg = tokens.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"), *packed
    )
    lane_mask = (1 << lane_bits) - 1
    sig_terms = []
    for j in range(bits):
        g, f = divmod(j, lanes_per_long)
        sig_terms.append(
            f"IF((shiftrightunsigned(s_{g}, {lane_bits * f}) & {lane_mask})"
            f" * 2 > n, {1 << j}L, 0L)"
        )
    sig = F.expr(" + ".join(sig_terms))
    return agg.select("id", sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    blocking_bands: int = 4,
    n_blocks: int | None = None,
) -> DataFrame:
    """Pairs of documents whose SimHash Hamming distance ≤
    ``max_hamming``.

    Blocking (``n_blocks=None``, the simple scheme): split the
    signature into ``blocking_bands`` contiguous bit-bands; by
    pigeonhole, any pair within distance ``blocking_bands - 1`` agrees
    exactly on at least one band, so the candidate join keys on
    (band index, band value) — never the doc² cross product.
    Verification computes the true popcount of XOR, so the OUTPUT is
    exact under either scheme; blocking only sets candidate volume.

    Combination blocking (``n_blocks`` set — Manku, Jain & Sarma,
    WWW'07): the simple scheme's band width is pinned to
    ``bits / (max_hamming + 1)`` (15 bits here), so RANDOM band
    collisions grow ~n²/2^15 — measurably super-linear once the corpus
    passes ~2^15 docs (tools/scale_probe_r11.log: 1022 → 9456 → 125398
    candidates at 2.5k/10k/40k docs). Instead split into ``n_blocks``
    blocks and key each candidate table on a COMBINATION of
    ``n_blocks - max_hamming`` blocks: ≤ ``max_hamming`` differing
    bits can dirty at most ``max_hamming`` blocks, so some kept
    combination agrees fully — the same pigeonhole exactness — while
    the join key widens to ``(n_blocks - max_hamming) * width`` bits
    (30 here for n_blocks=6), pushing random collisions out to ~2^30
    docs. Cost: C(n_blocks, n_blocks - max_hamming) exploded rows per
    doc (20 for (6,3)) — a constant factor on a linear shuffle, the
    right trade at 100 TB. Re-probed with (6,3): 733 → 2781 → 11763
    candidates at the same sizes — linear in docs, with the OUTPUT
    pair sets byte-identical to the simple scheme at every size.

    The signatures are checkpointed, and the row count observed on that
    job picks the path. At most util.GRAPH_ROW_CAP documents: a lazy
    util.one_task frame builds the same keys, verifies the candidates
    and emits the pairs in one Python worker (_simhash_pairs_kernel).
    Above it: the key explode and the candidate self-join as Spark
    jobs. Both give the same rows. A bad ``n_blocks`` raises
    ``ValueError`` before any Spark job runs.
    """
    bits = min(bits, 60)
    # each candidate key is a tuple of `width`-bit blocks of the
    # signature: one block per band in the simple scheme, the kept
    # combinations otherwise. Checked before the signature build, so
    # a bad argument raises with no Spark job.
    if n_blocks is None:
        width = bits // blocking_bands
        keys = [(i,) for i in range(blocking_bands)]
    else:
        from itertools import combinations

        if bits % n_blocks:
            raise ValueError(
                f"n_blocks={n_blocks} must divide the usable "
                f"signature width {bits}"
            )
        combo_size = n_blocks - max_hamming
        if combo_size < 1:
            raise ValueError(
                f"combination blocking needs n_blocks > max_hamming "
                f"(got {n_blocks} <= {max_hamming})"
            )
        width = bits // n_blocks
        keys = list(combinations(range(n_blocks), combo_size))
    block = (1 << width) - 1
    sig, n_docs = materialized(simhash64(df, text_col, id_col, bits))
    if n_docs <= _util.GRAPH_ROW_CAP:
        typ = sig.schema["id"].dataType.simpleString()
        kernel = functools.partial(
            _simhash_pairs_kernel,
            # equal keys <=> equal signature bits under the key's mask
            masks=[sum(block << (i * width) for i in key) for key in keys],
            max_hamming=max_hamming,
        )
        return one_task(
            sig, kernel, f"id_a {typ}, id_b {typ}, hamming int"
        )
    # Band/combination keys are built as ONE F.expr SQL string, not
    # chained Column ops: the (6,3) scheme's 20 structs × ~8 py4j
    # round-trips each cost a measured 0.64 s of driver-side plan
    # construction PER QUERY BUILD vs ~1 ms for the single expr()
    # round-trip — same pattern (and same measurement protocol) as
    # simhash64's packed votes and signature_col. The SQL is
    # value-identical: shiftrightunsigned/&/shiftleft/| on the same
    # long column, so plans differ only in how they were authored.
    # A key packs its blocks into one long (len(key) * width <= bits
    # <= 60, always fits).
    block_sql = [
        f"(shiftrightunsigned(simhash, {i * width}) & {block})"
        for i in range(bits // width)
    ]
    items = [
        "named_struct('band', {}, 'band_val', {})".format(
            kidx,
            " | ".join(
                f"shiftleft({block_sql[i]}, {pos * width})"
                if pos
                else block_sql[i]
                for pos, i in enumerate(key)
            ),
        )
        for kidx, key in enumerate(keys)
    ]
    blocked = sig.select(
        "id",
        "simhash",
        F.expr(f"explode(array({', '.join(items)}))").alias("bb"),
    ).select(
        "id", "simhash", F.col("bb.band").alias("band"),
        F.col("bb.band_val").alias("band_val"),
    )

    a, b = blocked.alias("a"), blocked.alias("b")
    xored = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xored)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _min_labels(u, v, n):
    """NumPy min-label union-find over the nodes 0..n-1 and the
    directed edges (u, v), which must hold both directions of every
    edge: each node's label is the smallest node of its component.
    Each round hooks every edge's u-root onto its smaller v-label,
    then jumps pointers to the roots. Hooking roots, not nodes, keeps
    rounds near log(n) (node labels: ~n/2 rounds on a shuffled path)."""
    import numpy as np

    lab = prev = np.arange(n)
    while True:
        lab = lab.copy()
        np.minimum.at(lab, lab[u], lab[v])
        while not np.array_equal(lab[lab], lab):
            lab = lab[lab]
        if np.array_equal(lab, prev):
            return lab
        prev = lab


def _cc_kernel(t):
    """util.one_task kernel: :func:`_min_labels` over the directed edge
    list, ids densified in sorted order (min label = min id)."""
    import numpy as np
    import pyarrow as pa

    typ = t.schema.field("u").type
    ids, inv = np.unique(
        np.concatenate([t["u"].to_numpy(), t["v"].to_numpy()]),
        return_inverse=True,
    )
    del t
    u, v = np.split(inv, 2)
    lab = _min_labels(u, v, len(ids))
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids, type=typ), pa.array(ids[lab], type=typ)],
        names=["node", "component"],
    )


def _est_jaccard(num_hashes):
    """``round(agree / num_hashes, 4)`` for agree = 0..num_hashes as
    Spark's ``F.round`` computes it: HALF_UP on the double's decimal
    string (``BigDecimal.valueOf``), not on its binary value."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    return np.array([
        float(
            Decimal(repr(k / num_hashes)).quantize(
                Decimal("0.0001"), ROUND_HALF_UP
            )
        )
        for k in range(num_hashes + 1)
    ])


def _id_sorted(t, cols):
    """The rows of the Arrow table ``t`` with a non-null ``id`` (a
    null id pairs with nothing), in id order so a smaller row index is
    a smaller id: the ids and each column of ``cols``, as NumPy."""
    import numpy as np
    import pyarrow.compute as pc

    if t["id"].null_count:  # filtering copies the table
        t = t.filter(pc.is_valid(t["id"]))
    ids = t["id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    return ids[order], [t[c].to_numpy()[order] for c in cols]


def _bucket_pairs(bands, n):
    """Candidate pairs of the rows 0..n-1, band by band: ``bands``
    yields each band's key columns, and rows with equal keys share a
    bucket. Yields ``(band, a, b)`` index arrays with a < b (a stable
    sort keeps row order within a bucket), for the pairs of each run
    of same-size buckets at most n candidates at a time (or one
    bucket's, if it alone has more), so the caller verifies them
    before the next chunk is made and never holds the candidate cross
    product. A pair that shares several bands comes once per band."""
    import numpy as np

    for band, cols in enumerate(bands):
        srt = np.lexsort(cols[::-1])
        new = np.zeros(n, bool)
        new[:1] = True
        for c in cols:
            c = c[srt]
            new[1:] |= c[1:] != c[:-1]
        starts = np.flatnonzero(new)
        sizes = np.diff(starts, append=n)
        for size in np.unique(sizes[sizes > 1]):
            first = starts[sizes == size]
            iu, ju = np.triu_indices(size, 1)
            step = max(1, n // len(iu))
            for k in range(0, len(first), step):
                members = srt[first[k : k + step, None] + np.arange(size)]
                yield band, members[:, iu].ravel(), members[:, ju].ravel()


def _lsh_band_pairs(mh, bands, keep):
    """The verified LSH pairs of the minhash columns ``mh``, as
    ``(a, b, agree)`` chunks of row indices (a < b) and agreeing
    minhash counts: each band of ``len(mh) / bands`` columns is a
    bucket key (equal tuples are equal bucket strings, as the values
    are non-null longs), a candidate is kept where ``keep[agree]``,
    and a pair that also shares an earlier band is dropped there, so
    each pair comes once."""
    import numpy as np

    per_band = len(mh) // bands
    keys = [mh[j : j + per_band] for j in range(0, len(mh), per_band)]
    for band, a, b in _bucket_pairs(keys, len(mh[0])):
        eq = [c[a] == c[b] for c in mh]
        agree = sum(eq)
        ok = keep[agree]
        for j in range(0, band * per_band, per_band):
            ok &= ~np.logical_and.reduce(eq[j : j + per_band])
        yield a[ok], b[ok], agree[ok]


def _lsh_pairs_kernel(t, num_hashes, bands, threshold):
    """util.one_task kernel of :func:`lsh_pairs`: the
    ``(id_a, id_b, est_jaccard)`` rows of :func:`_lsh_join` over the
    signature table ``(id, mh_0, ...)``, verified with the same
    ``round(agree/num_hashes, 4) >= threshold``."""
    import pyarrow as pa

    typ = t.schema.field("id").type
    ids, mh = _id_sorted(t, [f"mh_{i}" for i in range(num_hashes)])
    del t
    est = _est_jaccard(num_hashes)
    for a, b, agree in _lsh_band_pairs(mh, bands, est >= threshold):
        if len(a):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[a], type=typ),
                    pa.array(ids[b], type=typ),
                    pa.array(est[agree]),
                ],
                names=["id_a", "id_b", "est_jaccard"],
            )


def _lsh_cluster_kernel(t, num_hashes, bands, threshold):
    """util.one_task kernel of :func:`dedup_clusters`: the pairs of
    :func:`_lsh_pairs_kernel`, their connected components and one
    ``(keep_id, cluster_size)`` row per component, over the signature
    table ``(id, mh_0, ...)``. The worker holds verified edges, never
    the candidate cross product."""
    import numpy as np
    import pyarrow as pa

    typ = t.schema.field("id").type
    ids, mh = _id_sorted(t, [f"mh_{i}" for i in range(num_hashes)])
    del t
    keep = _est_jaccard(num_hashes) >= threshold
    edges = [(a, b) for a, b, _ in _lsh_band_pairs(mh, bands, keep)]
    if not edges:
        return
    a, b = (np.concatenate(e) for e in zip(*edges))
    del edges
    u, v = np.concatenate([a, b]), np.concatenate([b, a])
    del a, b
    lab = _min_labels(u, v, len(ids))
    roots, sizes = np.unique(lab, return_counts=True)
    big = sizes > 1
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids[roots[big]], type=typ), pa.array(sizes[big])],
        names=["keep_id", "cluster_size"],
    )


def _popcount(x):
    """Set bits of each element of the int64 array ``x`` (SWAR: numpy
    1.26 has no ``bitwise_count``)."""
    import numpy as np

    u = np.uint64
    x = x.view(u)
    x = x - ((x >> u(1)) & u(0x5555555555555555))
    x = (x & u(0x3333333333333333)) + ((x >> u(2)) & u(0x3333333333333333))
    x = (x + (x >> u(4))) & u(0x0F0F0F0F0F0F0F0F)
    return ((x * u(0x0101010101010101)) >> u(56)).astype(np.int32)


def _simhash_pairs_kernel(t, masks, max_hamming):
    """util.one_task kernel of :func:`simhash_near_pairs`: the
    ``(id_a, id_b, hamming)`` rows of its Spark join over the signature
    table ``(id, simhash)``. Each key's rows are bucketed by
    ``simhash & mask`` (equal masked bits are equal packed keys),
    sorted with the id as the tiebreak, so a pair comes as
    ``id_a < id_b``. A candidate is verified by the exact popcount of
    the XOR, and a pair that an earlier key already matched (no XOR
    bit under its mask) is dropped there, so each pair comes once."""
    import numpy as np
    import pyarrow as pa

    typ = t.schema.field("id").type
    ids, (s,) = _id_sorted(t, ["simhash"])
    del t
    for key, a, b in _bucket_pairs(([s & m] for m in masks), len(ids)):
        x = s[a] ^ s[b]
        ok = _popcount(x) <= max_hamming
        a, b, x = a[ok], b[ok], x[ok]
        ok = np.ones(len(x), bool)
        for m in masks[:key]:
            ok &= (x & m) != 0
        a, b, d = a[ok], b[ok], _popcount(x[ok])
        if len(a):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[a], type=typ),
                    pa.array(ids[b], type=typ),
                    pa.array(d),
                ],
                names=["id_a", "id_b", "hamming"],
            )


def _rewrap_checkpoint(ck: DataFrame) -> DataFrame:
    """Re-wrap an (eagerly) checkpointed DataFrame's materialized
    InternalRow RDD in a fresh relation, dropping the statistics the
    checkpoint carried over from its originating plan (see the caller
    comment: carried sizeInBytes compounds across self-join rounds
    until Catalyst's stats visitor dominates wall time). Uses the
    JVM-side internalCreateDataFrame so no row crosses the Python
    boundary."""
    jdf = ck._jdf
    spark = ck.sparkSession
    new_jdf = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(new_jdf, spark)


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Resolve near-duplicate candidate pairs into clusters: connected
    components, the standard way corpus dedup turns pairwise LSH
    matches into keep-one groups at scale.

    The row count of the de-duplicated directed edge list, observed on
    the job that materializes it, picks the path. At most 2 x
    util.GRAPH_ROW_CAP directed edges (the cap counts undirected
    edges, as for graph.pagerank): a lazy util.one_task frame labels
    the whole graph (_cc_kernel), with no round limit.
    Above it: min-label propagation in a util.loop_session child
    (AQE off, loop-sized shuffle width), each iteration a join + a
    min-aggregate, all shuffles on the node id.

    Each node starts labeled with itself; every iteration each node
    takes the min label over its neighbors in the graph UNION the
    label-pointer mapping (both directions — the hash-to-min trick:
    mins flow member → label-root → members, so star-shaped regions
    merge in O(1) rounds), then applies one POINTER JUMP
    (``L(u) ← L(L(u))`` — a self-join on the label table) to flatten
    label chains. Labels are min-monotone, so convergence is
    guaranteed; thin chain-of-stars tails can still take ~diameter/k
    rounds, which the default cap absorbs (the round-11b 240k-point
    geometric probe — largest component 115 nodes, diameter 32 —
    converges in 29 rounds, output exactly matching a union-find
    ground truth; plain propagation + a single jump did NOT converge
    in 20). Iteration stops early the first round nothing changes.

    Returns ``(node, component)`` where component = min node id in the
    cluster. Only nodes that appear in ``pairs`` are returned —
    singletons never enter the pair list by construction.

    Above the cap only, raises ``RuntimeError`` if labels were still
    changing after ``max_iterations`` — returning silently-split
    clusters would be a wrong answer, and a pathological long-chain
    graph (diameter > max_iterations) is a caller decision: raise the
    cap or switch to a path-doubling variant.
    """
    # the de-dup shuffle of the raw pair list (potentially the large
    # input) runs HERE, under the caller's conf — full shuffle width
    # and AQE apply to the one data-sized stage; its checkpoint job
    # also counts the edges, and the lazy one-task result reads the
    # checkpoint after this returns. Both directions come from one
    # pass over the pairs: a union of two projections would plan the
    # whole pair pipeline twice.
    edges, n_edges = materialized(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
                    F.struct(F.col(b_col).alias("u"), F.col(a_col).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )
    if n_edges <= 2 * _util.GRAPH_ROW_CAP:
        typ = edges.schema["u"].dataType.simpleString()
        return cached(
            one_task(edges, _cc_kernel, f"node {typ}, component {typ}")
        )
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    ).persist()
    # one real count of the (round-invariant) node set decides the
    # join strategy for every label-sized frame below: the stats
    # reset in _rewrap_checkpoint leaves Catalyst with no size
    # information, so without the hint even a 500-node toy graph pays
    # a full shuffle join per round (~2x wall at sf0.1). Label-sized
    # means <= n_nodes rows by construction (labels, neighbor_min,
    # the jump table, the changed-check side); `edges` itself can be
    # much larger and is never broadcast.
    n_nodes = labels.count()
    small = n_nodes <= _util.GRAPH_ROW_CAP

    def _bc(label_sized: DataFrame) -> DataFrame:
        return F.broadcast(label_sized) if small else label_sized

    changed = 0
    # the loop runs on a child session (AQE off, label-sized shuffle
    # width); the caller's session conf is never touched. edges/labels
    # are rebound to the child with their cached data shared (one
    # cache manager per context).
    with _loop_session(pairs.sparkSession, 2 * n_nodes + n_edges) as ls:
        edges_l = ls.handoff(edges)
        labels_l = ls.handoff(labels)
        # frees what the current round reads once the next round is
        # materialized: the persisted labels, then each round's
        # checkpoint (the rewrapped frame holds no blocks of its own)
        release = labels.unpersist
        for _ in range(max_iterations):
            # min over the ORIGINAL edges plus the LABEL-POINTER edges in
            # both directions. Plain propagation moves the min value one
            # graph-hop per round (Θ(diameter) rounds — a diameter-32
            # component in the 240k-point round-11b probe blew the cap),
            # and pointer jumps alone only shortcut label chains, which
            # random-id geometric clusters barely form. Treating the
            # label mapping as extra edges is the hash-to-min trick:
            # mins flow member -> label-root -> members, so star-shaped
            # regions merge in ~2 rounds regardless of their size and the
            # same probe converges in 29 rounds (exactly matching a
            # union-find ground truth) instead of not at all; only thin
            # chain tails still crawl, which the generous default cap
            # absorbs now that per-round cost is flat (see the stats
            # note below).
            label_edges = labels_l.select(
                F.col("node").alias("u"), F.col("component").alias("v")
            ).unionByName(
                labels_l.select(
                    F.col("component").alias("u"), F.col("node").alias("v")
                )
            )
            neighbor_min = (
                edges_l.unionByName(label_edges)
                .join(_bc(labels_l.withColumnRenamed("node", "v")), "v")
                .groupBy(F.col("u").alias("node"))
                .agg(F.min("component").alias("nmin"))
            )
            # _old rides along so convergence detection below reads it
            # straight off the materialized checkpoint instead of
            # re-joining new labels against the previous round's frame
            # (round 15: one broadcast-join job per round removed; the
            # cost is 8 bytes/row through the round's shuffles)
            stepped = labels_l.join(_bc(neighbor_min), "node", "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nmin", "component")
                ).alias("component"),
                F.col("component").alias("_old"),
            )
            # one pointer jump: L(u) ← L(L(u)), a label-only self-join
            # that flattens label chains so the next round's label edges
            # point near the root. With the label-pointer edges above,
            # more jumps buy nothing (the 240k round-11b probe converges
            # in 29 rounds with 1 jump or 3), and each is a self-join.
            jump = stepped.select(
                F.col("node").alias("jnode"),
                F.col("component").alias("jcomp"),
            )
            compressed = stepped.join(
                _bc(jump), stepped.component == jump.jnode, "left"
            ).select(
                "node",
                F.coalesce("jcomp", "component").alias("component"),
                "_old",
            )
            # localCheckpoint, not persist: persist caches *data* but the
            # logical plan still accrues one join per iteration — planning
            # cost (and plan-string size) grows without bound on
            # high-diameter graphs. Checkpointing truncates lineage so
            # every iteration plans against a materialized leaf.
            #
            # The convergence count rides the checkpoint's OWN job
            # (round 16, VERDICT r15 #3): a CollectMetrics node on the
            # frame being checkpointed is populated during the eager
            # materialization, so the separate per-round
            # filter(component != _old) count job disappears — one
            # fewer fixed-cost job per propagation round.
            obs = Observation()
            ck = compressed.observe(
                obs,
                F.count(
                    F.when(F.col("component") != F.col("_old"), 1)
                ).alias("n_changed"),
            ).localCheckpoint(eager=True)
            # ...but the checkpoint relation CARRIES the pre-checkpoint
            # plan's statistics, and Catalyst's size-only stats visitor
            # MULTIPLIES children's sizeInBytes across joins — with the
            # per-round self-joins the carried BigInt's bit-length
            # compounds ~2^(jumps+1)× per round, and by round ~7 the
            # stats visitor burns minutes per plan in BigInteger
            # Toom-Cook products (jstack-diagnosed, round 11b; the same
            # compounding capped the 240k-point probe even with one jump
            # per round). Re-wrapping the materialized InternalRow RDD in
            # a fresh relation resets the stats every round — JVM-side,
            # no Python data movement.
            rewrapped = _rewrap_checkpoint(ck)
            # convergence straight off the checkpoint job's metrics
            # (the _old column carried through the round)
            changed = obs.get["n_changed"]
            release()
            release = functools.partial(unpersist_checkpoint, ck)
            labels_l = rewrapped.select("node", "component")
            if changed == 0:
                break
        # hand the (materialized — rewrapped checkpoint) result back
        # to the caller's session; downstream consumers then execute
        # under the caller's conf
        result = ls.handback(labels_l)
    unpersist_checkpoint(edges)
    # the result reads the last round
    release_later(release)
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} iterations (labels still changing); "
            f"increase max_iterations for high-diameter graphs"
        )
    return cached(result)


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidate pairs →
    connected components → one row per cluster of two or more
    documents, with the kept (min-id) doc and the cluster size.

    Spark builds the MinHash signatures (the data-parallel part) and
    checkpoints them; the row count observed on that materializing
    job picks the path:

    - at most util.GRAPH_ROW_CAP documents: a lazy util.one_task frame
      runs the banding, the verification, the union-find and the
      cluster rows in one Python worker (_lsh_cluster_kernel);
    - above it: the pairs of :func:`minhash_lsh_pairs` over the same
      checkpointed signatures → :func:`connected_components` → a
      groupBy on the component, all as Spark jobs.

    Both paths give the same rows."""
    num_hashes, bands = 16, 4
    sig, n_docs = materialized(
        minhash_signatures(df, text_col, id_col, num_hashes)
    )
    if n_docs <= _util.GRAPH_ROW_CAP:
        typ = sig.schema["id"].dataType.simpleString()
        kernel = functools.partial(
            _lsh_cluster_kernel,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
        )
        return one_task(sig, kernel, f"keep_id {typ}, cluster_size bigint")
    pairs = _lsh_join(sig, num_hashes, bands, threshold)
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("node").alias("keep_id"),
        )
        .select("keep_id", "cluster_size")
    )


def editdistance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 8,
    prefix_len: int = 16,
) -> DataFrame:
    """Near-duplicate pairs by Levenshtein edit distance, the sixth
    dedup strategy (catches small in-place edits — typo fixes,
    appended boilerplate — that shingle/bit-sketch methods may score
    as identical or miss entirely).

    Full pairwise edit distance is O(docs² · len²) — untenable. The
    standard blocking compromise: candidates must share their first
    ``prefix_len`` normalized characters and differ in length by at
    most ``max_dist`` (a *necessary* condition — each insert/delete
    changes length by 1). The plan is then a plain equi-join on the
    prefix key (one shuffle of (prefix, id, text)), with the quadratic
    kernel confined to same-prefix blocks; Spark's banded
    ``levenshtein(l, r, threshold)`` bails out early at
    ``O(max_dist · len)`` per pair. Recall tradeoff (documented, by
    design): edits inside the first ``prefix_len`` characters move a
    doc to a different block — mirror-block on a suffix key for
    higher recall.

    Returns ``(id_a < id_b, dist)`` with ``dist <= max_dist``.
    """
    # spread (round 15): the normalize pass is regex-heavy and a
    # small-file scan is one task — same single-core trap the shingle
    # operators already guard; no-op at scale
    t = spread(_nonempty(df, text_col)).select(
        F.col(id_col).alias("id"),
        TX.normalize_text(F.col(text_col)).alias("norm"),
    ).select(
        "id", "norm",
        F.substring("norm", 1, prefix_len).alias("block"),
        F.length("norm").alias("len"),
    )
    a, b = t.alias("a"), t.alias("b")
    dist = F.levenshtein(F.col("a.norm"), F.col("b.norm"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.abs(F.col("a.len") - F.col("b.len")) <= max_dist
            ),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist.alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )
