"""Bounded iterative operators run as one Arrow task
(``operators.util.one_task``): the helper's contract, the job counts of
the queries built on it, near-dup clustering's two paths against
planted clusters, and the BPE trainer's semantics pins.

Job counts are deterministic counters, not timings: a pin that moves
means the job structure changed. Each pin warms its query once (the
first build in a session runs cold-only jobs), then releases the
operator caches and counts one build + collect at sf0.001.
``dedup_clusters`` runs its signature build as Spark jobs, counted on
the job that checkpoints it, and everything after them in one task;
``dbscan_clusters`` runs connected components in one task after its
pair build.

``dedup_clusters``, ``minhash_lsh_pairs`` and ``simhash_near_pairs``
are checked on both of their paths (the ``cc_path`` fixture): the
one-task kernel as shipped, and the Spark pair build (plus connected
components and groupBy for the clusters) with ``util.GRAPH_ROW_CAP``
forced below any document count.

PageRank, connected components and the near-dup operators read their
path-picking row count off the job that checkpoints their input: the
checkpoints are freed by ``release_caches()``, also on the distributed
loops, and an empty input of any shape gives no rows without waiting
on the count.
"""

from __future__ import annotations

import functools
import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datafusion_archive_spark.operators import bpe, dedup, graph, util
from datafusion_archive_spark.operators.util import one_task, release_caches
from datafusion_archive_spark.queries import (
    llm,
    pipeline4,
    pipeline9,
    pipeline24,
    pipeline28,
    pipeline60,
)


class TestOneTask:
    def test_kernel_sees_every_row_in_one_call(self, spark):
        import pyarrow as pa

        def kernel(t):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([t.num_rows]),
                    pa.array([sum(t["id"].to_pylist())]),
                ],
                names=["n", "s"],
            )

        df = spark.range(0, 100, numPartitions=7)
        rows = one_task(df, kernel, "n long, s long").collect()
        assert [tuple(r) for r in rows] == [(100, 4950)]

    def test_empty_input_gives_no_rows(self, spark):
        def kernel(t):
            raise AssertionError("kernel called on empty input")

        out = one_task(spark.range(0), kernel, "n long")
        assert out.collect() == []
        assert out.columns == ["n"]


@pytest.mark.parametrize(
    "query, pin",
    [
        (pipeline4.q_bpe_merges, lambda n: n == 2),
        (pipeline4.q_bpe_encode_tokens, lambda n: n == 4),
        (llm.q_dedup_clusters, lambda n: n == 4),
        (pipeline60.q_dbscan_clusters, lambda n: n == 29),
        (llm.q_dedup_minhash_lsh, lambda n: n == 4),
        (llm.q_dedup_simhash_pairs, lambda n: n == 4),
        (pipeline24.q_minhash_estimate_audit, lambda n: n == 20),
        (pipeline28.q_lsh_tuning_curve, lambda n: n == 4),
    ],
    ids=["bpe_merges", "bpe_encode_tokens", "dedup_clusters",
         "dbscan_clusters", "dedup_minhash_lsh", "dedup_simhash_pairs",
         "minhash_estimate_audit", "lsh_tuning_curve"],
)
def test_job_count_pinned(spark, sf_dir, jobs_of, query, pin):
    query(spark, sf_dir).collect()
    release_caches()
    rows, n = jobs_of(lambda: query(spark, sf_dir).collect())
    release_caches()
    assert rows
    assert pin(n), n


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize(
    "query",
    [pipeline9.q_graph_pagerank, llm.q_dedup_clusters,
     pipeline60.q_dbscan_clusters, llm.q_dedup_minhash_lsh,
     llm.q_dedup_simhash_pairs],
    ids=["graph_pagerank", "dedup_clusters", "dbscan_clusters",
         "dedup_minhash_lsh", "dedup_simhash_pairs"],
)
def test_release_frees_every_pinned_rdd(spark, sf_dir, query):
    """The caches and checkpoints a query's operators pin are all
    registered for release: after each of two runs, release_caches()
    leaves no persisted RDD that was not there before."""
    _assert_release_frees_every_pinned_rdd(spark, sf_dir, query)


@pytest.mark.parametrize(
    "query",
    [pipeline9.q_graph_pagerank, pipeline60.q_dbscan_clusters],
    ids=["graph_pagerank", "dbscan_clusters"],
)
def test_release_frees_every_pinned_rdd_above_cap(
    spark, sf_dir, monkeypatch, query
):
    """The same on the distributed loops (cap below every count): each
    round frees the checkpoint it supersedes, and the last round's is
    registered for release."""
    monkeypatch.setattr(util, "GRAPH_ROW_CAP", -1)
    _assert_release_frees_every_pinned_rdd(spark, sf_dir, query)


def _assert_release_frees_every_pinned_rdd(spark, sf_dir, query):
    release_caches()
    baseline = _persisted_rdds(spark)
    for _ in range(2):
        assert query(spark, sf_dir).collect()
        assert _persisted_rdds(spark) - baseline
        release_caches()
        assert _persisted_rdds(spark) <= baseline


#: an empty frame of the projection ``cols`` in each shape that reaches
#: the checkpoint differently: no partitions, a limit, a local relation
#: and a filter Catalyst folds away
_EMPTY_SHAPES = {
    "range0": lambda spark, cols: spark.range(0).selectExpr(*cols),
    "limit0": lambda spark, cols: spark.range(5).selectExpr(*cols).limit(0),
    "local": lambda spark, cols: spark.createDataFrame(
        [], spark.range(0).selectExpr(*cols).schema
    ),
    "filter_false": lambda spark, cols: (
        spark.range(5).selectExpr(*cols).filter(F.lit(False))
    ),
}

_EMPTY_OPERATORS = {
    "pagerank": (graph.pagerank, ["id AS src", "id AS dst"]),
    "connected_components": (
        dedup.connected_components,
        ["id AS id_a", "id AS id_b"],
    ),
    "dedup_clusters": (
        dedup.dedup_clusters,
        ["id AS doc_id", "CAST(id AS STRING) AS text"],
    ),
    "minhash_lsh_pairs": (
        dedup.minhash_lsh_pairs,
        ["id AS doc_id", "CAST(id AS STRING) AS text"],
    ),
    "simhash_near_pairs": (
        dedup.simhash_near_pairs,
        ["id AS doc_id", "CAST(id AS STRING) AS text"],
    ),
}


@pytest.mark.parametrize("shape", list(_EMPTY_SHAPES))
@pytest.mark.parametrize("operator", list(_EMPTY_OPERATORS))
def test_empty_input_gives_no_rows_in_bounded_time(spark, operator, shape):
    """Each operator reads its path-picking row count off an
    ``Observation`` on the materializing job; on every empty shape it
    must fire (0 rows), not leave the build waiting for it."""
    op, cols = _EMPTY_OPERATORS[operator]
    df = _EMPTY_SHAPES[shape](spark, cols)
    out = {}

    def run():
        try:
            out["rows"] = op(df).collect()
        except Exception as e:  # re-raised below, in the test's thread
            out["error"] = e

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(120)
    assert not worker.is_alive(), "no result within 120 s"
    release_caches()
    if "error" in out:
        raise out["error"]
    assert out["rows"] == []


def _text(prefix, swaps=None, n=16):
    """n words ``<prefix>0 .. <prefix>{n-1}``, word i replaced by
    ``<prefix><swaps[i]>``."""
    return " ".join(f"{prefix}{(swaps or {}).get(i, i)}" for i in range(n))


#: planted near-duplicates (16 minhashes in 4 bands; agreement counts
#: read off the signatures): 1~2 agree on 12/16 and 2~3 on 9/16, but
#: 1 and 3 share no band (6/16), so only the chain joins them; 4 and 5
#: share a band yet agree on 6/16, so the verify filter splits them at
#: any threshold above 0.375; 6-8 are exact duplicates (one bucket of
#: three in every band); 9 is a singleton; 10-12 have no content
_PLANTED = [
    (1, _text("w", {11: 165})),
    (2, _text("w")),
    (3, _text("w", {6: 95})),
    (4, _text("x")),
    (5, _text("x", {3: 37, 5: 178, 14: 22})),
    (6, "the quick brown fox jumps over the lazy dog again"),
    (7, "the quick brown fox jumps over the lazy dog again"),
    (8, "the quick brown fox jumps over the lazy dog again"),
    (9, "an unrelated document about something else entirely"),
    (10, "   "),
    (11, "\t\n "),
    (12, None),
]

_DOCS = "doc_id bigint, text string"


class TestDedupClustersPaths:
    @pytest.mark.parametrize(
        "threshold, pairs, clusters",
        [
            (
                0.25,
                {(1, 2), (2, 3), (4, 5), (6, 7), (6, 8), (7, 8)},
                [(1, 3), (4, 2), (6, 3)],
            ),
            (
                0.5,
                {(1, 2), (2, 3), (6, 7), (6, 8), (7, 8)},
                [(1, 3), (6, 3)],
            ),
        ],
        ids=["threshold0.25", "threshold0.5"],
    )
    def test_planted_clusters(self, spark, cc_path, threshold, pairs,
                              clusters):
        docs = spark.createDataFrame(_PLANTED, _DOCS)
        got_pairs = dedup.minhash_lsh_pairs(docs, threshold=threshold)
        assert {(r.id_a, r.id_b) for r in got_pairs.collect()} == pairs
        out = dedup.dedup_clusters(docs, threshold=threshold)
        assert out.columns == ["keep_id", "cluster_size"]
        assert sorted(tuple(r) for r in out.collect()) == clusters
        release_caches()

    @pytest.mark.parametrize(
        "rows",
        [[], [(1, "one document alone in its corpus")], _PLANTED[-3:]],
        ids=["empty", "single", "whitespace"],
    )
    def test_no_clusters(self, spark, cc_path, rows):
        docs = spark.createDataFrame(rows, _DOCS)
        out = dedup.dedup_clusters(docs, threshold=0.5)
        assert out.collect() == []
        assert out.schema.simpleString() == (
            "struct<keep_id:bigint,cluster_size:bigint>"
        )
        release_caches()


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


#: planted SimHash distances (60-bit signatures, read off simhash64):
#: 1-3 are exact duplicates (distance 0), 4 is at distance 3 from them
#: and 5 at distance 4, 4~5 at 3. Each of 1~4 and 1~5 differs in three
#: of the four 15-bit bands and three of the six 10-bit blocks, so 1~4
#: is found through one band or one block combination only, and 1~5
#: is a candidate the popcount verification drops at max_hamming=3.
#: 6 is unrelated, 7 has no content and the null id pairs with nothing.
_SIMHASH_PLANTED = [
    (1, _text("s", n=40)),
    (2, _text("s", n=40)),
    (3, _text("s", n=40)),
    (4, _text("s", {25: 101}, n=40)),
    (5, _text("s", {25: 103}, n=40)),
    (6, _text("x", n=40)),
    (7, "   "),
    (None, _text("s", n=40)),
]


class TestNearPairsPaths:
    """``minhash_lsh_pairs`` and ``simhash_near_pairs`` give the same
    rows on both paths (``cc_path``: the one-task kernel as shipped, the
    Spark banding and self-join with the cap forced below any count)."""

    @pytest.mark.parametrize(
        "scheme", [{}, {"n_blocks": 6}], ids=["bands", "combinations"]
    )
    def test_simhash_planted_distances(self, spark, cc_path, scheme):
        docs = spark.createDataFrame(_SIMHASH_PLANTED, _DOCS)
        sig = {
            r.id: r.simhash
            for r in dedup.simhash64(docs, bits=60).collect()
        }
        assert bin(sig[1] ^ sig[4]).count("1") == 3
        assert bin(sig[1] ^ sig[5]).count("1") == 4
        out = dedup.simhash_near_pairs(
            docs, max_hamming=3, bits=60, **scheme
        )
        assert out.columns == ["id_a", "id_b", "hamming"]
        assert _pairs(out) == [
            (1, 2, 0), (1, 3, 0), (1, 4, 3), (2, 3, 0), (2, 4, 3),
            (3, 4, 3), (4, 5, 3),
        ]
        release_caches()

    def test_minhash_null_id_pairs_with_nothing(self, spark, cc_path):
        # the null id's text is an exact duplicate of 2 (16/16)
        docs = spark.createDataFrame(
            _PLANTED + [(None, _text("w"))], _DOCS
        )
        got = dedup.minhash_lsh_pairs(docs, threshold=0.5)
        assert [(a, b) for a, b, _ in _pairs(got)] == [
            (1, 2), (2, 3), (6, 7), (6, 8), (7, 8)
        ]
        release_caches()

    @pytest.mark.parametrize(
        "op",
        [
            dedup.minhash_lsh_pairs,
            functools.partial(dedup.simhash_near_pairs, bits=60),
            functools.partial(
                dedup.simhash_near_pairs, bits=60, n_blocks=6
            ),
        ],
        ids=["minhash", "simhash_bands", "simhash_combinations"],
    )
    @pytest.mark.parametrize(
        "rows",
        [[], [(1, "one document alone in its corpus")], _PLANTED[-3:]],
        ids=["empty", "single", "whitespace"],
    )
    def test_no_pairs(self, spark, cc_path, op, rows):
        out = op(spark.createDataFrame(rows, _DOCS))
        assert out.collect() == []
        assert len(out.columns) == 3
        release_caches()

    @pytest.mark.parametrize(
        "num_hashes, bands", [(16, 4), (12, 4), (12, 3)]
    )
    def test_minhash_estimates_bit_identical(
        self, spark, monkeypatch, num_hashes, bands
    ):
        docs = spark.createDataFrame(_PLANTED, _DOCS)

        def pairs():
            out = dedup.minhash_lsh_pairs(
                docs, num_hashes=num_hashes, bands=bands, threshold=0.0
            )
            return _pairs(out)

        one_task_rows = pairs()
        monkeypatch.setattr(util, "GRAPH_ROW_CAP", -1)
        assert pairs() == one_task_rows
        assert len({e for _, _, e in one_task_rows}) > 2
        release_caches()


def test_estimate_table_is_sparks_round(spark):
    """The one-task kernels' estimate table is Spark's
    ``round(agree / num_hashes, 4)`` (HALF_UP on the decimal string of
    the double) for every agree count, float for float."""
    rows = spark.range(1, 65).select(
        F.col("id").alias("n"),
        F.explode(F.sequence(F.lit(0), F.col("id"))).alias("k"),
    ).select(
        "n", "k", F.round(F.col("k") / F.col("n").cast("double"), 4)
    ).collect()
    want = {}
    for n, k, est in rows:
        want.setdefault(n, [None] * (n + 1))[k] = est
    for n, ests in want.items():
        assert dedup._est_jaccard(n).tolist() == ests, n


def _merges(spark, words, n_merges):
    df = spark.createDataFrame(words, "word string, freq bigint")
    return bpe.bpe_merges(df, n_merges)


class TestBpeSemantics:
    def test_ties_break_on_joined_pair_string(self, spark):
        # after merge 0 the word is ("\x01\x01", "\x01", "</w>"); the
        # two remaining pairs tie at 1. As tuples ("\x01", "</w>") sorts
        # first; as joined strings "\x01\x01 \x01" does ("\x01" < " ")
        got = _merges(spark, [("\x01\x01\x01", 1)], 3)
        assert got == [
            (0, "\x01", "\x01", 2),
            (1, "\x01\x01", "\x01", 1),
            (2, "\x01\x01\x01", "</w>", 1),
        ]

    def test_null_rows_add_no_pairs(self, spark):
        got = _merges(spark, [("ab", 2), (None, 5), ("cd", None)], 1)
        assert got == [(0, "a", "b", 2)]

    def test_line_terminators_stay_glued_to_the_next_char(self, spark):
        # Java's (.) does not match U+0085 or U+2028, so the JVM
        # symbolizes "a\x85b" as a, \x85b, </w> — the trainer must
        # keep those symbols, not re-split the word per character
        docs = spark.createDataFrame(
            [Row(doc_id=1, text="a\u0085b a\u0085b x\u2028y")]
        )
        got = [
            tuple(r) for r in bpe.bpe_merge_table(spark, docs, 4).collect()
        ]
        assert got == [
            (0, "a", "\x85b", 2),
            (1, "a\x85b", "</w>", 2),
            (2, "x", "\u2028y", 1),
            (3, "x\u2028y", "</w>", 1),
        ]

    def test_empty_corpus_gives_no_rows(self, spark):
        docs = spark.createDataFrame([], "doc_id bigint, text string")
        out = bpe.bpe_merge_table(spark, docs, 4)
        assert out.collect() == []
        assert out.schema.simpleString() == (
            "struct<merge_idx:int,left:string,right:string,"
            "pair_freq:bigint>"
        )
