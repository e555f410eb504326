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

``dedup_clusters`` is checked on both of its paths (the ``cc_path``
fixture): the one-task kernel as shipped, and the Spark pair build,
connected components and groupBy with ``util.GRAPH_ROW_CAP`` forced
below any document count.

PageRank, connected components and ``dedup_clusters`` read their
path-picking row count off the job that checkpoints their input: the
checkpoints are freed by ``release_caches()``, and an empty input of
any shape gives no rows without waiting on the count.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datafusion_archive_spark.operators import bpe, dedup, graph
from datafusion_archive_spark.operators.util import one_task, release_caches
from datafusion_archive_spark.queries import (
    llm,
    pipeline4,
    pipeline9,
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
    ],
    ids=["bpe_merges", "bpe_encode_tokens", "dedup_clusters",
         "dbscan_clusters"],
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
     pipeline60.q_dbscan_clusters],
    ids=["graph_pagerank", "dedup_clusters", "dbscan_clusters"],
)
def test_release_frees_every_pinned_rdd(spark, sf_dir, query):
    """The caches and checkpoints a query's operators pin are all
    registered for release: after each of two runs, release_caches()
    leaves no persisted RDD that was not there before."""
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


def _text(prefix, swaps=None):
    """16 words ``<prefix>0 .. <prefix>15``, word i replaced by
    ``<prefix><swaps[i]>``."""
    return " ".join(f"{prefix}{(swaps or {}).get(i, i)}" for i in range(16))


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
