"""Empty/degenerate-input behavior: operators must return empty (not
crash) on empty frames, and k>n / no-match cases degrade gracefully."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_archive_spark.operators import asof, dedup, similarity


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
    )


def test_dedup_on_empty(empty_docs):
    assert dedup.exact_duplicates(empty_docs).count() == 0
    assert dedup.minhash_lsh_pairs(empty_docs).count() == 0
    assert dedup.simhash_near_pairs(empty_docs).count() == 0
    assert dedup.ngram_jaccard_pairs(empty_docs).count() == 0


def test_single_doc_no_pairs(spark):
    one = spark.createDataFrame([(1, "only one document here")],
                                ["doc_id", "text"])
    assert dedup.minhash_lsh_pairs(one).count() == 0
    assert dedup.exact_duplicates(one).count() == 1


def test_topk_k_larger_than_corpus(spark):
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 1.0])], schema
    )
    out = similarity.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=99)
    assert out.count() == 2  # corpus minus self, not k


def test_asof_join_no_right_rows(spark):
    import datetime as dt

    left = spark.createDataFrame(
        [("u1", dt.datetime(2024, 1, 1), 1)], ["key", "ts", "oid"]
    )
    right = spark.createDataFrame(
        [], T.StructType([
            T.StructField("key", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("price", T.DoubleType()),
        ])
    )
    rows = asof.asof_join(left, right, "key", "ts", "ts", ["price"]).collect()
    assert len(rows) == 1 and rows[0].price_asof is None


def test_empty_text_document_survives_pipeline(spark):
    """Whitespace-only and empty strings flow through shingling,
    hashing and stats without errors."""
    from datafusion_archive_spark.functions import text as TX

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "word")], ["doc_id", "text"]
    )
    out = df.select(
        TX.token_count(F.col("text")).alias("tc"),
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.quality_score(F.col("text")).alias("q"),
        TX.word_shingles(F.col("text"), 3).alias("sh"),
    ).collect()
    assert all(r.fp is not None for r in out)
    assert out[0].sh == [""] and out[2].sh == ["word"]
    # near-dup operators EXCLUDE contentless docs (an empty doc must
    # not near-dup-match every other empty doc); only the real
    # document earns a signature
    sig = dedup.minhash_signatures(df).collect()
    assert [r.id for r in sig] == [3]


def test_operators_handle_empty_input(spark):
    """Every dedup/similarity operator must return an empty (not
    crashing) result on an empty relation — the post-filter-empty case
    any 100 TB pipeline stage hits."""
    from datafusion_archive_spark.operators import dedup, similarity
    from datafusion_archive_spark.operators.util import release_caches

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    empty_vecs = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>"
    )
    assert dedup.exact_duplicates(empty_docs).count() == 0
    assert dedup.ngram_jaccard_pairs(empty_docs, max_shingle_df=5).count() == 0
    assert dedup.minhash_lsh_pairs(empty_docs).count() == 0
    assert dedup.simhash_near_pairs(empty_docs).count() == 0
    assert dedup.dedup_clusters(empty_docs).count() == 0
    assert similarity.cosine_pairs(empty_vecs).count() == 0
    assert similarity.lsh_cosine_pairs(empty_vecs).count() == 0
    assert (
        similarity.cosine_topk(empty_vecs, empty_vecs, k=3).count() == 0
    )
    release_caches()


def test_connected_components_empty_pairs(spark, cc_path):
    from datafusion_archive_spark.operators.dedup import (
        connected_components,
    )
    from datafusion_archive_spark.operators.util import release_caches

    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert connected_components(empty).count() == 0
    release_caches()


def test_csv_roundtrip_quoting_fidelity(spark, tmp_path_factory):
    """CSV write->DDL->read must preserve embedded delimiters, quotes,
    and newlines exactly (the classic text-sink fidelity trap)."""
    from datafusion_archive_spark.context import ExecutionContext

    ctx = ExecutionContext(spark)
    rows = [
        (1, "plain"),
        (2, "comma, inside"),
        (3, 'quote " inside'),
        (4, "new\nline"),
        (5, "both, \"and\"\nmore"),
    ]
    src = spark.createDataFrame(rows, "id LONG, v STRING")
    path = str(tmp_path_factory.mktemp("csvq") / "t")
    ctx.write(src, path, "csv", header="true")
    ctx.sql(
        f"CREATE EXTERNAL TABLE csvq_t (id BIGINT, v VARCHAR) "
        f"STORED AS CSV WITH HEADER ROW LOCATION '{path}'"
    )
    # multiLine + RFC quote-escape are required for embedded newlines
    got = {
        (r.id, r.v)
        for r in ctx.register_csv(
            "csvq_t2",
            path,
            schema=src.schema,
            header=True,
            multiLine="true",
            escape='"',
        ).collect()
    }
    assert got == set(rows)


def test_text_ops_tolerate_null_and_empty_text(spark):
    """Null / empty / whitespace-only text must flow through the text
    metrics and dedup fingerprints without raising, yielding nulls or
    zeros — a user corpus always contains them even if testdata
    doesn't."""
    from pyspark.sql import functions as F

    from datafusion_archive_spark.functions import text as TX
    from datafusion_archive_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real text here")],
        "doc_id LONG, text STRING",
    )
    m = df.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("toks"),
        TX.quality_score(F.col("text")).alias("q"),
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.repetition_ratio(F.col("text")).alias("rep"),
    ).collect()
    by_id = {r.doc_id: r for r in m}
    assert by_id[4].toks == 3
    assert by_id[1].fp is None  # null text -> null fingerprint
    # dedup machinery: empty/null texts group without raising
    out = dedup.exact_duplicates(df).collect()
    assert len(out) >= 2  # null-fp group + real-text group at minimum
    pairs = dedup.ngram_jaccard_pairs(df, k=3, threshold=0.1).collect()
    # empty/whitespace docs are excluded from near-dup shingling, so
    # they must NOT pair with each other at jaccard 1.0
    assert pairs == []
    sigs = dedup.minhash_signatures(df).collect()
    assert {r.id for r in sigs} == {4}  # only the real document signs
    ed = dedup.editdistance_pairs(df).collect()
    assert ed == []
