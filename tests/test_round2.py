"""Round-2 hardening tests: approximate-aggregate error bounds, the
quote-aware console splitter, SCD2 multi-update compaction, connected-
components convergence guard, and operator cache release."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datafusion_archive_spark.console import split_statements
from datafusion_archive_spark.operators import util as op_util
from datafusion_archive_spark.operators.dedup import connected_components
from datafusion_archive_spark.operators.merge import scd2_apply
from datafusion_archive_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def test_approx_aggs_within_error_bounds(spark):
    """Since round 11b the registered query emits within-bounds flags
    and the exact distinct count (the sketch's bounded-error contract,
    made driver-checkable); assert the flags are all set and the exact
    count matches DuckDB. The raw-sketch error itself is bounded
    independently in tests/test_approx_bounds.py."""
    got = {
        r["l_returnflag"]: r
        for r in QUERIES["approx_aggs"](spark, SF).collect()
    }
    exact = duckdb.sql(
        f"""
        SELECT l_returnflag,
               count(DISTINCT l_orderkey) AS n
        FROM read_parquet('{SF}/lineitem.parquet')
        GROUP BY 1
        """
    ).fetchall()
    assert len(exact) == len(got) > 0
    for flag, n in exact:
        row = got[flag]
        assert row["exact_orders"] == n, (flag, row, n)
        assert row["approx_orders_ok"] == 1, (flag, row)
        assert row["approx_median_ok"] == 1, (flag, row)


def test_split_statements_quote_aware():
    stmts = split_statements(
        "CREATE EXTERNAL TABLE t (a INT) STORED AS CSV "
        "LOCATION '/data/a;b';\n"
        "SELECT * FROM t WHERE s = ';';\n"
        "-- a leading comment\nSELECT 1;"
    )
    assert len(stmts) == 3
    assert stmts[0].endswith("LOCATION '/data/a;b'")
    assert stmts[1].endswith("WHERE s = ';'")
    assert stmts[2] == "SELECT 1"


def test_split_statements_strips_comment_lines_keeps_sql():
    stmts = split_statements("-- only a comment\n")
    assert stmts == []
    stmts = split_statements("-- header\nSELECT\n-- inner\n42;")
    assert stmts == ["SELECT\n42"]


def test_scd2_multi_update_keeps_latest_per_key(spark):
    dim = spark.createDataFrame(
        [("2020-01-01", 1, "orig", None, True)],
        "valid_from string, k int, attr string, valid_to string, "
        "is_current boolean",
    ).withColumn("valid_from", F.col("valid_from").cast("timestamp")) \
     .withColumn("valid_to", F.col("valid_to").cast("timestamp"))
    updates = spark.createDataFrame(
        [
            Row(k=1, attr="mid", valid_from="2021-01-01"),
            Row(k=1, attr="new", valid_from="2022-01-01"),
        ]
    ).withColumn("valid_from", F.col("valid_from").cast("timestamp"))
    out = scd2_apply(dim, updates, "k").collect()
    # one closed-out original + exactly ONE new current version (the
    # latest update), never a fanned-out duplicate of the dimension row
    assert len(out) == 2
    current = [r for r in out if r.is_current]
    assert len(current) == 1 and current[0].attr == "new"
    closed = [r for r in out if not r.is_current]
    assert len(closed) == 1 and closed[0].valid_to is not None


def test_connected_components_raises_on_non_convergence(spark, monkeypatch):
    # a 12-node chain has diameter 11; 2 min-label iterations cannot
    # finish, and a silent partial answer would be wrong. Only the
    # distributed loop has rounds to run out of: force it (every test
    # graph is below the one-task cap)
    monkeypatch.setattr(op_util, "GRAPH_ROW_CAP", 0)
    chain = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(12)]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=1)
    # pointer jumping: O(log diameter) rounds — a diameter-12 chain
    # resolves in ~4 iterations, far below the naive 12
    labels = connected_components(chain, max_iterations=6)
    assert labels.select("component").distinct().count() == 1
    assert labels.count() == 13
    op_util.release_caches()


def test_operator_caches_are_scoped(spark):
    op_util.release_caches()  # clean slate
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    c = op_util.cached(df)
    assert c.is_cached
    assert len(op_util._ACTIVE_CACHES) == 1
    # re-registering an already-cached frame must not double-persist
    c2 = op_util.cached(c)
    assert c2 is c
    op_util.release_caches()
    assert not c.is_cached
    assert op_util._ACTIVE_CACHES == []


def test_lsh_near_dup_recall_vs_exact(spark):
    """Every LSH-emitted pair is exact-verified (precision 1.0 by
    construction); recall on the planted corpus must be ≥ 0.95 —
    planted twins differ in few hyperplane bits, so banding recovers
    essentially all of them."""
    lsh = {
        (r.id_a, r.id_b)
        for r in QUERIES["embedding_near_dup"](spark, SF).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in QUERIES["embedding_near_dup_exact"](spark, SF).collect()
    }
    assert lsh <= exact  # precision 1.0: no false positives survive
    assert len(exact) >= 25  # the planted pairs are really there
    assert len(lsh) / len(exact) >= 0.95, (len(lsh), len(exact))
    op_util.release_caches()


def test_connected_components_shuffle_path_matches_broadcast(
    spark, monkeypatch
):
    """The node-count gate (round 11b follow-up) picks broadcast joins
    on small graphs and shuffle joins past util.GRAPH_ROW_CAP; force
    the cap to 0 so the shuffle path runs at toy scale and assert both
    strategies label every component identically (two chains + a star
    + an isolated pair)."""
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(5)]
        + [Row(id_a=100, id_b=101), Row(id_a=100, id_b=102),
           Row(id_a=100, id_b=103)]
        + [Row(id_a=200, id_b=201)]
    )
    want = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    monkeypatch.setattr(op_util, "GRAPH_ROW_CAP", 0)
    got = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    assert got == want
    assert {c for _, c in got} == {0, 100, 200}
    op_util.release_caches()
