"""Round-11 continuation pins: the two engine-side perf fixes.

1. ``connected_components`` above its one-task cap (forced here by
   the ``cc_path`` fixture) runs its propagation loop under a scoped
   conf (AQE off + shuffle width sized to the measured node+edge
   count — 23.7 s -> ~10 s on the sf0.1 DBSCAN graph). The loop must
   leave the caller's conf untouched, produce labels identical to a
   union-find ground truth, and the width must scale with the
   measured graph (1 partition on a toy graph, ~n/1M at fact scale).

2. ``approx_aggs`` computes its sketch aggregates and its exact
   distinct in SEPARATE aggregations joined on the group key: putting
   ``count_distinct`` in the same agg as ``percentile_approx`` forces
   Catalyst's Expand plan and knocks the TypedImperativeAggregate
   sketch out of ObjectHashAggregate into SortAggregate (15 s vs
   2.8 s at sf0.1, and the expanded sort grows with fact rows). The
   physical plan must stay Expand-free.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_archive_spark.operators import dedup
from datafusion_archive_spark.operators.util import loop_parts


def _union_find(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class TestLoopConf:
    def test_width_scales_with_graph(self, spark):
        dp = spark.sparkContext.defaultParallelism
        # tiny loops collapse to few large tasks (<= rows/50k)...
        assert loop_parts(spark, 1) == 1
        assert loop_parts(spark, 10_000) == 1
        assert loop_parts(spark, 100_000) == min(dp, 2)
        # ...mid-size loops use the cluster's parallelism...
        assert loop_parts(spark, 3_500_000) == min(max(dp, 4), 70)
        # ...huge loops are memory-bound at ~1M rows/task
        assert loop_parts(spark, 2_000_000_000) == max(dp, 2000)

    def test_labels_match_union_find_and_conf_survives(
        self, spark, cc_path
    ):
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        # chain + star + two singleton-pair components, plus a cycle
        pairs = (
            [(i, i + 1) for i in range(1, 12)]  # chain 1..12
            + [(100, k) for k in range(101, 110)]  # star at 100
            + [(200, 201), (300, 301)]
            + [(400, 401), (401, 402), (402, 400)]  # triangle
        )
        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {
            r.node: r.component
            for r in dedup.connected_components(pdf).collect()
        }
        assert got == _union_find(pairs)
        # the loop scope must not leak into the session
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"


class TestCCRandomGraphs:
    """Property check: on arbitrary random graphs (hypothesis-drawn
    edge lists with skewed id reuse so chains, stars and cycles all
    occur), connected_components must equal a union-find ground
    truth exactly on both paths (the ``cc_path`` fixture). Few
    examples — on the distributed path each run is a full Spark
    iteration loop — but there every seed exercises the scoped conf
    and the rewrap path end to end."""

    def test_random_graphs_match_union_find(self, spark, cc_path):
        import random

        for seed in (7, 23, 91):
            rng = random.Random(seed)
            n_ids = rng.randint(8, 60)
            pairs = [
                (rng.randrange(n_ids), rng.randrange(n_ids))
                for _ in range(rng.randint(5, 80))
            ]
            pairs = [(a, b) for a, b in pairs if a != b]
            if not pairs:
                continue
            pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
            got = {
                r.node: r.component
                for r in dedup.connected_components(pdf).collect()
            }
            assert got == _union_find(pairs), f"seed {seed}"


class TestMossBoilerplateCap:
    """moss_shared_fingerprints prunes fingerprints whose document
    frequency exceeds _MAX_HASH_DF (the published MOSS boilerplate
    filter, and the guard that keeps the hash self-join linear in
    docs — uncapped, the certified corpus grows 1.08M -> 107M join
    candidates between sf0.01 and sf0.1). On a corpus where 60 docs
    share one long footer and exactly two docs share a unique
    passage, the capped top pair must be that unique pair, and no
    boilerplate-only pair may appear."""

    def test_cap_drops_boilerplate_pairs(self, spark, tmp_path):
        from datafusion_archive_spark.queries import pipeline64 as p64

        assert p64._MAX_HASH_DF == 50
        footer = " ".join(f"boiler{i} shared footer{i}" for i in range(8))
        rows = []
        for i in range(60):
            body = " ".join(f"unique{i}word{j}" for j in range(12))
            rows.append((i, "s", f"{body} {footer}"))
        # docs 100 and 101 share a genuine copied passage, no footer
        passage = " ".join(f"copied{j}" for j in range(12))
        rows.append((100, "s", f"{passage} tail100 tail100b"))
        rows.append((101, "s", f"head101 head101b {passage}"))
        spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        ).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        out = p64.q_moss_shared_fingerprints(
            spark, str(tmp_path)
        ).collect()
        assert out, "capped output must keep the genuine copy pair"
        top = out[0]
        assert (top.doc_a, top.doc_b) == (100, 101)
        # footer-interior fingerprints (df=60 > cap) are pruned, so
        # no boilerplate pair can rival the genuine copy: whatever
        # leaks through is boundary grams (selection context differs
        # near the body->footer seam), worth at most a few shared
        # hashes vs the passage's dozens
        boiler = [r for r in out if r.doc_a < 60 and r.doc_b < 60]
        assert all(r.shared < top.shared / 2 for r in boiler)


def test_bench_json_contract():
    """bench.py must print exactly one JSON line the driver can
    consume: the contract keys (metric/value/unit/queries/sf) plus
    the calibration fields, including the round-11e bracketed-
    calibration drift. Runs the real CLI at sf0.001 with a single
    pass — the cheapest end-to-end pin of the whole bench artifact."""
    import json
    import os
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).parent.parent
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_BENCH_RUNS="1",
    )
    out = subprocess.run(
        [sys.executable, str(repo / "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
        check=True,
    ).stdout
    lines = [
        l for l in out.splitlines() if l.startswith("{") and l.endswith("}")
    ]
    assert len(lines) == 1, out[-2000:]
    d = json.loads(lines[0])
    for key in (
        "metric",
        "value",
        "unit",
        "queries",
        "sf",
        "runs",
        "spread_pct",
        "calibration_sec",
        "calibration_pre_sec",
        "calibration_drift_pct",
    ):
        assert key in d, key
    assert d["metric"] == "headline_suite_wall_sec"
    assert d["unit"] == "sec"
    assert d["value"] > 0 and d["calibration_sec"] > 0
    # the pre-only median (pre-r11e history semantics, ADVICE r11)
    # must be a plausible reading of the same workload
    assert d["calibration_pre_sec"] > 0
    assert d["calibration_drift_pct"] >= 0
    assert len(d["queries"]) >= 20
    # round 16 (VERDICT r15 #2): the artifact carries the registered
    # core count (so the $SPARK_GRAFT_CPUS contract is visible) and
    # the pre-r16 22-query subtotal (so history comparisons against
    # r01-r15 "value" stay apples-to-apples after the additions-only
    # HEADLINE extension)
    assert d["cpus"] == 8
    assert 0 < d["subtotal_headline22"] <= d["value"]
    from bench import HEADLINE22, HEADLINE_EXT

    assert set(d["queries"]) == set(HEADLINE22) | set(HEADLINE_EXT)
    assert d["subtotal_headline22"] == round(
        sum(d["queries"][n] for n in HEADLINE22), 3
    )


def test_approx_aggs_plan_has_no_expand(spark, sf_dir):
    from datafusion_archive_spark.queries.nested import q_approx_aggs

    df = q_approx_aggs(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    # and the sketch agg must not have degraded to a sort aggregate
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan
