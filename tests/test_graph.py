"""Graph analytics semantics: co-occurrence edges, compact-forward
triangle counting, power-iteration PageRank
(datafusion_archive_spark/operators/graph.py)."""

from __future__ import annotations

import math
from collections import defaultdict
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from datafusion_archive_spark.operators import graph as G
from datafusion_archive_spark.operators import util as op_util
from datafusion_archive_spark.operators.util import release_caches
from datafusion_archive_spark.plans import summarize
from datafusion_archive_spark.queries import pipeline9 as P9

SF = "/root/testdata/sf0.001"


def _python_graph(spark):
    baskets = defaultdict(set)
    for r in (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    ):
        baskets[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for ps in baskets.values():
        for a, b in combinations(sorted(ps), 2):
            edges.add((a, b))
    return edges


class TestTriangles:
    def test_matches_bruteforce(self, spark):
        edges = _python_graph(spark)
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        tri = 0
        for a, b in edges:
            tri += len(adj[a] & adj[b])
        tri //= 3  # each triangle counted once per edge
        wedges = sum(
            len(ns) * (len(ns) - 1) // 2 for ns in adj.values()
        )
        row = P9.q_graph_triangle_count(spark, SF).collect()[0]
        assert row.n_nodes == len(adj)
        assert row.n_edges == len(edges)
        assert row.n_wedges == wedges
        assert row.n_triangles == tri
        assert math.isclose(
            row.clustering_coeff, 3.0 * tri / wedges, abs_tol=1e-5
        )

    def test_no_cartesian(self, spark):
        s = summarize(P9.q_graph_triangle_count(spark, SF))
        assert "CartesianProduct" not in s.joins
        # the two singleton-total joins may nest-loop; wedge joins hash
        assert s.joins.count("BroadcastNestedLoopJoin") <= 2


#: jobs one ``q_graph_pagerank`` build + collect runs at sf0.001 on
#: the one-task path: the edge-list checkpoint under the caller's conf,
#: which also counts the edges (with its AQE query-stage jobs), plus
#: the collect
PR_JOBS = 5


class TestPageRank:
    @pytest.mark.parametrize(
        "path", ["one_task", "distributed", "distributed_shuffle"]
    )
    def test_matches_numpy_power_iteration(self, spark, monkeypatch, path):
        """Every path against a pure-Python power iteration; no test
        graph is large enough to reach the distributed loop, so a
        lowered cap forces it. ``distributed`` sets the cap to the node
        count, below the undirected edge count: the loop runs with the
        deg and rank vectors broadcast and the contribution table laid
        out by dst (no per-iteration Exchange), as an above-cap graph
        of at most GRAPH_ROW_CAP nodes does. ``distributed_shuffle``
        sets it to 0: every join shuffles on the node id."""
        edges = _python_graph(spark)
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        nodes = sorted(adj)
        n = len(nodes)
        if path == "distributed":
            # n <= cap (broadcasts) and 2 x len(edges) directed edges
            # > 2 x cap (no one-task kernel)
            assert len(edges) > n
            monkeypatch.setattr(op_util, "GRAPH_ROW_CAP", n)
        elif path == "distributed_shuffle":
            monkeypatch.setattr(op_util, "GRAPH_ROW_CAP", 0)
        hints = []
        real_broadcast = G.F.broadcast
        monkeypatch.setattr(
            G.F,
            "broadcast",
            lambda df: hints.append(df) or real_broadcast(df),
        )
        r = {v: 1.0 / n for v in nodes}
        d = P9._PR_DAMPING
        for _ in range(P9._PR_ITERS):
            r = {
                v: (1.0 - d) / n
                + d * sum(r[u] / len(adj[u]) for u in adj[v])
                for v in nodes
            }
        got = {
            row.node: row.rank
            for row in P9.q_graph_pagerank(spark, SF).collect()
        }
        assert set(got) == set(nodes)
        for v in nodes:
            assert math.isclose(got[v], r[v] * n, abs_tol=1e-4), v
        # deg once, then the rank vector in every iteration
        assert len(hints) == (
            1 + P9._PR_ITERS if path == "distributed" else 0
        )

    def test_mass_conserved(self, spark):
        total = (
            P9.q_graph_pagerank(spark, SF)
            .agg(F.sum("rank").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        assert math.isclose(total.s, total.n, rel_tol=1e-6)

    def test_hub_outranks_leaf(self, spark):
        """A higher-degree node generically accumulates more rank than
        the minimum-degree nodes on this near-random graph."""
        deg = G.degrees(
            G.co_occurrence_edges(
                spark.read.parquet(f"{SF}/lineitem.parquet"),
                "l_orderkey",
                "l_partkey",
            )
        ).collect()
        by_deg = sorted(deg, key=lambda r: r.deg)
        lo, hi = by_deg[0], by_deg[-1]
        ranks = {
            r.node: r.rank
            for r in P9.q_graph_pagerank(spark, SF).collect()
        }
        assert ranks[hi.node] > ranks[lo.node]

    def test_empty_graph_gives_no_rows(self, spark):
        ranks = G.pagerank(spark.createDataFrame([], "src long, dst long"))
        assert ranks.columns == ["node", "rank"]
        assert ranks.collect() == []

    def test_job_count_pinned(self, spark, jobs_of):
        """One build + collect on the one-task path runs PR_JOBS jobs
        (the distributed loop ran 34): a change here altered the job
        structure, not noise."""
        # earlier tests leave the same edge list cached; a warm cache
        # would skip the build jobs
        release_caches()
        rows, n = jobs_of(
            lambda: P9.q_graph_pagerank(spark, SF).collect()
        )
        assert rows
        assert n == PR_JOBS
