"""Above-cap A/B for the loops that run in ``operators.util.loop_session``:
``dedup.connected_components`` and ``graph.pagerank``.

Every side runs the checkout's operator on the same ``spark.range``
graph. Above the shipped ``util.GRAPH_ROW_CAP`` every side takes the
distributed path and only the scope under the loop changes:

- ``child``: the checkout as it is: ``util.loop_session`` (a fresh
  ``newSession()`` child, AQE off, ``loop_parts`` width), or the
  one-task kernel on a graph within the cap;
- ``caller``: no child, the loop runs on the caller's session (AQE on,
  its own shuffle width) with identity handoff/handback;
- ``ref``: the ``loop_session`` class of another checkout, loaded from
  ``<--ref-tree>/datafusion_archive_spark/operators/util.py`` (for
  example the parent commit, for a before/after comparison);
- ``loop``: ``util.loop_session`` with ``util.GRAPH_ROW_CAP`` lowered
  for the run to just under the undirected edge count, which forces
  the distributed loop on a graph within the cap; label- and
  rank-sized frames are still broadcast when the node count is at most
  that lowered cap (``--spokes 2`` makes it so).

The graph is chained stars: ``--leaves`` leaf nodes, ``STAR`` leaves per
hub, and the hubs of every ``CHAIN`` consecutive stars linked in a path,
so each component is one chain of stars. ``--spokes 2`` also links each
leaf to the hub of the paired star (star index XOR 1, in the same
chain), so the graph has about twice as many edges as nodes. Per run it
prints the wall of the operator call plus a ``count()`` of its result,
the jobs and stages of that interval (one job group), a result digest
(the same on every side), and, when the one-task kernel ran, the peak
RSS of the Python worker that ran it (``ru_maxrss`` read as the kernel
finishes; pyspark reuses workers, so it is the peak over every kernel
that worker has run so far). Sides alternate in rotated order after one
untimed warm-up run each.

Usage:
    python tools/probe_loop_scope.py [--loops cc,pagerank]
        [--sides child,caller,ref,loop] [--ref-tree DIR] [--pairs 3]
        [--leaves 2100000] [--spokes 1]
"""

from __future__ import annotations

import argparse
import importlib.util
import itertools
import os
import resource
import statistics
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from datafusion_archive_spark.operators import dedup, graph, util  # noqa: E402
from datafusion_archive_spark.session import get_spark  # noqa: E402

STAR = 64
CHAIN = 8
_GROUPS = itertools.count()


def _edges(spark, leaves: int, a: str, b: str, n_spokes: int):
    """Unique undirected edges (a < b): leaf -> its hub (and, with two
    spokes, -> the paired star's hub), and hub -> next hub inside each
    chain of CHAIN stars."""
    hub0 = leaves
    n_stars = -(-leaves // STAR)
    star = (F.col("id") / STAR).cast("long")
    spokes = spark.range(leaves).select(
        F.col("id").alias(a), (F.lit(hub0) + star).alias(b)
    )
    if n_spokes == 2:
        pair = star.bitwiseXOR(F.lit(1))
        spokes = spokes.unionByName(
            spark.range(leaves)
            .filter(pair < n_stars)
            .select(F.col("id").alias(a), (F.lit(hub0) + pair).alias(b))
        )
    hub = F.lit(hub0) + F.col("id")
    links = (
        spark.range(n_stars - 1)
        .filter(F.col("id") % CHAIN != CHAIN - 1)
        .select(hub.alias(a), (hub + 1).alias(b))
    )
    return spokes.unionByName(links)


class _CallerScope:
    """A loop scope with no child: the loop runs on the caller."""

    def __init__(self, spark, n_rows):
        self.session = spark

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def handoff(self, df):
        return df

    handback = handoff


def _ref_scope(tree: str):
    path = os.path.join(
        tree, "datafusion_archive_spark", "operators", "util.py"
    )
    spec = importlib.util.spec_from_file_location("_ref_util", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.loop_session


def _use_scope(scope) -> None:
    dedup._loop_session = scope
    graph.loop_session = scope


_ONE_TASK = util.one_task
#: the file the one-task kernels append their worker's peak RSS to
_RSS_LOG = ""


def _measured_one_task(df, kernel, schema):
    """util.one_task whose kernel appends the worker's peak RSS (MB)
    to _RSS_LOG once it has yielded its last batch."""
    rss_log = _RSS_LOG

    def measured(table):
        yield from kernel(table)
        peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        with open(rss_log, "a") as f:
            f.write(f"{peak_mb:.0f}\n")

    return _ONE_TASK(df, measured, schema)


def _worker_peak_mb():
    """The peak RSS the last one-task kernel reported, or None if no
    kernel ran since the last call."""
    with open(_RSS_LOG) as f:
        lines = f.read().split()
    open(_RSS_LOG, "w").close()
    return int(lines[-1]) if lines else None


def _run(spark, loop: str, graph_df):
    """(result frame, wall, jobs, stages) of one operator call plus a
    count of its result, in one job group."""
    sc = spark.sparkContext
    group = f"probe-loop-scope-{next(_GROUPS)}"
    sc.setJobGroup(group, group, False)
    t0 = time.perf_counter()
    try:
        if loop == "cc":
            out = dedup.connected_components(graph_df)
        else:
            out = graph.pagerank(graph_df)
        out.count()
    finally:
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    stages = sum(
        len(sc.statusTracker().getJobInfo(j).stageIds) for j in jobs
    )
    return out, wall, len(jobs), stages


def _digest(loop: str, out) -> tuple:
    if loop == "cc":
        r = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("component").alias("k"),
            F.sum(F.col("node") * 31 + F.col("component")).alias("s"),
        ).first()
        return ("nodes", r.n, "components", r.k, "checksum", r.s)
    # ranks are summed in partition order, which differs by side:
    # digest the per-node ranks rounded to 9 decimals instead
    r = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("rank", 9) * (F.col("node") % 1009)).alias("s"),
        F.sum("rank").alias("mass"),
    ).first()
    return ("nodes", r.n, "checksum", round(r.s, 3),
            "mass", round(r.mass, 3))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--loops", default="cc,pagerank")
    ap.add_argument("--sides", default="child,caller")
    ap.add_argument("--ref-tree")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--leaves", type=int, default=2_100_000)
    ap.add_argument("--spokes", type=int, choices=(1, 2), default=1)
    args = ap.parse_args()
    sides = args.sides.split(",")
    scopes = {
        "child": util.loop_session,
        "caller": _CallerScope,
        "loop": util.loop_session,
    }
    if "ref" in sides:
        if not args.ref_tree:
            ap.error("--sides ref needs --ref-tree")
        scopes["ref"] = _ref_scope(args.ref_tree)

    global _RSS_LOG
    fd, _RSS_LOG = tempfile.mkstemp(prefix="probe_loop_scope_rss_")
    os.close(fd)
    try:
        return _probe(args, sides, scopes)
    finally:
        os.unlink(_RSS_LOG)


def _probe(args, sides, scopes) -> int:
    dedup.one_task = graph.one_task = _measured_one_task
    spark = get_spark("probe_loop_scope")
    dp = spark.sparkContext.defaultParallelism
    width = spark.conf.get("spark.sql.shuffle.partitions")
    print(
        f"# loop-scope probe: defaultParallelism={dp}, caller shuffle "
        f"partitions={width}, GRAPH_ROW_CAP={util.GRAPH_ROW_CAP}, "
        f"leaves={args.leaves}, spokes={args.spokes}, STAR={STAR}, "
        f"CHAIN={CHAIN}, "
        f"pairs={args.pairs}, sides={sides}, ref_tree={args.ref_tree}",
        flush=True,
    )
    cap = util.GRAPH_ROW_CAP
    for loop in args.loops.split(","):
        a, b = ("id_a", "id_b") if loop == "cc" else ("src", "dst")
        g = _edges(spark, args.leaves, a, b, args.spokes)
        n_directed = 2 * g.count()
        # the largest cap under which the graph still takes the loop
        loop_cap = (n_directed - 1) // 2
        print(
            f"# {loop}: {n_directed} directed edges; loop side cap "
            f"{loop_cap}",
            flush=True,
        )
        walls = {s: [] for s in sides}
        counters, digests = {}, {}
        for i in range(args.pairs + 1):
            order = sides[i % len(sides):] + sides[: i % len(sides)]
            for side in order:
                _use_scope(scopes[side])
                util.GRAPH_ROW_CAP = loop_cap if side == "loop" else cap
                try:
                    out, wall, jobs, stages = _run(spark, loop, g)
                    digest = _digest(loop, out)
                finally:
                    util.GRAPH_ROW_CAP = cap
                util.release_caches()
                peak = _worker_peak_mb()
                tag = "warm" if i == 0 else f"pair {i}"
                print(
                    f"{loop} {tag} {side:6s} wall {wall:6.1f}s jobs {jobs} "
                    f"stages {stages} worker_peak_rss "
                    f"{'-' if peak is None else f'{peak} MB'} {digest}",
                    flush=True,
                )
                if i:
                    walls[side].append(wall)
                counters.setdefault(side, set()).add((jobs, stages))
                digests.setdefault(side, set()).add(digest)
        _use_scope(util.loop_session)
        same = len(set.union(*digests.values())) == 1
        print(f"# {loop}: digests identical on every side and run: {same}")
        for side in sides:
            w = sorted(walls[side])
            print(
                f"# {loop} {side:6s} median {statistics.median(w):6.1f}s "
                f"range [{w[0]:.1f}, {w[-1]:.1f}] (jobs, stages) "
                f"{sorted(counters[side])}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
