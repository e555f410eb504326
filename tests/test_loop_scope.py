"""The iterative-loop scope: ``operators.util.loop_session`` runs each
above-cap loop on a plain per-loop child session, and the engine runs
on classic (py4j) sessions only.

- The child is narrowed (AQE off, ``loop_parts`` width); the caller's
  conf never is. Concurrent and nested scopes each get their own child.
- The child starts from the caller's runtime confs; a semantic conf it
  refuses warns, a static one does not.
- ``handoff``/``handback`` rebind a frame's analyzed plan to the other
  session: a cached input keeps its cache hit and its partitioning.
- Scopes leave nothing behind: no listener, no module-level registry,
  and ``RDD.toDF`` still builds frames on the caller's session.
- The job count of a connected-components call is pinned: the loop
  runs with AQE off on the child, so the count is deterministic. The
  loop with its label broadcasts on gives the one-task labels.
- ``get_spark`` rejects a session without a JVM context (Spark
  Connect) before touching it.
- A child session that cannot be created is an error, not a degraded
  scope on the caller's session.
"""

from __future__ import annotations

import gc
import threading
import warnings
import weakref
from itertools import combinations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from datafusion_archive_spark.operators import dedup, util
from datafusion_archive_spark.operators.util import loop_parts, loop_session

#: jobs one ``connected_components`` call runs on the graph below
#: with the one-task cap forced to 0: the edge checkpoint (which also
#: counts the edges) and the node count under the caller's conf plus
#: the rounds of the AQE-off loop on the child session. The forced cap
#: also turns the label broadcasts, and their broadcast jobs, off.
CC_JOBS = 11


def _pairs():
    # the chain + star + singleton pairs + triangle graph of
    # test_round11b.TestLoopConf::test_labels_match_union_find_and_conf_survives
    return (
        [(i, i + 1) for i in range(1, 12)]
        + [(100, k) for k in range(101, 110)]
        + [(200, 201), (300, 301)]
        + [(400, 401), (401, 402), (402, 400)]
    )


def _narrowable(spark):
    return (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )


def test_connected_components_job_count_pinned(spark, jobs_of, monkeypatch):
    """Two calls in one session, each on its own child, run exactly
    CC_JOBS jobs and give the same labels. The cap is forced to 0: the
    child session serves only the distributed path, which no test
    graph reaches."""
    monkeypatch.setattr(util, "GRAPH_ROW_CAP", 0)
    pdf = spark.createDataFrame(_pairs(), "id_a long, id_b long")
    counts, labels = [], []
    for _ in range(2):
        result, n = jobs_of(lambda: dedup.connected_components(pdf))
        counts.append(n)
        labels.append(sorted(tuple(r) for r in result.collect()))
    assert counts == [CC_JOBS, CC_JOBS]
    assert labels[0] == labels[1]
    assert len(labels[0]) == 12 + 10 + 4 + 3


def test_connected_components_broadcast_loop(spark, monkeypatch):
    """The propagation loop with its label-sized frames broadcast, as
    an above-cap graph of at most GRAPH_ROW_CAP nodes runs it: a cap at
    the node count, below the undirected edge count, forces the loop
    and keeps the broadcasts on. The labels match the one-task path."""
    # two 5-cliques joined by one edge, plus a triangle: 13 nodes, 24
    # undirected edges
    pairs = [
        (a + o, b + o) for o in (0, 10) for a, b in combinations(range(5), 2)
    ] + [(4, 10), (20, 21), (21, 22), (20, 22)]
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    want = sorted(tuple(r) for r in dedup.connected_components(pdf).collect())
    assert want == sorted(
        [(v, 0) for v in (*range(5), *range(10, 15))]
        + [(v, 20) for v in (20, 21, 22)]
    )
    hints = []
    real_broadcast = dedup.F.broadcast
    monkeypatch.setattr(
        dedup.F,
        "broadcast",
        lambda df: hints.append(df) or real_broadcast(df),
    )
    monkeypatch.setattr(util, "GRAPH_ROW_CAP", 13)
    got = sorted(tuple(r) for r in dedup.connected_components(pdf).collect())
    assert got == want
    # three label-sized joins per round
    assert hints and len(hints) % 3 == 0


def test_loop_session_parent_conf_never_narrowed(spark):
    """Mid-scope, the CALLER's session conf is identical to its
    pre-scope state (only the child reads the narrowed width with AQE
    off), so a frame built before the loop and collected during it
    plans exactly as it would with no loop running."""
    before = _narrowable(spark)
    with loop_session(spark, 1000) as ls:
        assert ls.session is not spark
        assert _narrowable(spark) == before
        # the child IS narrowed
        assert _narrowable(ls.session) == ("1", "false")
    assert _narrowable(spark) == before


def test_loop_session_handoff_handback_roundtrip(spark):
    df = spark.range(100).withColumn("g", F.col("id") % 3)
    with loop_session(spark, 100) as ls:
        child_df = ls.handoff(df)
        assert child_df.sparkSession is ls.session
        agg = (
            child_df.groupBy("g")
            .agg(F.sum("id").alias("s"))
            .localCheckpoint(eager=True)
        )
        back = ls.handback(agg)
    assert back.sparkSession is spark
    # the handed-back frame still reads after the scope, and values
    # match a parent-session computation exactly
    assert sorted((r.g, r.s) for r in back.collect()) == sorted(
        (r.g, r.s)
        for r in df.groupBy("g").agg(F.sum("id").alias("s")).collect()
    )


def test_handoff_keeps_cache_and_layout(spark):
    """A cached frame laid out by key at the loop width keeps both
    across the handoff: on the child, a groupBy on that key reads the
    cache and plans no Exchange above it. PageRank's above-cap loop
    relies on this to aggregate its contribution table without a
    per-iteration shuffle."""
    n = 100_000
    laid_out = (
        spark.range(n)
        .select((F.col("id") % 97).alias("dst"), F.col("id").alias("v"))
        .repartition(loop_parts(spark, n), "dst")
        .persist()
    )
    try:
        laid_out.count()
        with loop_session(spark, n) as ls:
            agg = ls.handoff(laid_out).groupBy("dst").agg(F.sum("v"))
            plan = agg._jdf.queryExecution().executedPlan().toString()
            assert agg.count() == 97
        above_cache, cache, _ = plan.partition("InMemoryTableScan")
        assert cache, plan
        assert "Exchange" not in above_cache, plan
    finally:
        laid_out.unpersist()


def _two_concurrent_scopes(spark):
    """Enter two loop scopes from two threads at once; a shared
    barrier inside both releases only if neither blocks the other.
    Returns the children the scopes ran on and any errors raised."""
    barrier = threading.Barrier(2, timeout=30)
    seen, errs = [], []

    def run():
        try:
            with loop_session(spark, 1000) as ls:
                seen.append(ls.session)
                barrier.wait()
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    ts = [threading.Thread(target=run) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(60)
    return seen, errs


def test_loop_session_concurrent_scopes_do_not_serialize(spark):
    """Two threads' loops enter simultaneously and both get through
    the barrier: neither scope blocks the other."""
    seen, errs = _two_concurrent_scopes(spark)
    assert errs == []
    assert len(seen) == 2


def test_concurrent_loops_get_distinct_children(spark):
    """Two loops entered concurrently run on distinct children, so
    their narrowed widths cannot collide."""
    seen, errs = _two_concurrent_scopes(spark)
    assert errs == []
    assert len(seen) == 2 and seen[0] is not seen[1]


def test_loop_session_nested_scopes_same_thread(spark):
    """Nested loops on one thread run on separate child sessions:
    they are independent and both compute correctly."""
    df = spark.range(50).withColumn("g", F.col("id") % 5)
    with loop_session(spark, 50) as outer:
        o = outer.handoff(df)
        with loop_session(spark, 50) as inner:
            assert inner.session is not outer.session
            i = inner.handoff(df)
            n_inner = i.groupBy("g").count().count()
        assert n_inner == 5
        assert o.groupBy("g").count().count() == 5


def test_sequential_scopes_leave_nothing_behind(spark):
    """50 sequential scopes: the shared listener bus holds as many
    listeners as before, once the scopes' frames are gone no child
    session is still referenced from Python (``util`` keeps no
    module-level registry of them), and ``rdd.toDF()`` builds on the
    caller's session."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    before = bus.listeners().size()
    children = []
    df = spark.range(10)
    for _ in range(50):
        with loop_session(spark, 1000) as ls:
            ls.handoff(df)
            children.append(weakref.ref(ls.session))
    del ls
    gc.collect()
    assert [c for c in children if c() is not None] == []
    assert bus.listeners().size() == before
    # pyspark's SparkSession constructor rebinds RDD.toDF to the
    # session it builds; the scopes put it back on the caller's
    assert spark.sparkContext.parallelize([(1,)]).toDF().sparkSession is spark


def test_loop_session_child_inherits_runtime_confs(spark):
    """newSession() starts from the CONTEXT conf, which misses confs
    set at runtime on an already-running context — so if a cached
    handoff block were evicted mid-loop, the child would recompute
    the upstream scan under Spark defaults (wrong timezone, the
    events table's nanosAsLong unset). loop_session must clone the
    caller's effective confs into the child."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        bare_child = spark.newSession()
        # preconditions: the raw child genuinely lacks them (if Spark
        # ever starts inheriting, this test can be retired)
        assert (
            bare_child.conf.get("spark.sql.session.timeZone")
            != "America/New_York"
            or bare_child.conf.get("spark.sql.legacy.parquet.nanosAsLong")
            != "true"
        )
        with loop_session(spark, 1000) as ls:
            child = ls.session
            assert (
                child.conf.get("spark.sql.session.timeZone")
                == "America/New_York"
            )
            assert (
                child.conf.get("spark.sql.legacy.parquet.nanosAsLong")
                == "true"
            )
            # and the narrowing still wins over the cloned width
            assert child.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


def test_semantic_conf_clone_failure_warns(spark):
    """A child that refuses to accept a _SEMANTIC_CONF_KEYS entry
    (timezone here) must raise a RuntimeWarning naming the key —
    a silent skip would let a mid-loop cache-eviction recompute run
    under Spark-default scan semantics."""

    poisoned = "spark.sql.session.timeZone"

    class _PoisonConf:
        def __init__(self, real):
            self._real = real

        def set(self, key, value):
            if key == poisoned:
                raise RuntimeError("poisoned")
            return self._real.set(key, value)

        def __getattr__(self, name):
            return getattr(self._real, name)

    class _PoisonChild:
        def __init__(self, real):
            self._real = real
            self.conf = _PoisonConf(real.conf)

        def __getattr__(self, name):
            return getattr(self._real, name)

    class _Parent:
        def __init__(self, real):
            self._real = real

        def newSession(self):
            return _PoisonChild(self._real.newSession())

        def __getattr__(self, name):
            return getattr(self._real, name)

    # ensure the poisoned key is actually in the caller's effective
    # confs so the clone attempts it
    spark.conf.set(poisoned, spark.conf.get(poisoned))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with loop_session(_Parent(spark), 1000) as ls:
            assert isinstance(ls.session, _PoisonChild)  # still a child
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any(poisoned in m and "semantic" in m for m in msgs), msgs


def test_nonsemantic_conf_clone_failure_stays_silent(spark):
    """Static / non-modifiable entries (spark.app.name et al) refuse
    cloning on every session — those skips must stay silent or every
    loop would warn."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with loop_session(spark, 1000) as ls:
            assert ls.session is not spark
    assert not [w for w in caught if w.category is RuntimeWarning]


class _NoJvmSession:
    """What getOrCreate returns for a Spark Connect remote: a session
    with no ``_jsc``. Touching ``sparkContext`` fails the test."""

    _jsc = None

    @property
    def sparkContext(self):
        raise AssertionError("get_spark touched sparkContext")


def test_get_spark_rejects_session_without_jvm(monkeypatch):
    from datafusion_archive_spark.session import get_spark

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: _NoJvmSession()
    )
    with pytest.raises(RuntimeError, match="classic.*Spark Connect"):
        get_spark("no-jvm")


def test_loop_session_child_failure_propagates(spark):
    """A parent whose newSession() raises: the scope raises that
    error, warns nothing and narrows nothing on the parent."""

    class _NoChild:
        def __init__(self, real):
            self._real = real

        def newSession(self):
            raise RuntimeError("no child sessions here")

        def __getattr__(self, name):
            return getattr(self._real, name)

    before = _narrowable(spark)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(RuntimeError, match="no child sessions"):
            with loop_session(_NoChild(spark), 1000) as ls:
                ls.handoff(spark.range(3))  # pragma: no cover
    assert [w for w in caught if w.category is RuntimeWarning] == []
    assert _narrowable(spark) == before
