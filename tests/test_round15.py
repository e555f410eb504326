"""Round-15 contracts: bounded child-session reuse in loop_session
(VERDICT r14 #2) and the semantic-conf clone warning (VERDICT r14 #4);
the shuffle-signal cap on salt_count is pinned in test_round14.py's
updated test_salt_count_shuffle_partitions_signal.
"""

from __future__ import annotations

import threading
import warnings

from datafusion_archive_spark.operators import util
from datafusion_archive_spark.operators.util import (
    _CHILD_POOL,
    _CHILD_POOL_MAX,
    loop_session,
)


# ---------------------------------------------------------------- #
# VERDICT r14 #2: child sessions are pooled and reused              #
# ---------------------------------------------------------------- #


def test_sequential_loops_reuse_one_child(spark):
    """Two sequential loop scopes on the same parent run on the SAME
    child session object — a long-lived driver running thousands of
    loops holds a bounded number of JVM SessionStates, not one per
    loop (the round-14 residual debit)."""
    with loop_session(spark, 1000) as ls1:
        first = ls1._child
        assert first is not None
    with loop_session(spark, 1000) as ls2:
        assert ls2._child is first
    # and the child went back to the idle pool on exit
    assert first in _CHILD_POOL[id(spark)]


def test_concurrent_loops_get_distinct_children(spark):
    """Reuse must not re-introduce conf sharing: two loops entered
    concurrently pop distinct children (the second finds the pool
    empty and mints a fresh one), so their narrowed widths cannot
    collide."""
    seen = []
    barrier = threading.Barrier(2, timeout=30)
    errors = []

    def run():
        try:
            with loop_session(spark, 1000) as ls:
                seen.append(ls._child)
                barrier.wait()
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors
    assert len(seen) == 2 and seen[0] is not seen[1]


def test_child_pool_is_bounded(spark):
    """The idle pool never exceeds _CHILD_POOL_MAX: children released
    beyond the cap go to the GC exactly as before round 15."""
    barrier = threading.Barrier(_CHILD_POOL_MAX + 2, timeout=60)

    def run():
        with loop_session(spark, 1000):
            barrier.wait()

    threads = [
        threading.Thread(target=run) for _ in range(_CHILD_POOL_MAX + 2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert len(_CHILD_POOL[id(spark)]) == _CHILD_POOL_MAX


def test_reused_child_resyncs_parent_conf(spark):
    """Reuse is conf-safe: a runtime conf changed on the parent
    between loops reaches the reused child, and a key the parent no
    longer carries is unset (no conf leakage across loops)."""
    key = "spark.sql.session.timeZone"
    stale_key = "spark.sql.cbo.enabled"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "UTC")
        spark.conf.set(stale_key, "true")
        with loop_session(spark, 1000) as ls1:
            child = ls1._child
            assert child.conf.get(key) == "UTC"
            assert child.conf.get(stale_key) == "true"
        spark.conf.set(key, "America/New_York")
        spark.conf.unset(stale_key)
        with loop_session(spark, 1000) as ls2:
            assert ls2._child is child  # same pooled child...
            assert child.conf.get(key) == "America/New_York"  # ...resynced
            # the stale key fell back to its default, not the old
            # scope's leftover
            assert child.conf.get(stale_key) == spark.conf.get(stale_key)
    finally:
        spark.conf.set(key, before)
        try:
            spark.conf.unset(stale_key)
        except Exception:
            pass


def test_reused_child_renarrows_width(spark):
    """The loop narrowing is re-derived per scope on the reused
    child — a second loop with a different row count gets its own
    width, not the first loop's."""
    with loop_session(spark, 10) as ls1:
        child = ls1._child
        w1 = child.conf.get("spark.sql.shuffle.partitions")
        assert child.conf.get("spark.sql.adaptive.enabled") == "false"
    with loop_session(spark, 50_000_000) as ls2:
        assert ls2._child is child
        w2 = child.conf.get("spark.sql.shuffle.partitions")
    assert int(w1) < int(w2)


def test_child_pool_keyed_per_parent(spark):
    """Children are pooled PER PARENT session: a loop on a different
    parent must not receive another session's child."""
    other = spark.newSession()
    with loop_session(spark, 1000) as ls1:
        c1 = ls1._child
    with loop_session(other, 1000) as ls2:
        c2 = ls2._child
    assert c1 is not c2
    assert c1 in _CHILD_POOL[id(spark)]
    assert c2 in _CHILD_POOL[id(other)]


# ---------------------------------------------------------------- #
# VERDICT r14 #4: failed SEMANTIC conf clones warn loudly           #
# ---------------------------------------------------------------- #


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

    parent = _Parent(spark)
    # ensure the poisoned key is actually in the caller's effective
    # confs so the clone attempts it
    before = spark.conf.get(poisoned)
    spark.conf.set(poisoned, before)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            with loop_session(parent, 1000) as ls:
                assert ls._child is not None  # still the child route
        msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
        assert any(poisoned in m and "semantic" in m for m in msgs), msgs
    finally:
        # the wrapper parent has its own id() pool entry; the real
        # session's pool is untouched
        _CHILD_POOL.pop(id(parent), None)


def test_nonsemantic_conf_clone_failure_stays_silent(spark):
    """Static / non-modifiable entries (spark.app.name et al) refuse
    cloning on every session — those skips must stay silent or every
    loop would warn."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with loop_session(spark, 1000) as ls:
            assert ls._child is not None
    assert not [w for w in caught if w.category is RuntimeWarning]


def test_iterative_query_after_pool_adoption(spark, sf_dir):
    """End-to-end guard: connected components still converges to the
    same clusters on the pooled child, twice in a row (the second run
    exercises the reuse path)."""
    from datafusion_archive_spark.operators.dedup import dedup_clusters
    from datafusion_archive_spark.operators.util import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    first = sorted(
        (r["keep_id"], r["cluster_size"])
        for r in dedup_clusters(docs).collect()
    )
    util.release_caches()
    second = sorted(
        (r["keep_id"], r["cluster_size"])
        for r in dedup_clusters(docs).collect()
    )
    util.release_caches()
    assert first == second and len(first) > 0
