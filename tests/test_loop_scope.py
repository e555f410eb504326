"""The iterative-loop scope: ``operators.util.loop_session`` is the one
loop scope, and the engine runs on classic (py4j) sessions only.

- The job count of a connected-components call is pinned, for a fresh
  and for a pooled child session alike: the loop runs with AQE off on
  the child, so the count is deterministic.
- ``get_spark`` rejects a session without a JVM context (Spark
  Connect) before touching it.
- A child session that cannot be created is an error, not a degraded
  scope on the caller's session.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import SparkSession

from datafusion_archive_spark.operators import dedup
from datafusion_archive_spark.operators.util import loop_session

#: jobs one ``connected_components`` call runs on the graph below
#: with the one-task cap forced to 0: the edge and node counts under
#: the caller's conf plus the rounds of the AQE-off loop on the child
#: session. The forced cap also turns the label broadcasts, and their
#: broadcast jobs, off.
CC_JOBS = 15


def _pairs():
    # the chain + star + singleton pairs + triangle graph of
    # test_round11b.TestLoopConf::test_labels_match_union_find_and_conf_survives
    return (
        [(i, i + 1) for i in range(1, 12)]
        + [(100, k) for k in range(101, 110)]
        + [(200, 201), (300, 301)]
        + [(400, 401), (401, 402), (402, 400)]
    )


def test_connected_components_job_count_pinned(spark, jobs_of, monkeypatch):
    """Two calls in one session — the second runs on the pooled child
    the first returned — each run exactly CC_JOBS jobs and give the
    same labels. The cap is forced to 0: the child session serves
    only the distributed path, which no test graph reaches."""
    monkeypatch.setattr(dedup, "_BROADCAST_NODE_CAP", 0)
    pdf = spark.createDataFrame(_pairs(), "id_a long, id_b long")
    counts, labels = [], []
    for _ in range(2):
        result, n = jobs_of(lambda: dedup.connected_components(pdf))
        counts.append(n)
        labels.append(sorted(tuple(r) for r in result.collect()))
    assert counts == [CC_JOBS, CC_JOBS]
    assert labels[0] == labels[1]
    assert len(labels[0]) == 12 + 10 + 4 + 3


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


def _handoff_views(spark):
    return [
        t.name
        for t in spark.catalog.listTables("global_temp")
        if t.name.startswith("_loop_handoff_")
    ]


def test_loop_session_child_failure_propagates(spark):
    """A parent whose newSession() raises: the scope raises that
    error, warns nothing, narrows nothing on the parent and leaves no
    handoff view behind."""

    class _NoChild:
        def __init__(self, real):
            self._real = real

        def newSession(self):
            raise RuntimeError("no child sessions here")

        def __getattr__(self, name):
            return getattr(self._real, name)

    before = (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(RuntimeError, match="no child sessions"):
            with loop_session(_NoChild(spark), 1000) as ls:
                ls.handoff(spark.range(3))  # pragma: no cover
    assert [w for w in caught if w.category is RuntimeWarning] == []
    assert (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    ) == before
    assert _handoff_views(spark) == []
