"""Operator-shared utilities."""

from __future__ import annotations

import os
import re
import warnings
from typing import Callable

from pyspark import RDD, StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: One release callable per frame that operator internals persisted
#: or checkpointed. The operators in this package pin small
#: intermediates (signatures, normalized vectors, edge lists) that
#: outlive the returned lazy DataFrame, so they cannot free them
#: themselves. ``cached()`` registers each persisted frame's unpersist,
#: ``materialized()`` each checkpoint's and the above-cap loops their
#: last round's (:func:`release_later`); harnesses (bench.py,
#: tools/check_oracle.py) and each new query invocation call
#: :func:`release_caches` once the previous result has been consumed,
#: keeping a long session's footprint bounded to one query's working
#: set.
_ACTIVE_CACHES: list[Callable[[], object]] = []


def cached(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for scoped release.

    Operator-internal persists must go through this instead of bare
    ``.persist()`` so sessions that run many queries (the driver, the
    bench loop) don't accumulate dead cached RDDs for their lifetime.
    """
    if not df.is_cached:
        df = df.persist()
    release_later(df.unpersist)
    return df


def release_later(release: Callable[[], object]) -> None:
    """Run ``release`` (an unpersist) at the next :func:`release_caches`."""
    _ACTIVE_CACHES.append(release)


def materialized(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` materialized now, and its row count, from one job: an
    eager local checkpoint with the count observed on it (the same
    ``Observation`` the connected-components loop reads its
    convergence count from), so picking a path costs no count job.

    The checkpoint keeps Spark's default deserialized level, chosen by
    measurement on the sf0.1 PageRank edge list (2.39M directed edges,
    4 cores, 5 interleaved reps): the build took 2.45 s and the
    one-task read 2.42 s, against 2.86 s and 3.11 s serialized
    (pyspark's ``MEMORY_AND_DISK``), at 191.6 MB of storage memory
    against 23.3 MB serialized and 36.6 MB as a columnar cache. Its
    blocks are registered for :func:`release_caches`; a frame read
    from the checkpoint fails once they are released, where a
    released cache would recompute.
    """
    obs = Observation()
    ck = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK_DESER
    )
    release_later(lambda: unpersist_checkpoint(ck))
    return ck, obs.get["n"]


def unpersist_checkpoint(ck: DataFrame) -> None:
    """Free the blocks of the local checkpoint ``ck`` now; unreleased,
    they stay in the block manager until the JVM collects the RDD.
    Freeing them twice is a no-op."""
    ck._jdf.queryExecution().analyzed().rdd().unpersist(False)


def release_caches() -> None:
    """Free every operator-internal cache and checkpoint registered
    since the last release. Safe to call at any point where no
    previously returned (still-lazy) DataFrame will be re-executed."""
    while _ACTIVE_CACHES:
        _ACTIVE_CACHES.pop()()


#: (sf_dir, table) → (session, lazy DataFrame handle). Handles only —
#: no data is pinned, so this never interacts with executor memory or
#: release_caches().
_TABLE_HANDLES: dict[tuple[str, str], tuple[object, DataFrame]] = {}


def load_table(spark, sf_dir: str, name: str) -> DataFrame:
    """Memoized ``spark.read.parquet`` for the testdata tables.

    Every ``spark.read.parquet`` call pays a driver-side file listing
    plus a parquet-footer schema read (~50-150 ms of py4j round
    trips); a multi-table query rebuilt per bench pass re-pays it for
    every table, which profiling showed was 20-40% of measured wall
    time for short queries. The returned DataFrame is an immutable
    lazy plan, so reusing the handle is safe FOR STATIC INPUTS only:
    ``spark.read.parquet`` snapshots the file index at DataFrame
    creation, so files added to (or rewritten under) a memoized path
    later in the same session are INVISIBLE through the cached handle.
    The memo is keyed on the session and meant for the driver/bench/
    test corpus, which never changes mid-session (at 100 TB a
    production job builds its scan once anyway); anything that
    regenerates a table directory mid-session must call
    :func:`invalidate_tables` on that path first.
    """
    key = (sf_dir, name)
    hit = _TABLE_HANDLES.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _TABLE_HANDLES[key] = (spark, df)
    return df


def invalidate_tables(sf_dir: str | None = None, name: str | None = None) -> None:
    """Drop memoized :func:`load_table` handles so the next call
    re-resolves the file listing — required after rewriting a table
    directory mid-session (the cached handle's snapshot would
    otherwise serve a stale file index). ``None`` matches all."""
    for key in [
        k
        for k in _TABLE_HANDLES
        if (sf_dir is None or k[0] == sf_dir)
        and (name is None or k[1] == name)
    ]:
        del _TABLE_HANDLES[key]


_SIZE_SUFFIX = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _parse_bytes(v: str) -> int:
    """Spark size-conf values: plain bytes or '128m'/'1g'-style."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", str(v).lower())
    if not m:
        return 128 * 2**20
    return int(m.group(1)) * _SIZE_SUFFIX.get(m.group(2), 1)


def spread(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Ensure compute-heavy per-row operators get cluster-wide
    parallelism.

    A small file scans as one partition, which serializes the whole
    operator on one core no matter how many are available — the
    classic "tiny input, heavy compute" trap (hashing/shingling every
    row costs far more than the scan). If the input already splits
    into at least defaultParallelism tasks (any real at-scale table
    does), this is a no-op; otherwise a round-robin repartition —
    cheap for small inputs by construction — spreads the rows.

    The smallness probe must stay cheap at *plan-build* time: callers
    construct queries at interactive rates and ``df.rdd`` forces a
    full logical→physical plan conversion per call. Instead, estimate
    the scan's split count from the source file listing
    (``df.inputFiles()`` reads the already-built file index — no job,
    no RDD): a parquet scan yields at least one task per file, plus
    one per ``maxPartitionBytes`` of local file bytes. Only sources
    with no file listing (in-memory ranges, post-shuffle inputs — rare
    for these operators, and post-shuffle inputs are already spread)
    fall back to the RDD-partition check.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * min_factor
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        if len(files) >= target:
            return df
        local = [f[len("file:"):] for f in files if f.startswith("file:")]
        if len(local) == len(files):
            try:
                total = sum(os.path.getsize(p) for p in local)
            except OSError:
                total = 0
            max_split = _parse_bytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            )
            if max(len(files), -(-total // max_split)) >= target:
                return df
            # Small local scan: repartitioning costs one shuffle of a
            # tiny input and buys full-width parallelism.
            return df.repartition(target)
        # Remote listing: file sizes aren't knowable here, and a few
        # large splittable files already fan out into many byte-range
        # tasks — fall through to the RDD-partition probe rather than
        # force-shuffling what may be a huge table.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


#: per-task row band for the iterative-loop shuffle width. Every
#: shuffle inside a propagation/power-iteration loop is label- or
#: edge-sized (2-4 longs per row, ~24-32 B), so the right width comes
#: from the MEASURED per-iteration row count, not the session's
#: fact-scan width: at most 1M rows ≈ 24-32 MB per task (memory
#: bound — forces a billion-row graph to ~1k+ partitions), at least
#: 50k rows per task (below that, task scheduling overhead exceeds
#: the work and fewer/larger tasks win).
LOOP_ROWS_PER_PARTITION = 1_000_000
LOOP_MIN_ROWS_PER_TASK = 50_000


def loop_parts(spark, n_rows: int) -> int:
    """The shuffle width of a :class:`loop_session` child for ``n_rows``
    per-iteration rows. ``graph.pagerank`` also pre-partitions its
    cached contribution table by dst at exactly this width, so the
    per-iteration aggregate on the child finds its distribution
    already satisfied and plans no Exchange; both sides derive the
    width from this one function so they cannot drift apart
    (tests/test_round16.py, tests/test_loop_scope.py)."""
    lo = max(1, -(-n_rows // LOOP_ROWS_PER_PARTITION))
    hi = max(1, -(-n_rows // LOOP_MIN_ROWS_PER_TASK))
    dp = spark.sparkContext.defaultParallelism
    return min(max(dp, lo), hi)


#: the one size bound of the graph and near-dup operators
#: (dedup.connected_components, dedup.dedup_clusters,
#: dedup.minhash_lsh_pairs, dedup.simhash_near_pairs and graph.pagerank /
#: triangle_stats), checked
#: against real row counts (the row count observed on the materializing
#: job where it picks a path), never Catalyst's carried checkpoint
#: estimates:
#:
#: - a node- or edge-sized frame of at most this many rows is broadcast
#:   into joins (2M rows x ~32 B is ~64 MB, or ~50-70 MB built for the
#:   triangle adjacency table, inside the executor broadcast budget of
#:   the 8g session); past it both sides shuffle on the node id;
#: - a graph of at most this many undirected edges (2x as many directed
#:   edges, two longs each) runs its whole loop in one Python worker
#:   through :func:`one_task`; past it the loop runs as Spark jobs in a
#:   :class:`loop_session`. At 3.8M directed edges (4 cores,
#:   tools/probe_loop_scope.log) connected components took 5.5 s in one
#:   task, with a ~570 MB worker peak RSS, against 26 s in the loop;
#: - a corpus of at most this many documents with a MinHash signature
#:   (16 longs each) is banded, verified and clustered in one Python
#:   worker (dedup_clusters); past it the pairs and their components
#:   are Spark jobs. At the cap (4 cores, every document in a
#:   3-document cluster, tools/dedup_one_task_ab.log) the task took
#:   13-18 s with a ~710 MB worker peak RSS (the kernel frees its
#:   350 MB Arrow input once converted);
#: - a corpus of at most this many documents has its MinHash or SimHash
#:   pairs found in one Python worker (minhash_lsh_pairs,
#:   simhash_near_pairs); past it the banding and the candidate
#:   self-join are Spark jobs. At the cap (4 cores, every document in a
#:   3-document cluster, tools/near_pairs_one_task.log; that probe reads
#:   dedup_clusters at ~880 MB): MinHash pairs took 10-14 s with a
#:   ~910 MB worker peak RSS; SimHash pairs of random 60-bit signatures
#:   at max_hamming 3 took 11-17 s and ~350 MB with four 15-bit bands
#:   (random band collisions make 2.5e8 candidates to verify) and
#:   8-11 s and ~330 MB with six 10-bit blocks taken three at a time
#:   (1.0e7 candidates).
GRAPH_ROW_CAP = 2_000_000


def one_task(df: DataFrame, kernel, schema: str) -> DataFrame:
    """The lazy frame ``df.coalesce(1).mapInArrow(...)``: ``kernel``
    gets ALL rows as one ``pyarrow.Table`` and yields RecordBatches of
    ``schema``; empty input gives no rows. Bounded iterative operators
    run their whole loop this way instead of one Spark job per round.

    The kernel holds the only reference to the table: a kernel that
    drops it once converted frees the Arrow input for the rest of its
    run."""

    def fn(batches):
        import pyarrow as pa

        batches = list(batches)
        if not (batches and sum(b.num_rows for b in batches)):
            return
        out = kernel(pa.Table.from_batches(batches))
        del batches
        yield from out

    return df.coalesce(1).mapInArrow(fn, schema)


#: Over-decomposition factor for salted two-phase top-k windows: the
#: phase-1 sort should fan out to ~4 tasks per core so stragglers and
#: residual per-group size variance amortize (the same reasoning as
#: Spark's own 2-4x task-per-core guidance), without drowning the
#: scheduler in micro-tasks.
SALT_OVERDECOMPOSE = 4
#: Fan-out clamp: at least 8 salts — the floor is the skew guard, not
#: a convenience: ``defaultParallelism`` can be under-reported at
#: build time (dynamic allocation before executors register), and a
#: derivation that bottoms out at 1-2 salts would quietly rebuild the
#: few-reducer funnel the salting exists to prevent; 8 keeps every
#: group split below 1/8th of its data per task at worst while
#: costing nothing on small runs. At most 64 — phase 2 rescans
#: salts x k candidate rows per group, so an unbounded fan-out would
#: push the second window's input toward the first's and erase the
#: point of the split.
SALT_MIN, SALT_MAX = 8, 64
#: How far the configured shuffle width may raise the parallelism
#: signal above the registered core count (see :func:`salt_count`):
#: 4x mirrors SALT_OVERDECOMPOSE — a conf that wide is a deliberate
#: scale statement, while Spark's default 200 on a small cluster is
#: not and gets clamped back to this multiple of real cores.
SALT_SHUFFLE_SIGNAL_MULT = 4


def salt_count(spark, n_groups: int) -> int:
    """Salt fan-out for a salted two-phase top-k window, derived from
    cluster parallelism the way :func:`loop_parts` derives the loop
    shuffle width (VERDICT r13 #3) instead of a fixed constant: enough
    salts that ``n_groups * salts`` covers ``SALT_OVERDECOMPOSE x
    parallelism`` phase-1 sub-sorts, clamped to [SALT_MIN, SALT_MAX].
    The parallelism signal is ``defaultParallelism``, raised toward
    the configured ``spark.sql.shuffle.partitions`` but only up to
    ``SALT_SHUFFLE_SIGNAL_MULT x defaultParallelism``: under dynamic
    allocation defaultParallelism can read 2 before executors
    register, and a DELIBERATELY large shuffle width then reflects
    the intended cluster scale — but Spark's out-of-the-box default
    of 200 shuffle partitions says nothing about scale (a 2-core
    local run ships with it), and honoring it unconditionally made
    every default-conf run saturate SALT_MAX regardless of actual
    parallelism (ADVICE r14), inflating phase-2's salts x k rescan
    2-8x for nothing. Capping the shuffle signal at a small multiple
    of the registered core count keeps the dynamic-allocation rescue
    (a 1000-partition conf on a 2-visible-core cluster still lifts
    the fan-out 8x) without letting a default conf masquerade as a
    big cluster.

    Correctness is salt-count-independent (the pigeonhole argument: a
    row in a group's true top-k is in its own salt bucket's top-k for
    ANY bucket count >= 1), so this only moves the plan's fan-out —
    on a large cluster the same query fans out to the SALT_MAX cap
    (e.g. 6 groups x 64 = 384 phase-1 sub-sorts) instead of the
    32-core-tuned fixed 32/8 it shipped with; full 4x-per-core
    coverage holds up to ~SALT_MAX*n_groups/4 cores, beyond which the
    cap (sized by phase 2's salts x k rescan cost) intentionally
    wins.
    """
    dp = spark.sparkContext.defaultParallelism
    try:
        shuffle_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
        dp = max(dp, min(shuffle_w, SALT_SHUFFLE_SIGNAL_MULT * dp))
    except Exception:
        pass
    salts = -(-SALT_OVERDECOMPOSE * dp // max(n_groups, 1))
    return min(max(salts, SALT_MIN), SALT_MAX)


def _rebind(df: DataFrame, spark) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``spark``. No view and no
    data movement: a persisted input still hits the shared cache
    manager (lookup is by canonicalized plan) and keeps the
    partitioning it was cached with.

    ``Dataset.ofRows(session, plan)`` is Spark-internal
    (``private[sql]``, overloaded) and is used as the pinned pyspark
    4.1 ships it; a Spark upgrade must re-check it (a changed
    signature fails loudly through py4j, not silently)."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, spark)


class loop_session:
    """The scope the above-cap iterative loops (connected-components
    propagation, PageRank power iteration) run in: a fresh
    ``spark.newSession()`` child with AQE off and the
    :func:`loop_parts` shuffle width for ``n_rows`` per-iteration rows.

    AQE re-plans and materializes every tiny per-round query stage,
    and the caller's shuffle width is sized for fact scans, not the
    loop's label/edge-sized shuffles. The child has its own SQLConf
    (and shares the SparkContext and the cache manager), so the
    caller's conf is never narrowed, and concurrent or nested loops
    each get their own child. If the child cannot be created, the
    scope raises.

    The child starts from the caller's EFFECTIVE SQL confs, not just
    the context conf: ``newSession()`` misses confs set at runtime
    (``spark.sql.session.timeZone``, the events table's
    ``nanosAsLong``, ANSI/rebase modes, ...), so they are copied from
    ``spark.conf.getAll`` before the narrowing. A cached input evicted
    mid-loop is then recomputed under the caller's semantics.

    DataFrames are session-bound: ``handoff(df)`` rebinds a caller
    frame to the child, ``handback(df)`` rebinds a child frame (already
    materialized: localCheckpoint / rewrapped RDD) to the caller, so
    downstream consumers execute under the caller's conf. Exiting the
    scope releases nothing; the child goes to the GC with its last
    frame.
    """

    #: the confs whose divergence between caller and child changes
    #: SCAN/EXPR semantics (not just performance) on a mid-loop
    #: recomputation: a copy of one of these that the child refuses
    #: warns, while other refusals (static entries) stay silent
    _SEMANTIC_CONF_KEYS = (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.ansi.enabled",
        "spark.sql.caseSensitive",
        "spark.sql.parquet.datetimeRebaseModeInRead",
        "spark.sql.parquet.int96RebaseModeInRead",
    )

    def __init__(self, spark, n_rows: int):
        self._spark = spark
        self._n_rows = n_rows

    def __enter__(self):
        # pyspark's SparkSession constructor rebinds RDD.toDF to the
        # session it builds; keep it on the caller's
        to_df = RDD.toDF
        try:
            child = self._spark.newSession()
        finally:
            RDD.toDF = to_df
        for key, val in self._spark.conf.getAll.items():
            try:
                child.conf.set(key, val)
            except Exception:
                # static entries (spark.app.name) legitimately refuse
                if key in self._SEMANTIC_CONF_KEYS:
                    warnings.warn(
                        f"loop_session: failed to clone semantic "
                        f"conf {key!r} onto the child session; a "
                        "mid-loop recomputation of a handed-off "
                        "input may use Spark-default semantics "
                        "for it",
                        RuntimeWarning,
                        stacklevel=2,
                    )
        child.conf.set("spark.sql.adaptive.enabled", "false")
        child.conf.set(
            "spark.sql.shuffle.partitions",
            str(loop_parts(self._spark, self._n_rows)),
        )
        self.session = child
        return self

    def handoff(self, df: DataFrame) -> DataFrame:
        """Caller-session frame -> child-bound frame."""
        return _rebind(df, self.session)

    def handback(self, df: DataFrame) -> DataFrame:
        """Child-bound frame -> caller-session frame."""
        return _rebind(df, self._spark)

    def __exit__(self, *exc):
        return False
