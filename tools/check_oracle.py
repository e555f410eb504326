"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry at a scale factor and compares against
``oracle_sql()`` via DuckDB: row count, sorted column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
floats as-is — the query layer is responsible for rounding anything
engine-order-dependent).

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Per-round standard (round 10 onward): run the full registry at THREE
scale factors — sf0.01 (the driver gate's scale), sf0.001, and sf0.1 —
and commit the logs. The sf0.01 gate is structurally blind to
scale-dependent divergence: the r10 sf0.1 sweep caught a latent
dense_rank tie bug in an oracle (value collisions first appear at
sf0.1) and a 1g-heap OOM that sf0.01 never triggers.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

# the checkout this script lives in, so a copy of the tree checks its
# own package
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from datafusion_archive_spark.context import TESTDATA_TABLES
from datafusion_archive_spark.session import get_spark

import __spark_entry__ as entrymod


def _session():
    """ORACLE_CHECK_VANILLA=1 replicates the driver's configuration —
    a bare SparkSession with none of the session factory's conf — so
    the sweep artifact proves the queries don't depend on get_spark
    defaults (the driver will not use our factory).

    HEAP BOUNDARY (VERDICT r10 #6): vanilla means the JVM launches
    with the 1g spark.driver.memory default, shared by the driver and
    every executor thread. That holds the whole registry at the
    sf0.01 gate (the committed vanilla sweeps prove it), but the
    sf0.1 GRAPH queries cross it — graph_triangle_count reproducibly
    OOMs a 1g heap at sf0.1 (pinned by tests/test_round11.py). Run
    sf0.1 sweeps through get_spark (8g default), and read any vanilla
    sf0.1 graph failure via session.diagnose_heap_oom — the per-query
    FAIL line below already does."""
    if os.environ.get("ORACLE_CHECK_VANILLA"):
        from pyspark.sql import SparkSession

        return (
            SparkSession.builder.master("local[16]")
            .appName("oracle_check_vanilla")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    if os.environ.get("ORACLE_CHECK_PARTITIONS"):
        # PARTITION-INVARIANCE sweep (round 11c): every certified
        # result must be independent of the cluster's parallelism —
        # the property that makes a local[32] green row meaningful on
        # a 1000-executor cluster. Run the registry under a skewed
        # parallelism (e.g. local[4] with 5 shuffle partitions, or
        # 200) and the value hashes must still match the oracle
        # byte-for-byte; a query that leans on partition count,
        # partition ordering, or monotonically_increasing_id breaks
        # HERE before it breaks on a real cluster.
        from pyspark.sql import SparkSession

        parts = os.environ["ORACLE_CHECK_PARTITIONS"]
        cores = os.environ.get("ORACLE_CHECK_CORES", "4")
        return (
            SparkSession.builder.master(f"local[{cores}]")
            .appName(f"oracle_check_parts{parts}")
            .config("spark.sql.shuffle.partitions", parts)
            .config("spark.driver.memory", "8g")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    return get_spark("oracle_check")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: None
                if v is None or (isinstance(v, float) and pd.isna(v))
                else v
            )
    return (
        df.sort_values(by=list(df.columns), na_position="first")
        .reset_index(drop=True)
    )


def typed_value(v):
    """(type-tag, value) so the comparison is dtype-strict like the
    driver's value hash: int64 0 vs float64 0.0 must FAIL here, not
    pass via Python's ``0 == 0.0``. Round-4 shipped two red driver
    rows because this tool compared raw values with ``==``."""
    import datetime
    import decimal

    import numpy as np

    if v is None or (isinstance(v, float) and pd.isna(v)):
        return ("null", None)
    if isinstance(v, (bool, np.bool_)):  # before int: bool < int
        return ("bool", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("int", int(v))
    if isinstance(v, (float, np.floating)):
        return ("float", float(v))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("list", tuple(typed_value(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, typed_value(x)) for k, x in v.items())))
    if isinstance(v, datetime.datetime):  # before date: datetime < date
        return ("timestamp", v.isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("binary", bytes(v))
    return (type(v).__name__, v)


def value_repr(df: pd.DataFrame) -> list[tuple]:
    return [
        tuple(typed_value(v) for v in row)
        for row in df.itertuples(index=False)
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # scale header so downstream gates (tools/sweep_outliers.py
    # --attribute) can verify a log's scale instead of trusting the
    # caller to pass a matching --sf-dir (ADVICE r12)
    print(f"# SF_DIR {sf_dir}")

    spark = _session()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            from datafusion_archive_spark.session import diagnose_heap_oom

            diag = diagnose_heap_oom(e)
            if diag is not None:
                # vanilla mode runs on the driver's bare 1g JVM — at
                # sf0.1 the graph queries cross the heap boundary
                # there; say so instead of dumping the executor stack
                print(f"FAIL {name}: {diag}")
            else:
                print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(
                f"ROWS-ONLY {name}: {len(sdf)} rows, cols={sorted(sdf.columns)}"
                f" ({time.time()-t0:.1f}s)"
            )
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(
                f"cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
            )
        if not problems:
            s_n, o_n = normalize(sdf), normalize(odf)
            sv, ov = value_repr(s_n), value_repr(o_n)
            if sv != ov:
                diffs = [
                    (i, a, b) for i, (a, b) in enumerate(zip(sv, ov)) if a != b
                ]
                problems.append(
                    f"values differ in {len(diffs)}/{len(sv)} rows; first: "
                    f"{diffs[0] if diffs else '(length mismatch)'}"
                )
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only "
        f"of {len(only) if only else len(qs)}"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
