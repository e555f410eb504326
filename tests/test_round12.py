"""Round-12 contracts: the two ADVICE r11 semantic mirrors
(approx_aggs NULL-group join, Clark–Evans empty-table radius guard)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- #
# ADVICE r11 semantic mirrors                                       #
# ---------------------------------------------------------------- #


def test_approx_aggs_retains_null_group(spark, tmp_path):
    """ADVICE r11: the sketch/exact branch join and the quantile-band
    join are null-safe, so a NULL l_returnflag group survives to the
    output exactly as the oracle's GROUP BY retains it."""
    from datafusion_archive_spark.queries import nested

    # prices repeat (5 distinct values per group) so the exact
    # (q49, q51) band contains an actual data value — with all-distinct
    # tiny groups the band falls between order statistics and no
    # sketch could land inside it
    rows = []
    for flag in ("A", "R", None):
        for i in range(200):
            rows.append(
                (flag, (hash((flag, i)) % 13) + 1, 100.0 + (i % 5))
            )
    spark.createDataFrame(
        rows,
        "l_returnflag string, l_orderkey bigint, l_extendedprice double",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    out = nested.q_approx_aggs(spark, str(tmp_path)).collect()
    by_flag = {r.l_returnflag: r for r in out}
    assert set(by_flag) == {"A", "R", None}
    null_row = by_flag[None]
    # the sketch contracts hold on the NULL group like any other
    assert null_row.approx_orders_ok == 1
    assert null_row.approx_median_ok == 1
    assert null_row.exact_orders >= 1


def test_clark_evans_radius_guard_mirrors_sql():
    """ADVICE r11: engine max(n, 1) == SQL greatest(count(*), 1) —
    identical bits for every n >= 1, both defined at n = 0."""
    import math

    import duckdb

    from datafusion_archive_spark.queries.pipeline68 import (
        _N_REF,
        _radius_scale,
    )

    for n in (0, 1, 2, 149, 1500, 240_000):
        sql = duckdb.sql(
            f"SELECT sqrt({float(_N_REF)!r} / greatest({n}, 1)) AS s"
        ).fetchone()[0]
        assert _radius_scale(n) == sql, n
    assert _radius_scale(0) == math.sqrt(_N_REF)


# ---------------------------------------------------------------- #
# sweep_outliers ambient attribution (VERDICT r11 #7)               #
# ---------------------------------------------------------------- #


class TestSweepAttribution:
    def _mod(self):
        import importlib.util
        import pathlib

        p = (
            pathlib.Path(__file__).parent.parent
            / "tools"
            / "sweep_outliers.py"
        )
        spec = importlib.util.spec_from_file_location("sweep_outliers", p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_ambient_breach_downgrades_real_breach_stays(self):
        m = self._mod()
        small = {"bursty": 2.0, "cliff": 2.0}
        large = {"bursty": 40.0, "cliff": 40.0}  # both 20x > 15x cap
        bad = m.audit_struct(small, large, 15.0, 90.0)
        assert {v["name"] for v in bad} == {"bursty", "cliff"}
        # same-commit A/B: bursty re-reads back inside the cap
        # (ambient), cliff reproduces (real)
        rereads = {"bursty": 6.0, "cliff": 41.0}
        real, ambient = m.attribute(bad, small, 15.0, 90.0, rereads)
        assert [v["name"] for v in real] == ["cliff"]
        assert len(ambient) == 1 and "bursty" in ambient[0]
        assert "ambient" in ambient[0]

    def test_ceiling_breach_attributable(self):
        m = self._mod()
        small = {"slow": 20.0}
        large = {"slow": 95.0}  # ceiling breach, growth fine
        bad = m.audit_struct(small, large, 15.0, 90.0)
        assert [v["kind"] for v in bad] == ["ceiling"]
        real, ambient = m.attribute(bad, small, 15.0, 90.0, {"slow": 60.0})
        assert real == [] and len(ambient) == 1

    def test_missing_rows_and_failed_rereads_stay_real(self):
        m = self._mod()
        small = {"a": 1.0, "gone": 1.0}
        large = {"a": 40.0}
        bad = m.audit_struct(small, large, 15.0, 90.0)
        # no re-read produced a row for either -> both stay real
        real, ambient = m.attribute(bad, small, 15.0, 90.0, {})
        assert {v["name"] for v in real} == {"a", "gone"}
        assert ambient == []

    def test_back_compat_audit_messages_unchanged(self):
        m = self._mod()
        small = {"q": 2.0}
        large = {"q": 40.0}
        assert m.audit(small, large, 15.0, 90.0) == [
            v["msg"] for v in m.audit_struct(small, large, 15.0, 90.0)
        ]
