"""Round-13 contracts: the ADVICE r12 fixes (sweep_outliers
hung-re-read tolerance and explicit --sf-dir scale verification)."""

from __future__ import annotations

import importlib.util
import pathlib
import subprocess
import sys


# ---------------------------------------------------------------- #
# sweep_outliers: hung re-reads + --sf-dir scale guard (ADVICE r12) #
# ---------------------------------------------------------------- #


def _sweep_mod():
    p = pathlib.Path(__file__).parent.parent / "tools" / "sweep_outliers.py"
    spec = importlib.util.spec_from_file_location("sweep_outliers_r13", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_reread_timeout_does_not_crash_the_gate(monkeypatch):
    """A hung check_oracle re-run (the worst kind of regression) must
    not crash the gate with a traceback; the query simply gets no
    re-read and stays REAL in attribute()."""
    m = _sweep_mod()

    def hang(*a, **kw):
        raise subprocess.TimeoutExpired(cmd="check_oracle", timeout=1.0)

    monkeypatch.setattr(m.subprocess, "run", hang)
    out = m.reread_times(["q"], "/root/testdata/sf0.1", runs=2, timeout=1.0)
    assert out == {}
    # and a REAL verdict follows: no re-read -> violation stays
    bad = m.audit_struct({"q": 1.0}, {"q": 40.0}, 15.0, 90.0)
    real, ambient = m.attribute(bad, {"q": 1.0}, 15.0, 90.0, out)
    assert [v["name"] for v in real] == ["q"] and ambient == []


def test_log_sf_dir_header_parse(tmp_path):
    m = _sweep_mod()
    with_header = tmp_path / "a.log"
    with_header.write_text(
        "# SF_DIR /root/testdata/sf0.1\nPASS q1: 5 rows (1.0s)\n"
    )
    assert m.log_sf_dir(str(with_header)) == "/root/testdata/sf0.1"
    without = tmp_path / "b.log"
    without.write_text("PASS q1: 5 rows (1.0s)\n")
    assert m.log_sf_dir(str(without)) is None
    # the header line must not leak into the parsed times
    assert m.parse_log(str(with_header)) == {"q1": 1.0}


def _run_sweep_cli(args):
    tool = pathlib.Path(__file__).parent.parent / "tools" / "sweep_outliers.py"
    return subprocess.run(
        [sys.executable, str(tool), *args],
        capture_output=True,
        text=True,
        timeout=60,
    )


def test_attribute_requires_explicit_sf_dir(tmp_path):
    """--attribute with no --sf-dir must refuse (exit 2) instead of
    silently re-reading at a default scale that may not match the
    large log's."""
    small = tmp_path / "s.log"
    large = tmp_path / "l.log"
    small.write_text("PASS q1: 5 rows (1.0s)\n")
    large.write_text("PASS q1: 5 rows (2.0s)\n")
    proc = _run_sweep_cli([str(small), str(large), "--attribute"])
    assert proc.returncode == 2
    assert "--sf-dir" in proc.stderr


def test_attribute_rejects_mismatched_recorded_scale(tmp_path):
    """When the large log records its scale (# SF_DIR header), a
    contradicting --sf-dir is an error — a re-read at the wrong scale
    misattributes real breaches as ambient (or vice versa)."""
    small = tmp_path / "s.log"
    large = tmp_path / "l.log"
    small.write_text("PASS q1: 5 rows (1.0s)\n")
    large.write_text(
        "# SF_DIR /root/testdata/sf0.1\nPASS q1: 5 rows (2.0s)\n"
    )
    proc = _run_sweep_cli(
        [
            str(small),
            str(large),
            "--attribute",
            "--sf-dir",
            "/root/testdata/sf0.01",
        ]
    )
    assert proc.returncode == 2
    assert "recorded scale" in proc.stderr
    # a matching --sf-dir passes the guard (and the gate, 2x growth)
    proc = _run_sweep_cli(
        [
            str(small),
            str(large),
            "--attribute",
            "--sf-dir",
            "/root/testdata/sf0.1",
        ]
    )
    assert proc.returncode == 0
    assert "GATE PASS" in proc.stdout


def test_non_attribute_runs_need_no_sf_dir(tmp_path):
    """The plain gate (no --attribute) is unaffected by the new
    requirement."""
    small = tmp_path / "s.log"
    large = tmp_path / "l.log"
    small.write_text("PASS q1: 5 rows (1.0s)\n")
    large.write_text("PASS q1: 5 rows (2.0s)\n")
    proc = _run_sweep_cli([str(small), str(large)])
    assert proc.returncode == 0
    assert "GATE PASS" in proc.stdout


# ---------------------------------------------------------------- #
# expr-string blocking keys == chained-Column blocking keys         #
# ---------------------------------------------------------------- #


class TestExprStringBlockingParity:
    """The r13 perf pass rebuilt the SimHash/LSH blocking keys as
    single F.expr SQL strings (0.64 s of chained py4j calls -> ~1 ms
    per build). The SQL must stay VALUE-identical to the chained
    formulation — these tests pin the refactor by computing both on
    the same signatures and comparing exact sets, covering operator
    precedence (| vs shiftleft), mask widths, and the 2^60-1 edge."""

    #: signature edge cases: 0, all-ones at 60 bits, alternating
    #: patterns, single bits at block boundaries
    SIGS = [
        0,
        (1 << 60) - 1,
        0x0AAAAAAAAAAAAAA5,
        0x0555555555555555,
        1,
        1 << 59,
        (1 << 10) | (1 << 20) | (1 << 30) | (1 << 40) | (1 << 50),
        0x0123456789ABCDE,
    ]

    def _sig_df(self, spark):
        return spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.SIGS)], "id INT, sig LONG"
        )

    def test_simple_band_keys_match_chained(self, spark):
        from pyspark.sql import functions as F

        bits, bands = 60, 4
        width = bits // bands
        mask = (1 << width) - 1
        df = self._sig_df(spark)
        items = ", ".join(
            f"named_struct('band', {b}, 'band_val', "
            f"(shiftrightunsigned(sig, {b * width}) & {mask}))"
            for b in range(bands)
        )
        got = {
            (r.id, r.bb.band, r.bb.band_val)
            for r in df.select(
                "id", F.expr(f"explode(array({items}))").alias("bb")
            ).collect()
        }
        chained = [
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("sig"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(bands)
        ]
        want = {
            (r.id, r.bb.band, r.bb.band_val)
            for r in df.select(
                "id", F.explode(F.array(*chained)).alias("bb")
            ).collect()
        }
        assert got == want and len(got) == len(self.SIGS) * bands

    def test_combination_keys_match_chained(self, spark):
        from itertools import combinations

        from pyspark.sql import functions as F

        bits, n_blocks, max_hamming = 60, 6, 3
        combo_size = n_blocks - max_hamming
        width = bits // n_blocks
        mask = (1 << width) - 1
        df = self._sig_df(spark)

        block_sql = [
            f"(shiftrightunsigned(sig, {i * width}) & {mask})"
            for i in range(n_blocks)
        ]
        items = []
        for cidx, combo in enumerate(
            combinations(range(n_blocks), combo_size)
        ):
            val = " | ".join(
                f"shiftleft({block_sql[i]}, {pos * width})"
                if pos
                else block_sql[i]
                for pos, i in enumerate(combo)
            )
            items.append(
                f"named_struct('band', {cidx}, 'band_val', {val})"
            )
        got = {
            (r.id, r.bb.band, r.bb.band_val)
            for r in df.select(
                "id",
                F.expr(f"explode(array({', '.join(items)}))").alias("bb"),
            ).collect()
        }

        block = [
            F.shiftrightunsigned(F.col("sig"), i * width).bitwiseAND(
                F.lit(mask)
            )
            for i in range(n_blocks)
        ]
        chained = []
        for cidx, combo in enumerate(
            combinations(range(n_blocks), combo_size)
        ):
            val = block[combo[0]]
            for pos, i in enumerate(combo[1:], start=1):
                val = val.bitwiseOR(F.shiftleft(block[i], pos * width))
            chained.append(
                F.struct(F.lit(cidx).alias("band"), val.alias("band_val"))
            )
        want = {
            (r.id, r.bb.band, r.bb.band_val)
            for r in df.select(
                "id", F.explode(F.array(*chained)).alias("bb")
            ).collect()
        }
        n_combos = len(list(combinations(range(n_blocks), combo_size)))
        assert got == want and len(got) == len(self.SIGS) * n_combos

    def test_near_pairs_schemes_still_agree_end_to_end(self, spark):
        """Belt and braces at the operator level: on real text, the
        simple and combination schemes (both now expr-built) must
        produce the identical exact pair set — the pigeonhole
        guarantee the r11 probe measured, re-pinned on the new key
        construction."""
        from datafusion_archive_spark.operators import dedup

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        simple = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_near_pairs(
                docs, max_hamming=3, bits=60
            ).collect()
        }
        combo = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_near_pairs(
                docs, max_hamming=3, bits=60, n_blocks=6
            ).collect()
        }
        assert simple == combo and simple

