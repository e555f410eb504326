"""Round-14 contracts: the ADVICE r13 fixes to the growth gate's
scale-verification path (tools/sweep_outliers.py) —

1. log_sf_dir scans the WHOLE log and refuses mixed-scale logs: a log
   assembled by concatenating check_oracle runs at different scales
   must not verify against only the first run's '# SF_DIR' header.
2. --attribute's recorded-vs-argv scale check canonicalizes with
   os.path.realpath, so a relative spelling or a symlink alias of the
   same directory no longer produces a spurious exit-2 mismatch.
"""

from __future__ import annotations

import importlib.util
import os
import pathlib
import subprocess
import sys

import pytest


def _sweep_mod():
    p = pathlib.Path(__file__).parent.parent / "tools" / "sweep_outliers.py"
    spec = importlib.util.spec_from_file_location("sweep_outliers_r14", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_sweep_cli(args, cwd=None):
    tool = pathlib.Path(__file__).parent.parent / "tools" / "sweep_outliers.py"
    return subprocess.run(
        [sys.executable, str(tool), *args],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=cwd,
    )


# ---------------------------------------------------------------- #
# ADVICE r13 low #2: mixed-scale concatenated logs must refuse      #
# ---------------------------------------------------------------- #


def test_log_sf_dir_rejects_mixed_scale_log(tmp_path):
    m = _sweep_mod()
    mixed = tmp_path / "mixed.log"
    mixed.write_text(
        "# SF_DIR /root/testdata/sf0.1\n"
        "PASS q1: 5 rows (1.0s)\n"
        "# SF_DIR /root/testdata/sf0.01\n"
        "PASS q2: 5 rows (0.1s)\n"
    )
    with pytest.raises(ValueError, match="2 distinct"):
        m.log_sf_dir(str(mixed))


def test_log_sf_dir_accepts_repeated_identical_headers(tmp_path):
    """Concatenating re-runs at the SAME scale is legitimate (partial
    re-runs appended) — identical headers must not trip the guard."""
    m = _sweep_mod()
    log = tmp_path / "same.log"
    log.write_text(
        "# SF_DIR /root/testdata/sf0.1\n"
        "PASS q1: 5 rows (1.0s)\n"
        "# SF_DIR /root/testdata/sf0.1\n"
        "PASS q2: 5 rows (0.5s)\n"
    )
    assert m.log_sf_dir(str(log)) == "/root/testdata/sf0.1"


def test_log_sf_dir_scans_past_first_pass_row(tmp_path):
    """The pre-fix parser stopped at the first PASS row, so a second
    header after data rows was invisible; it must now be seen."""
    m = _sweep_mod()
    log = tmp_path / "late.log"
    log.write_text(
        "PASS q0: 1 rows (0.1s)\n"
        "# SF_DIR /root/testdata/sf0.01\n"
        "PASS q1: 5 rows (1.0s)\n"
    )
    assert m.log_sf_dir(str(log)) == "/root/testdata/sf0.01"


def test_attribute_cli_refuses_mixed_scale_large_log(tmp_path):
    small = tmp_path / "s.log"
    large = tmp_path / "l.log"
    small.write_text("# SF_DIR sf0.01\nPASS q1: 5 rows (1.0s)\n")
    large.write_text(
        "# SF_DIR sf0.1\nPASS q1: 5 rows (2.0s)\n"
        "# SF_DIR sf0.05\nPASS q2: 5 rows (2.0s)\n"
    )
    proc = _run_sweep_cli(
        [str(small), str(large), "--attribute", "--sf-dir", "sf0.1"]
    )
    assert proc.returncode == 2
    assert "mixed-scale" in proc.stderr


# ---------------------------------------------------------------- #
# ADVICE r13 low #1: realpath, not normpath, for scale verification #
# ---------------------------------------------------------------- #


def test_attribute_scale_check_canonicalizes_relative_paths(tmp_path):
    """A log stamped with a relative sf_dir must match the same dir
    passed absolute on --sf-dir (check_oracle stamps argv verbatim).
    q1 is inside the growth cap so the run exits 0 once the scale
    check passes; pre-fix this was a spurious exit 2."""
    sf = tmp_path / "sfdata"
    sf.mkdir()
    small = tmp_path / "s.log"
    large = tmp_path / "l.log"
    small.write_text("PASS q1: 5 rows (1.0s)\n")
    large.write_text("# SF_DIR sfdata\nPASS q1: 5 rows (2.0s)\n")
    proc = _run_sweep_cli(
        [str(small), str(large), "--attribute", "--sf-dir", str(sf)],
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr


def test_attribute_scale_check_resolves_symlink_alias(tmp_path):
    """Two spellings of the same directory via a symlink are the SAME
    scale and must not exit 2."""
    real = tmp_path / "sf0.1"
    real.mkdir()
    alias = tmp_path / "alias"
    os.symlink(real, alias)
    small = tmp_path / "s.log"
    large = tmp_path / "l.log"
    small.write_text("PASS q1: 5 rows (1.0s)\n")
    large.write_text(f"# SF_DIR {alias}\nPASS q1: 5 rows (2.0s)\n")
    proc = _run_sweep_cli(
        [str(small), str(large), "--attribute", "--sf-dir", str(real)]
    )
    assert proc.returncode == 0, proc.stderr


def test_attribute_scale_check_still_rejects_truly_different_dirs(tmp_path):
    """Canonicalization must not weaken the gate: genuinely different
    directories still mismatch (exit 2)."""
    a = tmp_path / "sf0.1"
    b = tmp_path / "sf0.01"
    a.mkdir()
    b.mkdir()
    small = tmp_path / "s.log"
    large = tmp_path / "l.log"
    small.write_text("PASS q1: 5 rows (1.0s)\n")
    large.write_text(f"# SF_DIR {a}\nPASS q1: 5 rows (2.0s)\n")
    proc = _run_sweep_cli(
        [str(small), str(large), "--attribute", "--sf-dir", str(b)]
    )
    assert proc.returncode == 2
    assert "does not match" in proc.stderr


# ---------------------------------------------------------------- #
# VERDICT r13 #3: salt fan-out derived from cluster parallelism     #
# ---------------------------------------------------------------- #


class _FakeSC:
    def __init__(self, dp):
        self.defaultParallelism = dp


class _FakeSpark:
    def __init__(self, dp):
        self.sparkContext = _FakeSC(dp)


def test_salt_count_derivation_and_clamps():
    from datafusion_archive_spark.operators.util import (
        SALT_MAX,
        SALT_MIN,
        SALT_OVERDECOMPOSE,
        salt_count,
    )

    # local[32], 6 groups: ceil(4*32/6) = 22 — replaces the fixed 32
    assert salt_count(_FakeSpark(32), 6) == -(-SALT_OVERDECOMPOSE * 32 // 6)
    # a 1000-core cluster fans out to the cap, not a 32-core constant
    assert salt_count(_FakeSpark(1000), 6) == SALT_MAX
    # tiny cluster: never degenerates to the unsalted plan
    assert salt_count(_FakeSpark(1), 1000) == SALT_MIN
    # n_groups=0 must not divide by zero
    assert salt_count(_FakeSpark(8), 0) >= SALT_MIN


def test_salt_count_shuffle_partitions_signal():
    """The configured shuffle width raises the parallelism signal,
    but only up to SALT_SHUFFLE_SIGNAL_MULT x defaultParallelism
    (ADVICE r14): Spark's out-of-the-box 200 on a small machine is
    not a scale statement, and honoring it unconditionally saturated
    SALT_MAX on virtually every default-conf run."""
    from datafusion_archive_spark.operators.util import (
        SALT_MAX,
        SALT_MIN,
        SALT_OVERDECOMPOSE,
        SALT_SHUFFLE_SIGNAL_MULT,
        salt_count,
    )

    class _Conf:
        def __init__(self, parts):
            self._parts = parts

        def get(self, key):
            assert key == "spark.sql.shuffle.partitions"
            return str(self._parts)

    class _Spark(_FakeSpark):
        def __init__(self, dp, parts):
            super().__init__(dp)
            self.conf = _Conf(parts)

    # Spark's DEFAULT 200 on a 2-core run is not a scale statement:
    # the signal is clamped to 4x cores (=8), not honored to the cap
    assert salt_count(_Spark(2, 200), 6) == max(
        SALT_MIN, -(-SALT_OVERDECOMPOSE * 2 * SALT_SHUFFLE_SIGNAL_MULT // 6)
    )
    assert salt_count(_Spark(2, 200), 6) < SALT_MAX
    # ...but a conf within the plausible-scale band still wins over
    # an under-reported defaultParallelism (dynamic allocation):
    # dp=8 with a deliberate 32-wide conf lifts the signal to 32
    assert salt_count(_Spark(8, 32), 6) == -(-SALT_OVERDECOMPOSE * 32 // 6)
    # a genuinely cluster-sized conf on real cores still reaches the
    # cap: dp=32, conf 200 -> signal min(200, 128) -> saturates
    assert salt_count(_Spark(32, 200), 6) == SALT_MAX
    # and even with BOTH signals tiny, the floor holds the skew guard
    assert salt_count(_Spark(1, 1), 1000) == SALT_MIN
    assert SALT_MIN >= 8


# ---------------------------------------------------------------- #
# diagnose_heap_oom: mid-job context-shutdown classification        #
# ---------------------------------------------------------------- #


def test_diagnose_classifies_midjob_context_shutdown():
    """A heap-starved 1g JVM can die by the OOM killing a scheduler
    thread first: the context shuts down mid-job and Python sees only
    'Job N cancelled because SparkContext was shut down' (observed
    live in the r14 battery run of the 1g-heap boundary test). That
    must diagnose — while merely REUSING a stopped context (not a
    crash) must not."""
    from datafusion_archive_spark.session import (
        HEAP_DIAGNOSIS,
        SHUTDOWN_DIAGNOSIS,
        diagnose_heap_oom,
    )

    assert (
        diagnose_heap_oom(
            RuntimeError(
                "Job 51 cancelled because SparkContext was shut down"
            )
        )
        == SHUTDOWN_DIAGNOSIS
    )
    assert (
        diagnose_heap_oom(RuntimeError("java.lang.OutOfMemoryError"))
        == HEAP_DIAGNOSIS
    )
    assert (
        diagnose_heap_oom(
            RuntimeError("Cannot call methods on a stopped SparkContext")
        )
        is None
    )
    assert diagnose_heap_oom(ValueError("unrelated")) is None


def test_sweep_scale_check_covers_small_log_and_plain_mode(tmp_path):
    """r14 review: the mixed-scale guard must cover BOTH logs in
    EVERY mode — a mixed small log inflates growth denominators even
    without --attribute — and same-scale log pairs are a misuse."""
    large = tmp_path / "l.log"
    large.write_text("# SF_DIR sf0.1\nPASS q1: 5 rows (2.0s)\n")
    mixed_small = tmp_path / "ms.log"
    mixed_small.write_text(
        "# SF_DIR sf0.01\nPASS q1: 5 rows (1.0s)\n"
        "# SF_DIR sf0.001\nPASS q2: 5 rows (1.0s)\n"
    )
    proc = _run_sweep_cli([str(mixed_small), str(large)])  # NO --attribute
    assert proc.returncode == 2
    assert "mixed-scale" in proc.stderr
    # same-scale pair: every ratio ~1x, gate meaningless -> refuse
    small_same = tmp_path / "s.log"
    small_same.write_text("# SF_DIR sf0.1\nPASS q1: 5 rows (1.0s)\n")
    proc = _run_sweep_cli([str(small_same), str(large)])
    assert proc.returncode == 2
    assert "same" in proc.stderr.lower()
    # headerless pre-r13 logs still gate fine (no scale info = no veto)
    old_small = tmp_path / "o.log"
    old_small.write_text("PASS q1: 5 rows (1.0s)\n")
    proc = _run_sweep_cli([str(old_small), str(large)])
    assert proc.returncode == 0, proc.stderr
