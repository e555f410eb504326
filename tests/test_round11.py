"""Round-11 regression pins.

1. The bpe_encode_tokens DuckDB oracle (pipeline4._bpe_oracle_sql):
   the trainer unrolls into CTE stages and the greedy left-to-right
   non-overlapping merge is reproduced with plain ``replace`` on a
   double-spaced symbol string (DuckDB's RE2 has no lookarounds).
   Pinned on an overlap-HEAVY synthetic corpus — runs of identical
   symbols and alternating pairs are exactly where a naive
   single-spaced replace diverges from the engine's lookaround regex
   (" a a a " consumes the shared delimiter and misses the second
   pair), so this corpus fails immediately if the delimiter-doubling
   invariant is ever broken. The merge-TABLE oracle
   (_bpe_merges_oracle_sql, added late in round 11 — each unrolled
   stage m{k} IS merge k) is pinned on the same corpus.

2. ADVICE r10 fixes:
   - multimodal._decode_pillow maps truncated-payload OSError (and
     frame-probe EOFError/SyntaxError) to ValueError, not just
     UnidentifiedImageError;
   - plans.inspect.summarize raises on formatted-parse drift instead
     of silently reporting 0 hash exchanges;
   - session.get_spark warns when getOrCreate returns a pre-existing
     session whose spark.driver.memory differs from the requested
     value (the sf0.1 OOM-protection boundary).

3. The plan-scan scans-ceiling (VERDICT r10 #5): the registry's
   widest plans are 6 distinct-table scans; the uncached
   fan-out-recompute class (same source re-read per reused-subtree
   branch) must keep tripping the gate.

4. The sweep-growth gate (tools/sweep_outliers.py), mechanizing the
   late-round-11 sweep-cliff audit: per-query wall growth between two
   sweep logs must stay under the cap, absolute time under the
   ceiling. The r10 sf0.1 log is kept as the regression fixture — the
   four cliffs that audit found (dbscan_clusters 2044 s,
   spatial_clark_evans 351 s, inventory_clamped_scan 151 s,
   skyline_orders 57 s) must keep tripping it.
"""

from __future__ import annotations

import sys
import types
import warnings

import duckdb
import pandas as pd
import pytest


# ---------------------------------------------------------------------------
# 1. BPE encode oracle differential on overlap-heavy words
# ---------------------------------------------------------------------------


def test_bpe_oracle_matches_engine_on_overlap_heavy_corpus(
    spark, tmp_path
):
    from datafusion_archive_spark.queries.pipeline4 import (
        _bpe_oracle_sql,
        q_bpe_encode_tokens,
    )

    docs = [
        # runs of one letter: merge (a,a) must go greedy-left
        # ("aaa" -> [aa, a]), the case plain single-space replace gets
        # wrong by consuming the shared delimiter
        "aaa aaaa aaaaa aa a",
        # alternating pairs: every adjacent (a,b) merges in ONE pass
        "abababab abab ab ba",
        # repeated-word mass to steer the early merges onto the
        # pathological shapes above
        "aaa aaa aaa aaa abab abab abab baba",
        "aa aa aa aa aa ab ab ab ab",
        # mixed-case + extra whitespace exercises normalize_text
        "  AAA   aBaB  \t aa  ",
    ]
    pd.DataFrame(
        {"doc_id": range(len(docs)), "text": docs, "lang": "en"}
    ).to_parquet(str(tmp_path / "documents.parquet"))

    got = (
        q_bpe_encode_tokens(spark, str(tmp_path))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('"
        + str(tmp_path / "documents.parquet")
        + "')"
    )
    want = (
        con.execute(_bpe_oracle_sql())
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"n_tokens": "int64"}),
        want.astype({"n_tokens": "int64"}),
    )
    # the corpus really did hit the greedy-left shape: some token is a
    # multi-merge run (aaaa-or-longer collapsed), proving the merges
    # touched the overlap cases rather than stopping at digraphs
    toks = set(got["head_tokens"].str.split("|").explode())
    assert any(len(t.replace("</w>", "")) >= 3 for t in toks), toks


def test_bpe_merges_oracle_matches_engine_on_overlap_heavy_corpus(
    spark, tmp_path
):
    """The merge TABLE oracle (_bpe_merges_oracle_sql) — each unrolled
    trainer stage m{k} is exactly merge k, including its selection-time
    pair frequency, on the same pathological corpus as the encode pin
    (greedy-left rewrites change the pair counts every stage, so a
    delimiter-semantics bug shows up in pair_freq even when the chosen
    pairs happen to agree)."""
    from datafusion_archive_spark.queries.pipeline4 import (
        _bpe_merges_oracle_sql,
        q_bpe_merges,
    )

    docs = [
        "aaa aaaa aaaaa aa a",
        "abababab abab ab ba",
        "aaa aaa aaa aaa abab abab abab baba",
        "aa aa aa aa aa ab ab ab ab",
        "  AAA   aBaB  \t aa  ",
    ]
    pd.DataFrame(
        {"doc_id": range(len(docs)), "text": docs, "lang": "en"}
    ).to_parquet(str(tmp_path / "documents.parquet"))

    got = (
        q_bpe_merges(spark, str(tmp_path))
        .toPandas()
        .sort_values("merge_idx")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('"
        + str(tmp_path / "documents.parquet")
        + "')"
    )
    want = (
        con.execute(_bpe_merges_oracle_sql())
        .fetchdf()
        .sort_values("merge_idx")
        .reset_index(drop=True)[got.columns]
    )
    pd.testing.assert_frame_equal(
        got.astype({"merge_idx": "int64", "pair_freq": "int64"}),
        want.astype({"merge_idx": "int64", "pair_freq": "int64"}),
    )
    # single-letter runs force at least one merge whose LEFT side is
    # itself a merged symbol (e.g. (aa, a)) — the stage-dependence the
    # unrolled CTEs must reproduce
    assert any(len(l) >= 2 for l in got["left"].tolist()), got


# ---------------------------------------------------------------------------
# 2a. Pillow decode maps truncated-payload errors to ValueError
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "raised", [OSError("broken header"), EOFError(), SyntaxError("gif")]
)
def test_decode_pillow_maps_truncation_errors(monkeypatch, raised):
    # fake PIL: identified-but-truncated payload -> raises from open()
    pil = types.ModuleType("PIL")
    image_mod = types.ModuleType("PIL.Image")

    class UnidentifiedImageError(Exception):
        pass

    def _open(_buf):
        raise raised

    image_mod.open = _open
    pil.Image = image_mod
    pil.UnidentifiedImageError = UnidentifiedImageError
    image_mod.UnidentifiedImageError = UnidentifiedImageError
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)

    from datafusion_archive_spark.operators.multimodal import (
        _decode_pillow,
    )

    with pytest.raises(ValueError, match="corrupt media payload"):
        _decode_pillow(b"\x89PNG truncated")


# ---------------------------------------------------------------------------
# 2b. plan-inspect parse-drift guard
# ---------------------------------------------------------------------------


def test_summarize_raises_on_formatted_parse_drift(monkeypatch):
    from datafusion_archive_spark.plans import inspect as I

    plans = {
        "simple": "*(2) Exchange hashpartitioning(k#1, 8)\n+- Scan\n",
        # formatted layout WITHOUT the "(N) Exchange" detail header the
        # regex needs — the drift shape ADVICE r10 flagged
        "formatted": "Exchange [2]\nArguments: hashpartitioning(k)\n",
    }
    monkeypatch.setattr(
        I, "plan_string", lambda df, mode="simple": plans[mode]
    )
    with pytest.raises(RuntimeError, match="parse drift"):
        I.summarize(object())


def test_summarize_still_counts_real_exchanges(spark, sf_dir):
    # sanity alongside the guard: a real shuffling plan parses fine
    from datafusion_archive_spark.operators.util import load_table
    from datafusion_archive_spark.plans import summarize

    df = load_table(spark, sf_dir, "orders").groupBy("o_orderstatus").count()
    s = summarize(df)
    assert s.n_hash_exchanges >= 1


# ---------------------------------------------------------------------------
# 2c. session factory warns when a stale under-provisioned JVM wins
# ---------------------------------------------------------------------------


def test_get_spark_warns_on_driver_memory_mismatch(spark, monkeypatch):
    from datafusion_archive_spark.session import get_spark

    current = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    # request something the already-running JVM cannot have
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEMORY", "2g")
    assert current != "2g"
    with pytest.warns(RuntimeWarning, match="spark.driver.memory"):
        got = get_spark("mismatch_probe")
    assert got is spark  # getOrCreate returned the existing session


def test_get_spark_quiet_when_memory_matches(spark, monkeypatch):
    from datafusion_archive_spark.session import get_spark

    current = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEMORY", current)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        get_spark("match_probe")


# ---------------------------------------------------------------------------
# 3. scans ceiling — the widest legitimate plans stay at 6 distinct
#    tables; a fan-out recompute would push past it
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["q21_suppliers_kept_orders_waiting", "q5_local_supplier"]
)
def test_widest_plans_hold_the_scan_ceiling(spark, sf_dir, name):
    from datafusion_archive_spark.plans import summarize
    from datafusion_archive_spark.queries import _ALL_QUERIES

    s = summarize(_ALL_QUERIES[name](spark, sf_dir))
    assert s.n_scans <= 6, (name, s.n_scans)


# ---------------------------------------------------------------------------
# 4. simhash combination blocking (Manku WWW'07) is output-identical
#    to the simple contiguous-band scheme AND to brute-force hamming
# ---------------------------------------------------------------------------


def test_simhash_combination_blocking_is_exact(spark):
    import itertools

    from pyspark.sql import functions as F

    from datafusion_archive_spark.operators import dedup

    # clustered corpus: groups of near-identical docs (simhash-close)
    # plus unique docs; distinct group vocabularies keep groups apart
    rows = []
    did = 0
    for g in range(12):
        base = [f"g{g}w{j}" for j in range(40)]
        for v in range(3):
            words = list(base)
            for j in range(v):  # v words perturbed -> tiny hamming
                words[7 * j + 3] = f"g{g}v{v}j{j}"
            rows.append({"doc_id": did, "text": " ".join(words)})
            did += 1
    df = spark.createDataFrame(rows)

    def pairs(**kw):
        return {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_near_pairs(
                df, max_hamming=3, bits=64, **kw
            ).collect()
        }

    simple = pairs(blocking_bands=4)
    combo = pairs(n_blocks=6)
    # brute-force ground truth from the signatures themselves
    sigs = {
        r.id: r.simhash for r in dedup.simhash64(df, bits=64).collect()
    }
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert brute, "corpus must actually contain near pairs"
    assert simple == brute
    assert combo == brute


def test_diagnose_heap_oom_classifies():
    from datafusion_archive_spark.session import diagnose_heap_oom

    oom = Exception(
        "Job aborted due to stage failure: ... "
        "java.lang.OutOfMemoryError: Java heap space"
    )
    assert "spark.driver.memory" in (diagnose_heap_oom(oom) or "")
    assert diagnose_heap_oom(Exception("ANALYSIS_ERROR: nope")) is None


@pytest.mark.slow
def test_sf01_graph_on_1g_heap_passes_or_diagnoses():
    """VERDICT r10 #6: the vanilla-session heap boundary, pinned. A
    fresh 1g-heap JVM (the bare-session default the driver uses) runs
    the sf0.1 graph queries: each must either pass or fail with the
    session.diagnose_heap_oom classification — never an unexplained
    raw executor stack. (As of r11, graph_pagerank passes in
    isolation and graph_triangle_count OOMs — both outcomes satisfy
    the contract; the subprocess exists so a Spark upgrade changing
    either behavior is caught, not discovered mid-sweep.)"""
    import subprocess
    import sys as _sys
    import textwrap

    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[16]")
                 .config("spark.driver.memory", "1g")
                 .config("spark.sql.shuffle.partitions", "16")
                 .config("spark.ui.enabled", "false").getOrCreate())
        from datafusion_archive_spark.queries import _ALL_QUERIES
        from datafusion_archive_spark.session import diagnose_heap_oom
        # triangle_count first: it is the one that kills the JVM, and
        # a dead JVM would make a second query unreachable anyway
        try:
            n = _ALL_QUERIES["graph_triangle_count"](
                spark, "/root/testdata/sf0.1"
            ).count()
            print("TRIANGLE_OK", n)
        except Exception as e:
            diag = diagnose_heap_oom(e)
            print("TRIANGLE_DIAGNOSED" if diag else "TRIANGLE_RAW",
                  (diag or str(e))[:200].replace("\\n", " "))
        """
    )
    proc = subprocess.run(
        [_sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
    )
    out = proc.stdout
    assert "TRIANGLE_OK" in out or "TRIANGLE_DIAGNOSED" in out, (
        out[-500:],
        proc.stderr[-500:],
    )


# ---------------------------------------------------------------------------
# 5. IVF auto stride (~sqrt n) — the scale-probe sizing rule as API
# ---------------------------------------------------------------------------


def test_ivf_auto_stride_sizes_and_recalls(spark):
    from pyspark.sql import functions as F

    from datafusion_archive_spark.operators import similarity

    n = 400
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") / 20).cast("long").alias("cl"),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: (F.pmod(F.xxhash64(F.col("cl"), j), F.lit(2001)) / 1000.0 - 1.0)
        + 0.2
        * (
            F.pmod(F.xxhash64(F.col("vec_id"), j, F.lit(5)), F.lit(2001))
            / 1000.0
            - 1.0
        ),
    )
    corpus = base.select("vec_id", vec.alias("embedding"))
    assert similarity._auto_stride(corpus) == 20  # round(sqrt(400))

    queries = corpus.filter(F.col("vec_id") % 40 == 0).limit(5)
    brute = similarity.cosine_topk(corpus, queries, k=5)
    auto = similarity.ivf_topk(
        corpus, queries, k=5, nprobe=2, centroid_stride=None
    )
    hits = auto.join(brute, ["query_id", "neighbor_id"], "semi").count()
    assert hits / brute.count() >= 0.6  # clustered data: probes land


def test_simhash_combination_blocking_validates_params(spark, jobs_of):
    """A bad ``n_blocks`` raises at build time, before the signature
    checkpoint runs any Spark job."""
    from datafusion_archive_spark.operators import dedup

    df = spark.createDataFrame([{"doc_id": 0, "text": "a b c"}])

    def raises(match, **kw):
        with pytest.raises(ValueError, match=match):
            dedup.simhash_near_pairs(df, bits=64, **kw).collect()

    _, n = jobs_of(lambda: raises("must divide", n_blocks=7))
    assert n == 0
    _, n = jobs_of(
        lambda: raises("n_blocks > max_hamming", max_hamming=6, n_blocks=6)
    )
    assert n == 0


# ---------------------------------------------------------------------------
# 4. Sweep-growth gate (tools/sweep_outliers.py) — the mechanized
#    version of the round-11 sweep-cliff audit
# ---------------------------------------------------------------------------


class TestSweepOutliers:
    def _mod(self):
        import importlib.util
        import pathlib

        p = pathlib.Path(__file__).parent.parent / "tools" / "sweep_outliers.py"
        spec = importlib.util.spec_from_file_location("sweep_outliers", p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_flags_superlinear_growth_and_ceiling(self):
        m = self._mod()
        small = {"ok": 2.0, "cliff": 3.0, "slow": 20.0}
        large = {"ok": 14.0, "cliff": 300.0, "slow": 95.0}
        bad = m.audit(small, large, max_growth=15.0, max_seconds=90.0)
        # cliff trips growth AND ceiling; slow trips only the ceiling
        assert sum("cliff" in b for b in bad) == 2
        assert sum("slow" in b for b in bad) == 1
        assert not any("ok:" in b for b in bad)

    def test_floor_absorbs_subsecond_noise(self):
        m = self._mod()
        # 0.05 s -> 1.2 s is 24x raw but within the 1 s floor's reach —
        # session noise, not a cliff
        bad = m.audit({"q": 0.05}, {"q": 1.2}, 15.0, 90.0)
        assert bad == []

    def test_missing_row_is_loud(self):
        m = self._mod()
        bad = m.audit({"a": 1.0, "b": 1.0}, {"a": 1.0}, 15.0, 90.0)
        assert any("only present" in x for x in bad)

    def test_committed_r11_logs_pass_and_r10_cliffs_fail(self):
        import pathlib

        m = self._mod()
        tools = pathlib.Path(__file__).parent.parent / "tools"
        small = m.parse_log(tools / "oracle_sweep_r11.log")
        large = m.parse_log(tools / "oracle_sweep_r11_sf01.log")
        assert len(small) == 342 and len(large) == 342
        assert m.audit(small, large, 15.0, 90.0) == []
        # the r10 sf0.1 log is the regression fixture: the four cliffs
        # the round-11 audit found must keep tripping the gate
        old = m.parse_log(tools / "oracle_sweep_r10_sf01.log")
        bad = "\n".join(m.audit(small, old, 15.0, 90.0))
        for q in ("dbscan_clusters", "spatial_clark_evans",
                  "skyline_orders", "inventory_clamped_scan"):
            assert q in bad, q
