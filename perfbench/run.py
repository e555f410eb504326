"""Closed-loop benchmark of the query engine: one client, one workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One Python process holds a ``local[nproc]`` session from
``session.get_spark`` and runs the workload's queries one after the
other (a closed loop with one client), in an order drawn from
``--seed``, over a copy of the project's test data kept in
``perfbench/testdata``. Untimed warm passes come first; then a fixed
number of whole timed passes, set by ``--seconds``. After them, each
result is checked against its query's DuckDB oracle: every timed
result collected or written, or for the noop sink the results of one
untimed pass run after the timed ones. The last line of standard
output is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import cpu  # noqa: E402
import sparkstats  # noqa: E402
import tracing  # noqa: E402

SF = 0.01
#: One untimed pass takes the cold costs (JIT, codegen, Python worker
#: start). Later passes still get faster, so the count of warm and of
#: timed passes is fixed: every run then sits at the same point of the
#: warm-up curve.
WARM_PASSES = 1
#: Nominal wall time of one timed pass, in seconds, on a 4-core host.
#: A run makes --seconds // PASS_S timed passes (at least one): the
#: number depends on the arguments only, never on the host's speed.
PASS_S = {"relational": 4.0, "iterative": 10.0, "pipeline": 5.0}

#: Query mixes. Each workload stresses a different layer; see README.md.
WORKLOADS = {
    "relational": (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier",
        "q6_forecast_revenue",
        "q10_returned_items",
        "q18_large_volume",
        "agg_global",
        "agg_rollup",
        "window_topk_per_group",
        "window_running",
        "sort_limit_topk",
        "join_full_outer",
        "events_time_bucket",
        "events_sessionize",
        "events_asof_join",
    ),
    "iterative": (
        "graph_pagerank",
        "dedup_clusters",
        "bpe_merges",
    ),
    "pipeline": (
        "text_stats",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "ann_lsh",
        "multimodal_decode",
    ),
}
#: Where each workload's results go: the noop sink, ``toPandas``, or
#: parquet through ExecutionContext.write into a fresh directory. The
#: iterative queries run all but their last job inside the build call,
#: so collecting their small results costs little and lets every timed
#: result be checked.
SINKS = {"relational": "noop", "iterative": "collect", "pipeline": "write"}

E2E_UNITS = {
    "setup_s": "s",
    "jobs_per_query": "count",
    "peak_exec_mem_mb": "MB",
    "driver_peak_rss_mb": "MB",
    "success_rate": "ratio",
}

COUNTERS = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "failed_tasks",
    "task_run_s",
    "task_cpu_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
)


def pin_environment(work: str) -> int:
    """Fix what the session and its Python workers inherit."""
    nproc = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the Python workers of mapInArrow/applyInPandas operators import
    # the package; they inherit the JVM's environment, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return nproc


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Client:
    """The closed-loop client: runs one query at a time and reads its
    Spark counters between queries, outside the timed interval."""

    def __init__(self, spark, ctx, queries, sf_dir, out_dir, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ctx = ctx
        self.queries = queries
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.tracer = tracer
        self.seen_stages: set[int] = set()

    def run(self, name: str, label: str, sink: str, counters: bool) -> dict:
        tracer, sc = self.tracer, self.sc
        tracer.trace_id = label
        rec = {"query": name, "label": label, "result": None, "out": None}
        root = tracer.start(name, "queries")
        build = tracer.start("build", "queries")
        action = None
        sc.setJobGroup(f"{label}/build", name, False)
        cpu0 = cpu.tree_cpu_s() if counters else 0.0
        t0 = time.perf_counter()
        t1 = None
        try:
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            tracer.end(build)
            sc.setJobGroup(f"{label}/action", name, False)
            if sink == "write":
                rec["out"] = os.path.join(self.out_dir, label)
                action = tracer.start("write", "context")
                self.ctx.write(df, rec["out"])
            elif sink == "collect":
                action = tracer.start("collect", "spark")
                rec["result"] = df.toPandas()
            else:
                action = tracer.start("noop", "spark")
                df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        except Exception:
            t2 = time.perf_counter()
            rec["error"] = traceback.format_exc(limit=3)
        finally:
            for s in (action, build, root):
                if s is not None and s["end"] is None:
                    tracer.end(s)
            sc.setLocalProperty("spark.jobGroup.id", None)
        rec["latency_s"] = t2 - t0
        rec["build_s"] = (t1 if t1 is not None else t2) - t0
        rec["action_s"] = t2 - t1 if t1 is not None else 0.0
        if not counters:
            return rec
        rec["cpu_s"] = cpu.tree_cpu_s() - cpu0
        rec["build_jobs"] = self._counters(rec, f"{label}/build", build)
        self._counters(rec, f"{label}/action", action)
        if rec["out"] is not None and os.path.isdir(rec["out"]):
            files = [
                os.path.join(rec["out"], f)
                for f in os.listdir(rec["out"])
                if f.endswith(".parquet")
            ]
            rec["write_files"] = len(files)
            rec["write_mb"] = sum(os.path.getsize(f) for f in files) / sparkstats.MB
        return rec

    def _counters(self, rec: dict, group: str, span) -> int:
        jobs = sparkstats.read_group(self.sc, group, self.seen_stages)
        for k in COUNTERS:
            rec[k] = rec.get(k, 0) + sum(j[k] for j in jobs)
        rec["peak_exec_mem_mb"] = max(
            [rec.get("peak_exec_mem_mb", 0.0)] + [j["peak_exec_mem_mb"] for j in jobs]
        )
        if group.endswith("/action"):
            # action wall time not covered by the action's jobs:
            # Catalyst planning, codegen and driver-side result handling
            done = [(j["submit"], j["end"]) for j in jobs if j["end"] is not None]
            rec["plan_s"] = rec["action_s"] - tracing.covered(
                done, float("-inf"), float("inf")
            )
        self.tracer.add_jobs(span, jobs)
        return len(jobs)


def run_pass(client, order, label, sink, counters=True) -> dict:
    gc0 = sparkstats.gc_seconds(client.spark)
    recs = [
        client.run(name, f"{label}-{i}-{name}", sink, counters)
        for i, name in enumerate(order)
    ]
    return {
        "records": recs,
        "wall_s": sum(r["latency_s"] for r in recs),
        "gc_s": sparkstats.gc_seconds(client.spark) - gc0,
    }


def compare(sdf, odf) -> list[str]:
    """The oracle comparison of tools/check_oracle.py: row count,
    column names, then dtype-strict values after sorting."""
    from tools.check_oracle import normalize, value_repr

    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows {len(sdf)} != oracle {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}")
    if not problems and value_repr(normalize(sdf)) != value_repr(normalize(odf)):
        problems.append("values differ")
    return problems


def verify(
    records: list[dict], oracles: dict, sf_dir: str, cache_dir: str
) -> dict[str, list[str]]:
    """Query -> problems found in any of its checked outputs: a
    collected frame, or the parquet a pass wrote.

    An oracle's result is kept in ``cache_dir`` under a hash of its SQL,
    the input bytes and the DuckDB version, so later runs in the same
    checkout skip the oracle (the iterative ones take seconds)."""
    import duckdb
    import pandas as pd

    from datafusion_archive_spark.context import TESTDATA_TABLES

    con = duckdb.connect()
    inputs = hashlib.sha256(duckdb.__version__.encode())
    for t in TESTDATA_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        with open(path, "rb") as f:
            inputs.update(f.read())
    os.makedirs(cache_dir, exist_ok=True)

    def oracle(name):
        key = hashlib.sha256(inputs.digest() + oracles[name].encode()).hexdigest()
        path = os.path.join(cache_dir, f"{name}-{key[:16]}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = con.execute(oracles[name]).fetchdf()
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    out: dict[str, list[str]] = {}
    expected = {}
    for rec in records:
        name = rec["query"]
        problems = out.setdefault(name, [])
        try:
            if rec.get("error"):
                problems.append("raised: " + rec["error"].strip().splitlines()[-1])
                continue
            sdf = rec["result"]
            if sdf is None:
                sdf = con.execute(
                    f"SELECT * FROM read_parquet('{rec['out']}/*.parquet')"
                ).fetchdf()
            if name not in expected:
                expected[name] = oracle(name)
            problems += compare(sdf, expected[name])
        except Exception as e:  # a broken check is a failed check
            problems.append(f"check raised {type(e).__name__}: {e}")
    con.close()
    return out


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=120)


def typical_pass(recs, key) -> float:
    """Sum over the mix of each query's median ``key`` across the timed
    passes: one pass hit by a burst of host load moves it less."""
    by_query: dict[str, list[float]] = {}
    for r in recs:
        by_query.setdefault(r["query"], []).append(r[key])
    return sum(statistics.median(v) for v in by_query.values())


def median_of(passes, fn):
    return statistics.median(fn(p) for p in passes) if passes else 0.0


def layer_metrics(passes, tracer, cpus, get_spark_s, overhead_pct) -> dict:
    """Per-layer metrics: each summed over a traced pass, then the
    median over traced passes."""
    selfs = tracer.self_times()
    by_trace: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_trace.setdefault(s["trace"], []).append(s)

    def op_spans(p, op):
        return [
            s
            for r in p["records"]
            for s in by_trace.get(r["label"], [])
            if s["name"] == op and s["layer"] == "operators"
        ]

    def total(key):
        return lambda p: sum(r.get(key, 0) for r in p["records"])

    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "queries.build_s": (median_of(passes, total("build_s")), "s"),
        "queries.build_jobs": (median_of(passes, total("build_jobs")), "count"),
    }
    for mod, fn in tracing.OPERATORS:
        op = f"{mod}.{fn}"
        m[f"operators.{op}.calls"] = (
            median_of(passes, lambda p: len(op_spans(p, op))),
            "count",
        )
        m[f"operators.{op}.self_pct"] = (
            median_of(
                passes,
                lambda p: 100.0 * sum(selfs[s["id"]] for s in op_spans(p, op)) / p["wall_s"],
            ),
            "%",
        )
    writes = lambda p: sum(r["action_s"] for r in p["records"] if r["out"])  # noqa: E731
    m["context.write_pct"] = (median_of(passes, lambda p: 100.0 * writes(p) / p["wall_s"]), "%")
    m["context.write_mb"] = (median_of(passes, total("write_mb")), "MB")
    m["context.write_files"] = (median_of(passes, total("write_files")), "count")
    for k in ("jobs", "stages", "stages_skipped", "tasks"):
        m[f"spark.{k}"] = (median_of(passes, total(k)), "count")

    def reuse(p):
        skipped, run = total("stages_skipped")(p), total("stages")(p)
        return skipped / (skipped + run) if skipped + run else 0.0

    m["spark.stage_reuse_ratio"] = (median_of(passes, reuse), "ratio")
    m["spark.plan_s"] = (median_of(passes, total("plan_s")), "s")
    m["spark.task_run_s"] = (median_of(passes, total("task_run_s")), "s")
    m["spark.task_cpu_s"] = (median_of(passes, total("task_cpu_s")), "s")
    m["spark.busy_pct"] = (
        median_of(passes, lambda p: 100.0 * total("task_run_s")(p) / (p["wall_s"] * cpus)),
        "%",
    )
    m["spark.failed_tasks"] = (median_of(passes, total("failed_tasks")), "count")
    for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"spark.{k}"] = (median_of(passes, total(k)), "MB")
    m["jvm.gc_s"] = (median_of(passes, lambda p: p["gc_s"]), "s")
    m["trace.overhead_pct"] = (overhead_pct, "%")
    return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf",
        type=float,
        choices=(0.001, 0.01),
        default=SF,
        help="scale factor of the bundled test data",
    )
    ap.add_argument(
        "--break-oracle",
        metavar="QUERY",
        help="self-test only: check QUERY against a deliberately wrong oracle",
    )
    return ap.parse_args(argv)


def timed_passes(args) -> int:
    return max(1, int(args.seconds // PASS_S[args.workload]))


def measure(args, work: str) -> dict:
    """Set up, run the warm, timed and check passes and verify the
    results; the session and its JVM are stopped on return."""
    traced = bool(args.trace)
    names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    sf_dir = os.path.join(HERE, "testdata", f"sf{args.sf:g}")
    m = {"nproc": pin_environment(work), "sf_dir": sf_dir}

    # set-up: from here to the first timed query
    setup_t0 = time.perf_counter()
    tracer = m["tracer"] = tracing.Tracer()
    if traced:
        tracing.install(tracer)  # before the registry binds the operators
    from datafusion_archive_spark import ExecutionContext
    from datafusion_archive_spark.queries import ORACLES, QUERIES
    from datafusion_archive_spark.session import get_spark

    oracles = {n: ORACLES[n] for n in names}
    if args.break_oracle:
        oracles[args.break_oracle] = f"SELECT * FROM ({oracles[args.break_oracle]}) OFFSET 1"
    tracer.enabled = traced
    tracer.trace_id = "setup"
    t = time.perf_counter()
    with tracer.span("get_spark", "session"):
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
            },
        )
    m["get_spark_s"] = time.perf_counter() - t
    try:
        tracer.enabled = False
        tracer.cost_s = 0.0
        m["cpus"] = spark.sparkContext.defaultParallelism
        m["spark_version"] = spark.version
        m["java_version"] = spark._jvm.java.lang.System.getProperty("java.version")
        sink = SINKS[args.workload]
        out_dir = os.path.join(work, "out")
        client = Client(spark, ExecutionContext(spark), QUERIES, sf_dir, out_dir, tracer)
        # counters settle only after warm-up, so warm passes skip them
        m["warm"] = [
            run_pass(client, rng.sample(names, len(names)), f"warm{w}", sink, False)
            for w in range(WARM_PASSES)
        ]
        m["setup_s"] = time.perf_counter() - setup_t0

        tracer.enabled = traced
        host0 = cpu.host_ticks()
        m["timed"] = [
            run_pass(client, rng.sample(names, len(names)), f"pass{i}", sink)
            for i in range(timed_passes(args))
        ]
        tracer.enabled = False
        host1 = cpu.host_ticks()
        m["steal_pct"] = 100.0 * (host1[1] - host0[1]) / max(1, host1[0] - host0[0])
        m["driver_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

        if sink == "noop":
            # the noop sink keeps no result: one untimed pass collects
            # them, on the state the timed passes left behind (idle loop
            # sessions, cached plans), so it returns what a further
            # timed pass would have
            passes = [run_pass(client, rng.sample(names, len(names)), "check", "collect", False)]
        else:
            passes = m["timed"]
        t = time.perf_counter()
        m["problems"] = verify(
            [r for p in passes for r in p["records"]],
            oracles,
            sf_dir,
            os.path.join(ROOT, ".perfbench", "oracles"),
        )
        m["check_s"] = time.perf_counter() - t
    finally:
        shutdown(spark)
    m["jvm_rss_mb"] = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("datafusion_archive_spark") is None:
        sys.exit("run from a checkout of the repository: the package is missing")
    if not os.path.isdir(os.path.join(HERE, "testdata", f"sf{args.sf:g}")):
        sys.exit("perfbench/testdata is missing")
    traced = bool(args.trace)
    names = WORKLOADS[args.workload]
    bench_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(bench_dir, f"run-{os.getpid()}")
    try:
        m = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    tracer, timed, problems = m["tracer"], m["timed"], m["problems"]
    nproc, cpus = m["nproc"], m["cpus"]
    if traced:
        tracer.write(os.path.join(bench_dir, f"trace-{args.workload}-seed{args.seed}.jsonl"))

    recs = [r for p in timed for r in p["records"]]
    bad = {n for n, pr in problems.items() if pr}
    attempted = len(recs)
    failed = sum(1 for r in recs if r.get("error") or r["query"] in bad)
    raised = sum(1 for r in recs if r.get("error"))
    # wall and CPU time of a typical pass: the sum over the mix of each
    # query's median over the timed passes
    throughput_qps = len(names) * (1.0 - raised / attempted) / typical_pass(recs, "latency_s")
    cpu_s_per_query = typical_pass(recs, "cpu_s") / len(names)
    e2e = {
        "setup_s": m["setup_s"],
        "jobs_per_query": sum(r["jobs"] for r in recs) / attempted,
        "peak_exec_mem_mb": max(r["peak_exec_mem_mb"] for r in recs),
        "driver_peak_rss_mb": m["driver_rss_mb"],
        "success_rate": 1.0 - failed / attempted,
    }
    samples = {
        "setup_s": 1,
        "jobs_per_query": len(recs),
        "peak_exec_mem_mb": len(recs),
        "driver_peak_rss_mb": 1,
        "success_rate": attempted,
    }

    print(
        f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} sf={args.sf:g} nproc={nproc} cpus={cpus} "
        f"commit={git_commit()} spark={m['spark_version']} java={m['java_version']}"
    )
    print(
        f"# passes: warm={WARM_PASSES} timed={len(timed)} queries/pass={len(names)} "
        f"data={os.path.relpath(m['sf_dir'], ROOT)}"
    )
    print(
        "# pass walls (s): warm "
        + " ".join(f"{p['wall_s']:.2f}" for p in m["warm"])
        + ", timed "
        + " ".join(f"{p['wall_s']:.2f}" for p in timed)
        + "; timed pass CPU (s): "
        + " ".join(f"{sum(r['cpu_s'] for r in p['records']):.2f}" for p in timed)
        + f"; check {m['check_s']:.1f} s"
    )
    for n, pr in problems.items():
        print(f"# verify {n}: {'ok' if not pr else 'FAIL ' + '; '.join(pr)}")
    for r in (r for r in recs if r.get("error")):
        print(f"# error {r['label']}: {r['error'].strip().splitlines()[-1]}")
    print(f"# error_rate {failed / attempted:.4f} ({failed}/{attempted})")
    print(f"# host steal during the timed passes: {m['steal_pct']:.2f}% of CPU time")
    # timings are printed, not gated: on a shared 4-core host they
    # spread by 20-35% between identical runs (README.md)
    print(
        f"# latency_p50_s = {statistics.median(r['latency_s'] for r in recs):.6g} s "
        f"(n={len(recs)}, not gated)"
    )
    print(f"# throughput_qps = {throughput_qps:.6g} 1/s (n={len(recs)}, not gated)")
    print(f"# cpu_s_per_query = {cpu_s_per_query:.6g} s (n={len(recs)}, not gated)")
    for k, v in e2e.items():
        print(f"# e2e {k} = {v:.6g} {E2E_UNITS[k]} (n={samples[k]})")
    metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    if traced:
        wall = sum(p["wall_s"] for p in timed)
        overhead = 100.0 * tracer.cost_s / wall
        print(
            f"# tracing overhead: {overhead:.4f}% of the timed wall is span "
            f"recording; traced throughput_qps {throughput_qps:.4f} is "
            "to be compared with an untraced run of the same seed"
        )
        layers = layer_metrics(timed, tracer, cpus, m["get_spark_s"], overhead)
        layers["jvm.peak_rss_mb"] = (m["jvm_rss_mb"], "MB")
        layers["trace.throughput_qps"] = (throughput_qps, "1/s")
        layers["trace.cpu_s_per_query"] = (cpu_s_per_query, "s")
        for k, (v, unit) in layers.items():
            n = 1 if k in ("session.get_spark_s", "jvm.peak_rss_mb") else len(timed)
            print(f"# layer {k} = {v:.6g} {unit} (n={n} passes)")
        metrics = {k: {"value": v, "unit": unit} for k, (v, unit) in layers.items()}
    for r in recs:
        print(
            f"# query {r['label']}: latency_s={r['latency_s']:.3f} "
            f"build_s={r['build_s']:.3f} cpu_s={r['cpu_s']:.2f} jobs={r['jobs']} "
            f"build_jobs={r['build_jobs']} tasks={r['tasks']} "
            f"shuffle_write_mb={r['shuffle_write_mb']:.4f} "
            f"peak_exec_mem_mb={r['peak_exec_mem_mb']:.1f}"
        )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
