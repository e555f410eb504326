"""In-memory spans for the traced benchmark run.

A span has a name, a layer, a start and end (epoch seconds), the span
that caused it and the id of the query execution it belongs to. Spans
are kept in a list and written out once, when the run ends. Spark job
intervals, read from the status store after each build and action,
become child spans of the innermost span that was open when the job
was submitted.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import time
from contextlib import contextmanager

#: (module under datafusion_archive_spark.operators, function) pairs
#: wrapped in the traced run: the iterative loops and the pipeline
#: kernels that the benchmark's per-layer table names.
OPERATORS = (
    ("dedup", "connected_components"),
    ("graph", "pagerank"),
    ("bpe", "bpe_merges"),
    ("util", "loop_session"),
    ("dedup", "minhash_lsh_pairs"),
    ("dedup", "simhash_near_pairs"),
    ("similarity", "lsh_cosine_topk"),
)


class Tracer:
    """Span recorder. While ``enabled`` is false, ``start`` returns
    None and nothing is recorded. ``cost_s`` sums the time spent
    recording spans, which is the tracing overhead inside the timed
    interval (job spans are added outside it)."""

    def __init__(self) -> None:
        self.enabled = False
        self.cost_s = 0.0
        self.trace_id: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def start(self, name: str, layer: str) -> dict | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        span = {
            "id": next(self._ids),
            "trace": self.trace_id,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.cost_s += time.perf_counter() - t
        return span

    def end(self, span: dict | None) -> None:
        if span is not None:
            t = time.perf_counter()
            span["end"] = time.time()
            self._stack.remove(span)
            self.cost_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, layer: str):
        s = self.start(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    def add_jobs(self, root: dict | None, jobs: list[dict]) -> None:
        """Record each job as a child of the innermost span under
        ``root`` (a build or action span) open at its submission."""
        if root is None:
            return
        tree = [s for s in self.spans if s["trace"] == root["trace"]]
        inside = {root["id"]}
        for s in tree:  # spans are in start order, parents first
            if s["parent"] in inside:
                inside.add(s["id"])
        for job in jobs:
            parent = root
            for s in tree:
                if (
                    s["id"] in inside
                    and s["start"] <= job["submit"] <= s["end"]
                    and s["start"] >= parent["start"]
                ):
                    parent = s
            self.spans.append(
                {
                    "id": next(self._ids),
                    "trace": root["trace"],
                    "name": f"job {job['job_id']}",
                    "layer": "spark",
                    "parent": parent["id"],
                    "start": job["submit"],
                    "end": job["end"] if job["end"] is not None else job["submit"],
                }
            )

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            out[s["id"]] = (s["end"] - s["start"]) - covered(
                children.get(s["id"], []), s["start"], s["end"]
            )
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _wrap_function(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, "operators"):
            return fn(*args, **kwargs)

    return traced


def _wrap_context_manager(tracer: Tracer, name: str, cls):
    class Traced(cls):
        def __enter__(self):
            self._bench_span = tracer.start(name, "operators")
            return super().__enter__()

        def __exit__(self, *exc):
            try:
                return super().__exit__(*exc)
            finally:
                tracer.end(self._bench_span)

    Traced.__name__ = Traced.__qualname__ = cls.__name__
    return Traced


def install(tracer: Tracer) -> None:
    """Replace every operator in OPERATORS with a span-recording
    wrapper: in its defining module and in every already-imported
    module of the package that bound it with ``from … import``. Call
    before importing the query registry, so that later imports bind
    the wrappers too."""
    for mod_name, attr in OPERATORS:
        mod = importlib.import_module(f"datafusion_archive_spark.operators.{mod_name}")
        original = getattr(mod, attr)
        name = f"{mod_name}.{attr}"
        if isinstance(original, type):
            wrapped = _wrap_context_manager(tracer, name, original)
        else:
            wrapped = _wrap_function(tracer, name, original)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("datafusion_archive_spark"):
                for k, v in list(vars(m).items()):
                    if v is original:
                        setattr(m, k, wrapped)
