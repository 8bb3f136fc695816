"""Tracing from outside the program, for ``--trace 1`` runs only.

``Tracer`` wraps public functions of the package's layers, records one span
per call (name, start, end, parent span, request id) in memory, and counts
work at the same boundaries. A layer's self time is its spans' duration
minus the time covered by its child spans. ``spark_counters`` reads Spark's
own event log and attributes jobs, stages and tasks to benchmark phases by
their submission time.
"""

from __future__ import annotations

import functools
import json
import os
import pickle
import time
from collections import defaultdict

# (owner module, class, attribute) -> span name. Decode and lookup sit
# under the evaluators; the services sit above them.
ENGINE = [
    ("discogsography_spark.query.engine", "LocalSearcher", "lookup_terms", "engine.lookup"),
    ("discogsography_spark.query.engine", "TermPostings", "decode_all", "engine.decode"),
    ("discogsography_spark.query.engine", "TermPostings", "decode_blocks", "engine.decode"),
    ("discogsography_spark.query.engine", "LocalSearcher", "topk", "engine.topk"),
]
SERVING = [
    ("discogsography_spark.query.serving", "SearchService", "search", "serving.search"),
    ("discogsography_spark.query.serving", "SearchService", "matched_docs", "serving.matched"),
    ("discogsography_spark.query.serving", "SearchService", "facet_counts", "serving.facets"),
]
SHARDED = [
    ("discogsography_spark.query.serving", "ShardedSearchService", "search", "sharded.search"),
    ("discogsography_spark.query.sharded", "ShardedSearcher", "topk", "sharded.topk"),
    ("discogsography_spark.query.shardpool", "ShardWorkerPool", "call", "shardpool.call"),
    ("discogsography_spark.query.serving", "MergedSearchService", "matched_docs", "serving.matched"),
    ("discogsography_spark.query.serving", "MergedSearchService", "facet_counts", "serving.facets"),
    ("discogsography_spark.streaming.incremental", "MergedSearcher", "topk", "engine.topk"),
]


def _count(name, args, out, counts) -> None:
    if name == "engine.lookup":
        counts["engine.lookup_calls"] += 1
        counts["engine.lookup_terms"] += len(args[1])
    elif name == "engine.decode":
        counts["engine.decode_calls"] += 1
        counts["engine.postings_decoded"] += len(out[0])
    elif name == "shardpool.call":
        counts["shardpool.calls"] += 1
        counts["shardpool.reply_bytes"] += len(pickle.dumps(out))


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, request]
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self.request = -1

    def install(self, targets) -> None:
        import importlib

        for module, cls, attr, name in targets:
            owner = getattr(importlib.import_module(module), cls)
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            counting = tracer.request >= 0
            out = tracer.span(name, fn, *args, **kwargs)
            if counting:
                _count(name, args, out, tracer.counts)
            return out

        return traced

    def span(self, name, fn, *args, **kwargs):
        i = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent, self.request])
        self._stack.append(i)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans[i][2] = time.perf_counter()

    def request_span(self, fn):
        """``fn`` wrapped in a ``bench.request`` span: the root of one
        request's spans."""
        return functools.partial(self.span, "bench.request", fn)

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name over the requests' spans, in ms."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _, req) in enumerate(self.spans):
            if req >= 0:
                out[name] += (end - start - child[i]) * 1000.0
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(e - s) * 1000.0 for n, s, e, _, _ in self.spans if n == name]

    def dump(self, workload: str) -> str:
        """Write the spans and counts to ``.perfbench/traces/<workload>.json``."""
        from perfbench.common import WORK

        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{workload}.json")
        fields = ("name", "start", "end", "parent", "request")
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(fields, s)) for s in self.spans], "counts": self.counts}, f)
        return path


def interleave(tracer: Tracer, targets, n: int, plain, traced):
    """Run requests ``0..n-1`` once untraced (``plain(i)``) and once traced
    (``traced(i)``, with the wrappers installed and the request id set),
    alternating which goes first, so that drift and cache warming fall on
    both sides alike. Returns both result lists."""
    plain_out, traced_out = [], []
    for i in range(n):
        for on in ((True, False) if i % 2 else (False, True)):
            if not on:
                plain_out.append(plain(i))
                continue
            tracer.install(targets)
            tracer.request = i
            try:
                traced_out.append(traced(i))
            finally:
                tracer.request = -1
                tracer.uninstall()
    return plain_out, traced_out


def layer_metrics(tr: Tracer, n_requests: int, untraced_ms: float) -> dict[str, float]:
    """Per-request layer metrics from the spans under ``bench.request``."""
    own = tr.self_ms()
    c = tr.counts
    n = max(1, n_requests)
    traced_ms = sum(tr.durations_ms("bench.request")) / n
    inside = sum(v for k, v in own.items() if k != "bench.request")
    total = inside + own.get("bench.request", 0.0)
    return {
        "engine.lookup_ms": own.get("engine.lookup", 0.0) / n,
        "engine.lookup_terms": c["engine.lookup_terms"] / n,
        "engine.decode_ms": own.get("engine.decode", 0.0) / n,
        "engine.decode_calls": c["engine.decode_calls"] / n,
        "engine.postings_decoded": c["engine.postings_decoded"] / n,
        "engine.decodes_per_term": (
            c["engine.decode_calls"] / c["engine.lookup_terms"] if c["engine.lookup_terms"] else 0.0
        ),
        "engine.topk_self_ms": own.get("engine.topk", 0.0) / n,
        "serving.matched_ms": own.get("serving.matched", 0.0) / n,
        "serving.facets_ms": own.get("serving.facets", 0.0) / n,
        "serving.search_self_ms": own.get("serving.search", 0.0) / n,
        "shardpool.call_ms": own.get("shardpool.call", 0.0) / n,
        "shardpool.calls_per_query": c["shardpool.calls"] / n,
        "shardpool.reply_bytes": c["shardpool.reply_bytes"] / n,
        "sharded.merge_self_ms": (own.get("sharded.search", 0.0) + own.get("sharded.topk", 0.0)) / n,
        "trace.requests": float(n_requests),
        "trace.request_ms": traced_ms,
        "trace.untraced_request_ms": untraced_ms,
        "trace.overhead_pct": (traced_ms / untraced_ms - 1.0) * 100.0 if untraced_ms else 0.0,
        "trace.layer_share_pct": 100.0 * inside / total if total else 0.0,
    }


def codec_metrics(index_dirs: list[str]) -> dict[str, float]:
    """Segment records of the index manifests, summed over ``index_dirs``."""
    from discogsography_spark.index.manifest import Manifest

    terms = postings = heads = blob = 0
    for d in index_dirs:
        m = Manifest(d)
        for seg in sorted(m.committed_segments()):
            r = m.segment(seg)
            terms += r["terms"]
            postings += r["postings"]
            heads += r["head_terms"]
            blob += r["doc_blob_bytes"] + r["tf_blob_bytes"] + r["dl_blob_bytes"]
    return {
        "codec.terms": float(terms),
        "codec.postings": float(postings),
        "codec.head_terms": float(heads),
        "codec.blob_bytes": float(blob),
        "codec.bytes_per_posting": blob / postings if postings else 0.0,
    }


SPARK_FIELDS = (
    "jobs", "stages", "exchanges", "tasks", "task_retries", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "python_eval_s", "python_bytes",
)
# SQL metrics of Spark's Python/Arrow operators (PythonSQLMetrics)
_PYTHON_RUN = "time to run Python workers"
_PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _plan_nodes(info):
    yield info
    for ch in info.get("children", []):
        yield from _plan_nodes(ch)


def spark_counters(event_log_dir: str, phases: dict[str, list[tuple[float, float]]]) -> dict[str, float]:
    """``spark.<phase>.<field>`` for each phase, from the event log.
    ``phases`` maps a phase name to its (start, end) epoch-ms intervals."""

    def phase_of(ms: float) -> str | None:
        for name, spans in phases.items():
            if any(a <= ms <= b for a, b in spans):
                return name
        return None

    out = {f"spark.{p}.{f}": 0.0 for p in phases for f in SPARK_FIELDS}
    files = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    stage_phase: dict[int, str] = {}
    plans: dict[int, tuple[str, dict]] = {}  # execution -> (phase, latest plan)
    metric_kind: dict[int, tuple[str, str]] = {}  # accumulator -> (name, type)
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    p = phase_of(e["Submission Time"])
                    if p:
                        out[f"spark.{p}.jobs"] += 1
                        out[f"spark.{p}.stages"] += len(e["Stage IDs"])
                        for s in e["Stage IDs"]:
                            stage_phase[s] = p
                elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    eid = e["executionId"]
                    p = phase_of(e["time"]) if "time" in e else plans.get(eid, (None,))[0]
                    if p:
                        plans[eid] = (p, e["sparkPlanInfo"])
                    for node in _plan_nodes(e["sparkPlanInfo"]):
                        for m in node.get("metrics", []):
                            metric_kind[m["accumulatorId"]] = (m["name"], m["metricType"])
                elif ev == "SparkListenerTaskEnd":
                    p = stage_phase.get(e["Stage ID"])
                    if not p:
                        continue
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    out[f"spark.{p}.tasks"] += 1
                    if info.get("Attempt", 0) > 0 or e.get("Stage Attempt ID", 0) > 0:
                        out[f"spark.{p}.task_retries"] += 1
                    out[f"spark.{p}.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    out[f"spark.{p}.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out[f"spark.{p}.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    out[f"spark.{p}.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    out[f"spark.{p}.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    out[f"spark.{p}.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        name, kind = metric_kind.get(acc.get("ID"), ("", ""))
                        if name == _PYTHON_RUN:
                            scale = 1e9 if kind == "nsTiming" else 1e3
                            out[f"spark.{p}.python_eval_s"] += float(acc.get("Update", 0)) / scale
                        elif name in _PYTHON_BYTES:
                            out[f"spark.{p}.python_bytes"] += float(acc.get("Update", 0))
    for p, plan in plans.values():
        out[f"spark.{p}.exchanges"] += sum(
            1 for n in _plan_nodes(plan) if "Exchange" in n.get("nodeName", "")
        )
    return out
