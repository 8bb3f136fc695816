"""``live_sharded``: serving a live view of two conv-range shards, with
global alive statistics, through ``ShardedSearchService(live=True)`` and its
shard worker pool, in a process that holds no JVM.

The views come from the fixture: the base shards, then each write of the
workload's script (an upsert batch editing ~1% of the conversations across
both shards and adding a few, then a delete batch of ~1%), then both shards
compacted. Each view is opened, warmed with one pass of the seed's reference
mix (as in serve_hot), and queried with it for an equal share of
``--seconds``, and every response is checked against
the oracle over that view's alive rows.

The traced run performs the writes itself: a Spark process builds the base
shards from the fixture's rows, commits the seed's write script through
``ShardedDeltaRouter`` and compacts, while this process reopens the service
after every commit and queries it. That run times the build, write, reopen
and compaction layers and reads Spark's event log.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import expect, fixture, inputs, trace
from perfbench.common import (
    WORK, Meter, SparkProc, core_scale, dir_bytes, hwm_mb, latency_metrics, scaled_open,
    text_bytes, workers_cpu_ns,
)
from perfbench.serve import FACET_DEFS, FACETS

TRACE_PASSES = 2  # reference-set passes per traced/untraced side
OPENS_PER_VIEW = 3  # opens timed per view; the last one is warmed and queried
PHASES = {"build": "build", "compact": "compact"}  # Spark op -> phase; others "ingest"


def _open(shard_dirs):
    """A fresh service with its shard workers, and the on-CPU seconds its
    opening took in this process and in the new workers, scaled to the
    reference core."""
    from discogsography_spark.query.serving import ShardedSearchService

    before = set(_workers())

    def cpu_ns() -> int:
        new = [p for p in _workers() if p not in before]
        return time.process_time_ns() + _settled_cpu_ns(new)

    return scaled_open(
        lambda: ShardedSearchService(shard_dirs, facet_defs=FACET_DEFS, live=True), cpu_ns
    )


def _settled_cpu_ns(pids, quiet_polls: int = 5, timeout_s: float = 30.0) -> int:
    """On-CPU time of the shard workers once they have finished opening
    their shards, which they do on their own after the service returns:
    polled every 10 ms until it stops growing for ``quiet_polls`` polls."""
    if not pids:
        return 0
    last, quiet = workers_cpu_ns(pids), 0
    deadline = time.perf_counter() + timeout_s
    while quiet < quiet_polls and time.perf_counter() < deadline:
        time.sleep(0.01)
        now = workers_cpu_ns(pids)
        quiet = quiet + 1 if now == last else 0
        last = now
    return last


def _workers() -> list[int]:
    return [p.pid for p in multiprocessing.active_children()]


def _keymap(offsets, shard_dirs) -> dict:
    """Global docID -> (conv_id, turn_idx) of a live view whose shards
    start at global ``offsets``."""
    from discogsography_spark.streaming.incremental import list_deltas

    km = {}
    for off, sd in zip(offsets, shard_dirs):
        parts = [os.path.join(sd, "docs")] + [
            os.path.join(d, "docs") for d in list_deltas(sd)
            if os.path.isdir(os.path.join(d, "docs"))
        ]
        for p in parts:
            dm = pd.read_parquet(p, columns=["doc_id", "conv_id", "turn_idx"]).dropna()
            for d, c, t in zip(dm["doc_id"].astype(int), dm["conv_id"], dm["turn_idx"].astype(int)):
                km[int(off) + d] = (c, t)
    return km


def _verify(offsets, shard_dirs, alive, queries, records) -> int:
    """Responses that are missing or differ from the oracle over ``alive``."""
    exp = expect.Expected.from_rows(alive)
    keys = _keymap(offsets, shard_dirs)
    failed = 0
    for qi, resp, *_ in records:
        text, k = queries[qi]
        if resp is None or not expect.check_tied(resp, keys, k, exp.answer(text, k, full=True)):
            failed += 1
    return failed


def _window(svc, queries, seconds: float, yardstick: list) -> list:
    """Cycle the queries for ``seconds`` (at least one full pass)."""
    meter = Meter(_workers(), yardstick)
    out = []
    deadline = time.perf_counter() + seconds
    i = 0
    while i < len(queries) or time.perf_counter() < deadline:
        qi = i % len(queries)
        out.append((qi, *meter.call(svc.search, *queries[qi], facets=FACETS)))
        i += 1
    return out


def _queries(fx, seed: int) -> list[tuple[str, int]]:
    """The seed's reference mix over the live base's vocabulary."""
    a = np.load(fx.live_npz)
    return inputs.hot_queries(a["terms"], a["counts"], seed)


def run_views(fx, seed: int, seconds: float, run_dir: str) -> dict:
    # The coordinator and the shard workers it forks share one core: each
    # request hands off between them several times, and a hand-off to
    # another, idle core costs a wake-up whose price moved by tens of
    # percent from minute to minute on a shared host. The gated metrics are
    # on-CPU times, which the fan-out's parallelism does not change.
    os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
    queries = _queries(fx, seed)
    views = fx.meta["live_views"]
    opens, setups, records, rss, checks, yardstick = [], [], [], 0.0, [], []
    for v in range(views):
        src, alive_path = fx.live_view(v)
        dirs = [os.path.join(run_dir, f"view{v}", os.path.basename(d)) for d in src]
        for s, d in zip(src, dirs):
            shutil.copytree(s, d)
        for _ in range(OPENS_PER_VIEW - 1):  # opens timed and closed at once
            extra, open_s = _open(dirs)
            extra.close()
            opens.append(open_s)
        t0 = time.perf_counter()
        svc, open_s = _open(dirs)
        opens.append(open_s)
        try:
            _window(svc, queries, 0.0, yardstick)  # warm pass, part of set-up
            setups.append(time.perf_counter() - t0)
            recs = _window(svc, queries, seconds / views, yardstick)
            rss = max(rss, hwm_mb() + sum(hwm_mb(p) for p in _workers()))
            checks.append((list(svc.sharded.offsets), dirs, alive_path, recs))
            records += recs
        finally:
            svc.close()
    failed = sum(
        _verify(offsets, dirs, pd.read_parquet(alive_path), queries, recs)
        for offsets, dirs, alive_path, recs in checks
    )
    # index size of the last view: both shards compacted
    alive_text = text_bytes(pd.read_parquet(alive_path, columns=["text"])["text"])
    scale = core_scale(yardstick)
    cpu, wall = latency_metrics(records, scale)
    return {
        "attempted": len(records),
        "failed": failed,
        "summary": wall,
        "metrics": {
            "setup_s": (statistics.median(setups), "s"),
            "open_cpu_s": (statistics.median(opens), "s"),
            **cpu,
            "rss_mb": (rss, "MB"),
            "index_bytes_per_input_byte": (sum(dir_bytes(d) for d in dirs) / alive_text, "ratio"),
        },
    }


class _Writes:
    """The traced run: real builds, writes and compactions, with the
    service reopened and queried (untraced and traced, interleaved) after
    each."""

    def __init__(self, fx, seed: int, run_dir: str):
        self.fx, self.seed, self.run_dir = fx, seed, run_dir
        self.tracer = trace.Tracer()
        self.phases: dict[str, list] = {"build": [], "ingest": [], "compact": []}
        self.ops: dict[str, list] = {"upsert": [], "delete": [], "reopen_ms": [], "visible": []}
        self.builds, self.compacts, self.deltas = [], [], 0
        self.plain, self.traced, self.failed = [], [], 0
        self.spark = self.svc = None

    def spark_op(self, op: str, **kw) -> dict:
        reply = self.spark.call(op, **kw)
        self.phases[PHASES.get(op, "ingest")].append((reply["t0_ms"], reply["t1_ms"]))
        return reply

    def reopen(self) -> None:
        t0 = time.perf_counter()
        self.svc.reopen()
        self.ops["reopen_ms"].append((time.perf_counter() - t0) * 1000.0)

    def window(self, alive) -> None:
        meter = Meter(_workers())
        items = list(range(len(self.queries))) * TRACE_PASSES

        def request(search):
            return lambda i: (items[i], *meter.call(search, *self.queries[items[i]], facets=FACETS))

        def search(*args, **kwargs):  # looked up per call, to meet the wrappers
            return self.svc.search(*args, **kwargs)

        plain, traced = trace.interleave(
            self.tracer, trace.ENGINE + trace.SHARDED, len(items),
            request(search), request(self.tracer.request_span(search)),
        )
        self.plain += plain
        self.traced += traced
        self.failed += _verify(
            self.svc.sharded.offsets, self.shards, alive, self.queries, plain + traced
        )

    def after(self, op: str, alive, info: dict) -> None:
        """Open (after the builds) or reopen the service, then query it."""
        from discogsography_spark.streaming.incremental import list_deltas

        if op == "base":
            self.builds = info["replies"]
            self.svc = _open(self.shards)[0]
        else:
            self.reopen()
        if op in ("upsert", "delete"):
            self.ops["visible"].append(time.perf_counter() - info["t0"])
            self.ops[op].append((info["replies"][0]["s"], info["rows"]))
            self.deltas = max(self.deltas, *(len(list_deltas(sd)) for sd in self.shards))
        elif op == "compact":
            self.compacts = [r["s"] for r in info["replies"]]
        self.window(alive)

    def execute(self) -> dict:
        fx, run_dir = self.fx, self.run_dir
        self.queries = _queries(fx, self.seed)
        self.spark = SparkProc(run_dir, os.path.join(run_dir, "eventlog"))
        self.shards = [os.path.join(run_dir, f"shard{i}") for i in range(2)]
        fixture.write_script(
            self.spark_op, pd.read_parquet(fx.live_rows), self.shards, run_dir, self.seed, self.after
        )
        self.svc.close()
        self.spark.stop()
        event_log = os.path.join(run_dir, "eventlog")
        keep = os.path.join(WORK, "traces", "live_sharded-eventlog")
        shutil.rmtree(keep, ignore_errors=True)
        shutil.copytree(event_log, keep)
        self.tracer.dump("live_sharded")

        upserts = self.ops["upsert"]
        out = trace.layer_metrics(
            self.tracer, len(self.traced), float(np.mean([r[-2] for r in self.plain]))
        )
        timings = [r["timings"] for r in self.builds]
        out.update({
            "index.docs_stage_s": sum(t.get("docs_sec", 0.0) for t in timings),
            "index.segments_stage_s": sum(t.get("segments_sec", 0.0) for t in timings),
            "index.promote_s": sum(t.get("promote_sec", 0.0) for t in timings),
            # the first build also pays the Spark session's Python worker start
            "index.build_turns_per_s": self.builds[1]["n_docs"] / self.builds[1]["s"],
            "streaming.write_batch_s": statistics.median(s for s, _ in upserts),
            "streaming.write_deletes_s": self.ops["delete"][0][0],
            "streaming.reopen_ms": statistics.median(self.ops["reopen_ms"]),
            "streaming.deltas_per_shard": float(self.deltas),
            "streaming.compact_s": sum(self.compacts),
            "streaming.ingest_turns_per_s": sum(n for _, n in upserts) / sum(s for s, _ in upserts),
            "streaming.visible_s": statistics.median(self.ops["visible"]),
        })
        out.update(trace.codec_metrics(self.shards))
        out.update(trace.spark_counters(event_log, self.phases))
        summary = {
            "build_turns_per_s": (out["index.build_turns_per_s"], "turns/s"),
            "ingest_turns_per_s": (out["streaming.ingest_turns_per_s"], "turns/s"),
            "visible_s": (out["streaming.visible_s"], "s"),
            "compact_s": (out["streaming.compact_s"], "s"),
        }
        return {
            "attempted": len(self.plain) + len(self.traced),
            "failed": self.failed,
            "layers": out,
            "summary": summary,
        }

    def close(self) -> None:
        if self.svc is not None:
            self.svc.close()
        if self.spark is not None:
            self.spark.stop()


def run(seed: int, seconds: float, traced: bool, run_dir: str) -> dict:
    fx = fixture.ensure(run_dir)
    if not traced:
        return run_views(fx, seed, seconds, run_dir)
    w = _Writes(fx, seed, run_dir)
    try:
        return w.execute()
    finally:
        w.close()
