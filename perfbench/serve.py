"""``serve_hot`` and ``serve_wide``: one closed-loop client calling
``SearchService.search(q, k, facets=["role", "tool"])`` in this process,
which never starts a JVM, over the serving fixture's index.

serve_hot repeats a reference query mix in a fixed order after one warm
pass, so every term sits in the serving caches. serve_wide sends a batch of
distinct 1-3-term mid/long-tail queries, each once, to a freshly opened
service, so nearly every term fetch misses those caches (the OS page cache
stays warm); it repeats the batch on another fresh service until the time is
up, so that the work per request does not drift as caches fill.
"""

from __future__ import annotations

import gc
import statistics
import time

import numpy as np
import pyarrow.dataset as ds

from perfbench import expect, fixture, inputs, trace
from perfbench.common import Meter, core_scale, dir_bytes, hwm_mb, latency_metrics, scaled_open

FACETS = ["role", "tool"]
FACET_DEFS = {"role": "role", "tool": "tool"}
OPENS = 5  # set-ups per run, after one discarded first open; median reported
TRACE_PASSES = 3  # passes over the mix per traced/untraced side (serve_hot)


def _open(index_dir: str):
    """A fresh service, and the on-CPU seconds its opening took, scaled to
    the reference core."""
    from discogsography_spark.query.serving import SearchService

    return scaled_open(
        lambda: SearchService(index_dir, facet_defs=FACET_DEFS), time.process_time_ns
    )


def _loop(svc, queries, deadline: float | None, meter: Meter):
    """Send queries in order, cycling until ``deadline`` when it is set,
    else once through. Returns [(query index, response, wall ms, cpu ms)]."""
    out = []
    i = 0
    while True:
        qi = i % len(queries)
        text, k = queries[qi]
        out.append((qi, *meter.call(svc.search, text, k, facets=FACETS)))
        i += 1
        if (time.perf_counter() >= deadline) if deadline is not None else i == len(queries):
            return out


def _verify(fx, queries, records) -> int:
    """Number of records whose response is missing or differs from the
    oracle's answer."""
    want = expect.answers(fx.oracle_npz, [queries[qi] for qi, *_ in records])
    dm = ds.dataset(fx.index_dir + "/docs", format="parquet").to_table(
        columns=["doc_id", "conv_id", "turn_idx"]
    ).to_pandas().dropna()
    keys: list = [None] * (int(dm["doc_id"].max()) + 1)
    for d, c, t in zip(dm["doc_id"].astype(int), dm["conv_id"], dm["turn_idx"].astype(int)):
        keys[d] = (c, t)
    return sum(
        1 for qi, resp, *_ in records
        if resp is None or not expect.check_exact(resp, keys, want[queries[qi]])
    )


def run(workload: str, seed: int, seconds: float, traced: bool, run_dir: str) -> dict:
    fx = fixture.ensure(run_dir)
    arrays = np.load(fx.oracle_npz)
    if workload == "serve_hot":
        queries = inputs.hot_queries(arrays["terms"], arrays["counts"], seed)
    else:
        queries = inputs.wide_queries(arrays["terms"], arrays["dfs"], seed)
    del arrays

    yardstick: list[float] = []
    meter = Meter(yardstick=None if traced else yardstick)
    _open(fx.index_dir)  # first use in the process: imports, allocator
    opens, setups = [], []
    for _ in range(OPENS):
        # the previous service and all garbage go first, so that the peak
        # RSS does not depend on when the collector last ran
        svc = None
        gc.collect()
        t0 = time.perf_counter()
        svc, open_cpu_s = _open(fx.index_dir)
        opens.append(open_cpu_s)
        if workload == "serve_hot":  # the warm pass is part of set-up
            _loop(svc, queries, None, meter)
        setups.append(time.perf_counter() - t0)

    if not traced:
        deadline = time.perf_counter() + seconds
        if workload == "serve_hot":
            records = _loop(svc, queries, deadline, meter)
        else:
            records = _loop(svc, queries, None, meter)
            while time.perf_counter() < deadline:
                svc = None
                gc.collect()
                svc, open_cpu_s = _open(fx.index_dir)
                opens.append(open_cpu_s)
                records += _loop(svc, queries, None, meter)
        rss = hwm_mb()
        scale = core_scale(yardstick)
        cpu, wall = latency_metrics(records, scale)
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "open_cpu_s": (statistics.median(opens), "s"),
            **cpu,
            "rss_mb": (rss, "MB"),
            "index_bytes_per_input_byte": (dir_bytes(fx.index_dir) / fx.meta["text_bytes"], "ratio"),
        }
        failed = _verify(fx, queries, records)
        return {"attempted": len(records), "failed": failed, "metrics": metrics, "summary": wall}

    # two services, one untraced and one traced, fed the same requests
    if workload == "serve_hot":
        items = queries * TRACE_PASSES
        pair = [svc, _open(fx.index_dir)[0]]
        _loop(pair[1], queries, None, meter)
    else:
        items = queries
        pair = [_open(fx.index_dir)[0], _open(fx.index_dir)[0]]
    tracer = trace.Tracer()

    def request(search):
        return lambda i: (i, *meter.call(search, *items[i], facets=FACETS))

    # look the method up per call, so that the traced side meets the wrappers
    plain, traced_recs = trace.interleave(
        tracer, trace.ENGINE + trace.SERVING, len(items),
        request(lambda *a, **kw: pair[0].search(*a, **kw)),
        request(tracer.request_span(lambda *a, **kw: pair[1].search(*a, **kw))),
    )
    failed = _verify(fx, items, plain + traced_recs)
    tracer.dump(workload)
    untraced_ms = float(np.mean([r[-2] for r in plain]))
    layers = trace.layer_metrics(tracer, len(traced_recs), untraced_ms)
    layers.update(trace.codec_metrics([fx.index_dir]))
    return {"attempted": len(plain) + len(traced_recs), "failed": failed, "layers": layers}
