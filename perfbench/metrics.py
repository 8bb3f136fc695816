"""The metric sets: the end-to-end metrics every ``--trace 0`` run prints,
and the per-layer metrics every ``--trace 1`` run prints, name -> (unit,
better). BENCHMARK.json lists the same names. A workload that does not
reach a layer reports 0 for it."""

from __future__ import annotations

from perfbench.trace import SPARK_FIELDS

_SPARK_UNITS = {
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s", "python_eval_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
    "python_bytes": "bytes",
}

END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "open_cpu_s": ("s", "lower"),
    "query_cpu_p50_ms": ("ms", "lower"),
    "query_cpu_p99_ms": ("ms", "lower"),
    "cpu_ms_per_query": ("ms", "lower"),
    "rss_mb": ("MB", "lower"),
    "index_bytes_per_input_byte": ("ratio", "lower"),
}

PER_LAYER: dict[str, tuple[str, str]] = {
    "index.docs_stage_s": ("s", "lower"),
    "index.segments_stage_s": ("s", "lower"),
    "index.promote_s": ("s", "lower"),
    "index.build_turns_per_s": ("turns/s", "higher"),
    **{
        f"spark.{phase}.{f}": (_SPARK_UNITS.get(f, "count"), "lower")
        for phase in ("build", "ingest", "compact")
        for f in SPARK_FIELDS
    },
    "codec.terms": ("count", "lower"),
    "codec.postings": ("count", "lower"),
    "codec.head_terms": ("count", "lower"),
    "codec.blob_bytes": ("bytes", "lower"),
    "codec.bytes_per_posting": ("bytes", "lower"),
    "engine.lookup_ms": ("ms", "lower"),
    "engine.lookup_terms": ("count", "lower"),
    "engine.decode_ms": ("ms", "lower"),
    "engine.decode_calls": ("count", "lower"),
    "engine.postings_decoded": ("count", "lower"),
    "engine.decodes_per_term": ("ratio", "lower"),
    "engine.topk_self_ms": ("ms", "lower"),
    "serving.matched_ms": ("ms", "lower"),
    "serving.facets_ms": ("ms", "lower"),
    "serving.search_self_ms": ("ms", "lower"),
    "shardpool.call_ms": ("ms", "lower"),
    "shardpool.calls_per_query": ("count", "lower"),
    "shardpool.reply_bytes": ("bytes", "lower"),
    "sharded.merge_self_ms": ("ms", "lower"),
    "streaming.write_batch_s": ("s", "lower"),
    "streaming.write_deletes_s": ("s", "lower"),
    "streaming.reopen_ms": ("ms", "lower"),
    "streaming.deltas_per_shard": ("count", "lower"),
    "streaming.compact_s": ("s", "lower"),
    "streaming.ingest_turns_per_s": ("turns/s", "higher"),
    "streaming.visible_s": ("s", "lower"),
    "trace.requests": ("count", "higher"),
    "trace.request_ms": ("ms", "lower"),
    "trace.untraced_request_ms": ("ms", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    "trace.layer_share_pct": ("%", "higher"),
}


def end_to_end(values: dict[str, tuple[float, str]]) -> dict[str, dict]:
    if set(values) != set(END_TO_END):
        raise KeyError(f"end-to-end metrics differ from END_TO_END: {sorted(values)}")
    return {name: {"value": float(values[name][0]), "unit": unit} for name, (unit, _) in END_TO_END.items()}


def per_layer(values: dict[str, float]) -> dict[str, dict]:
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, (unit, _) in PER_LAYER.items()
    }
