"""The benchmark's Spark process: holds the one SparkSession of a run and
executes index builds, live writes and compactions on request.

Protocol: one JSON object per line on stdin, one JSON reply per line on the
original stdout (fd 1 is pointed at stderr before Spark starts, so JVM and
progress output cannot interleave with replies). Every reply carries the
op's wall-clock interval in epoch milliseconds, so Spark's event log can be
attributed to benchmark phases afterwards.

    python3 -m perfbench.sparkside [event_log_dir]

The environment comes from the benchmark (``common.pin_env``).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback


def _session(event_log: str):
    from discogsography_spark.session import get_spark

    conf = {}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


class Ops:
    def __init__(self, spark):
        self.spark = spark
        self.router = None

    def build(self, src: str, dst: str) -> dict:
        from discogsography_spark.index.builder import IndexBuilder

        res = IndexBuilder(dst).build(self.spark.read.parquet(src))
        return {"n_docs": res.n_docs, "timings": res.timings or {}}

    def router_open(self, shards: list, bounds: list) -> dict:
        from discogsography_spark.streaming.incremental import ShardedDeltaRouter

        self.router = ShardedDeltaRouter(shards, [tuple(b) for b in bounds])
        return {}

    def upsert(self, src: str, batch: int) -> dict:
        self.router.write_batch(self.spark.read.parquet(src), batch, upsert=True)
        return {}

    def delete(self, src: str, batch: int) -> dict:
        return {"n": self.router.write_deletes(self.spark.read.parquet(src), batch)}

    def compact(self, dst: str) -> dict:
        from discogsography_spark.streaming.incremental import compact

        return {"folded": compact(self.spark, dst)}


def main(argv: list[str]) -> int:
    event_log = argv[0] if argv else ""
    replies = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    spark = _session(event_log)
    ops = Ops(spark)
    replies.write(json.dumps({"ok": True}) + "\n")
    for line in sys.stdin:
        req = json.loads(line)
        op = req.pop("op")
        if op == "stop":
            break
        start = time.time()
        try:
            out = getattr(ops, op)(**req)
            out.update(ok=True)
        except Exception:  # reported to the benchmark, which counts it
            out = {"ok": False, "error": traceback.format_exc()}
        end = time.time()
        out.update(s=end - start, t0_ms=start * 1000.0, t1_ms=end * 1000.0)
        replies.write(json.dumps(out) + "\n")
    spark.stop()
    replies.write(json.dumps({"ok": True, "stopped": True}) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
