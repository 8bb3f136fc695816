"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a human-readable summary line, then,
as the last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See perfbench/README.md.

Shard worker processes may re-import this file as ``__mp_main__``, so
nothing below runs outside the ``__main__`` guard.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("serve_hot", "serve_wide", "live_sharded")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HASH_SEED = "0"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "discogsography_spark", "__init__.py")):
        print("perfbench: the discogsography_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import common, metrics as metric_sets

    common.adopt_orphans()
    run_dir = common.new_run_dir()
    common.pin_env(run_dir)
    t0 = time.perf_counter()
    try:
        if args.workload == "live_sharded":
            from perfbench import live

            res = live.run(args.seed, args.seconds, bool(args.trace), run_dir)
        else:
            from perfbench import serve

            res = serve.run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    except (common.BenchError, subprocess.CalledProcessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        common.end_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        metrics = metric_sets.per_layer(res["layers"])
    else:
        metrics = metric_sets.end_to_end(res["metrics"])
    shown = {**res.get("metrics", {}), **res.get("summary", {})}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "error_rate": failed / attempted, "wall_s": time.perf_counter() - t0,
        **{k: f"{v:.6g} {u}" for k, (v, u) in shown.items()},
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        # string hashing decides the iteration order of sets and dicts, and
        # with it the order of the engine's work; every process of every run
        # gets the same one (children inherit it)
        os.environ["PYTHONHASHSEED"] = HASH_SEED
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    sys.exit(main())
