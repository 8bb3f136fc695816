"""The benchmark's fixture, built by this checkout's code with library
defaults:

- the serving corpus (FIXTURES.md seed 42), its index, and the oracle's view
  of it as arrays (``oracle.npz``);
- the live base corpus, the vocabulary and counts of its oracle index
  (``live.npz``, for query generation), and the two-shard live views that
  ``write_script`` leaves after each of its steps.

It is built once per checkout, on first use, by a Spark process, and kept
under ``.perfbench/fixtures/<key>``; the key hashes the package sources and
the benchmark's input code, so a changed program gets a fresh fixture. The
build is a one-time cost like compiling and is not part of any run's
set-up time. Runs vary their query streams by ``--seed``; the corpora stay
fixed so that an untraced run never pays a Spark session.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

from perfbench import expect, inputs
from perfbench.common import ROOT, WORK, SparkProc, text_bytes

CONVERSATIONS = 60_000
LIVE_CONVERSATIONS = 2_000
SEED = 42


def _key() -> str:
    h = hashlib.sha256(f"{CONVERSATIONS}/{LIVE_CONVERSATIONS}/{SEED}".encode())
    files = sorted(glob.glob(os.path.join(ROOT, "discogsography_spark", "**", "*.py"), recursive=True))
    files += [os.path.join(ROOT, "perfbench", f) for f in ("inputs.py", "expect.py", "fixture.py", "sparkside.py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class Fixture:
    def __init__(self, path: str, meta: dict):
        self.path = path
        self.index_dir = os.path.join(path, "index")
        self.oracle_npz = os.path.join(path, "oracle.npz")
        self.live_rows = os.path.join(path, "live.parquet")
        self.live_npz = os.path.join(path, "live.npz")
        self.meta = meta

    def live_view(self, step: int) -> tuple[list[str], str]:
        """Shard dirs of the live view after ``step`` (0 = base, then each
        write, then compacted) and the parquet of its alive rows."""
        d = os.path.join(self.path, "live", str(step))
        return [os.path.join(d, f"shard{i}") for i in range(2)], os.path.join(d, "alive.parquet")


def ensure(run_dir: str) -> Fixture:
    """The fixture of this checkout's sources, built first if missing (in
    a separate process, so that the caller's memory and timings do not
    carry the build)."""
    path = os.path.join(WORK, "fixtures", _key())
    meta_path = os.path.join(path, "fixture.json")
    if not os.path.exists(meta_path):
        subprocess.run([sys.executable, "-m", "perfbench.fixture", run_dir], cwd=ROOT, check=True)
    with open(meta_path) as f:
        return Fixture(path, json.load(f))


def build(run_dir: str) -> None:
    root = os.path.join(WORK, "fixtures")
    path = os.path.join(root, _key())
    shutil.rmtree(root, ignore_errors=True)  # fixtures of other sources
    os.makedirs(path)
    fx = Fixture(path, {})
    rows = inputs.transcripts(CONVERSATIONS, SEED)
    src = os.path.join(path, "transcripts.parquet")
    rows.to_parquet(src, index=False)
    live = inputs.transcripts(LIVE_CONVERSATIONS, SEED)
    live.to_parquet(fx.live_rows, index=False)
    shards = [os.path.join(path, f"shard{i}") for i in range(2)]
    views = []

    def snapshot(op, alive, info) -> None:
        dirs, alive_path = fx.live_view(len(views))
        for src_dir, dst in zip(shards, dirs):
            shutil.copytree(src_dir, dst)
        alive.to_parquet(alive_path, index=False)
        views.append(op)

    spark = SparkProc(run_dir)
    try:
        spark.call("build", src=src, dst=fx.index_dir)
        write_script(spark.call, live, shards, path, SEED, snapshot)
    finally:
        spark.stop()
    np.savez(fx.oracle_npz, **expect.oracle_arrays(rows))
    base = expect.oracle_arrays(live)
    np.savez(fx.live_npz, terms=base["terms"], counts=base["counts"])
    meta = {"text_bytes": text_bytes(rows["text"]), "live_views": len(views)}
    with open(os.path.join(path, "fixture.json"), "w") as f:
        json.dump(meta, f)


def write_script(call, rows, shards: list[str], work_dir: str, seed: int, after) -> None:
    """The write side of ``live_sharded``: build two conv-range shards of
    ``rows`` into ``shards``, commit the steps of ``inputs.live_steps``
    through ``ShardedDeltaRouter``, then compact both shards. ``call(op,
    **kw)`` runs one op in the Spark process and returns its reply.
    ``after(op, alive, info)`` runs after the builds (op ``"base"``), after
    each write and after the compactions, with the rows alive then; ``info``
    holds the step's start (``perf_counter``), the replies of its Spark ops
    and the number of rows it wrote."""
    t0 = time.perf_counter()
    builds = []
    for i, (part, sd) in enumerate(zip(split(rows), shards)):
        src = os.path.join(work_dir, f"shard{i}.parquet")
        part.to_parquet(src, index=False)
        builds.append(call("build", src=src, dst=sd))
    after("base", rows, {"t0": t0, "replies": builds, "rows": len(rows)})
    b = bounds(rows)
    call("router_open", shards=shards, bounds=b)
    for i, (op, batch, alive) in enumerate(inputs.live_steps(rows, b[1][0], seed)):
        src = os.path.join(work_dir, f"batch-{i}.parquet")
        batch.to_parquet(src, index=False)
        t0 = time.perf_counter()
        reply = call(op, src=src, batch=i)
        after(op, alive, {"t0": t0, "replies": [reply], "rows": len(batch)})
    t0 = time.perf_counter()
    replies = [call("compact", dst=sd) for sd in shards]
    after("compact", alive, {"t0": t0, "replies": replies, "rows": 0})


def bounds(rows) -> list:
    """Two contiguous conv-range shards splitting ``rows`` in half."""
    convs = sorted(rows["conv_id"].unique())
    mid = convs[len(convs) // 2]
    return [(None, mid), (mid, None)]


def split(rows) -> list:
    mid = bounds(rows)[1][0]
    return [rows[rows["conv_id"] < mid], rows[rows["conv_id"] >= mid]]


if __name__ == "__main__":
    build(sys.argv[1])
