"""compact() hardening: out-of-order micro-batch arrival must converge to a
fresh-build-identical index after compaction (global docID reassignment),
and a crash at any point after the commit marker must be repaired by
recover_compact() with no data loss or double-counted deltas."""

from __future__ import annotations

import json
import os

import pytest

from discogsography_spark.corpus import make_queries, make_transcripts
from discogsography_spark.index.builder import IndexBuilder
from discogsography_spark.oracle import bm25_topk, build_oracle_index
from discogsography_spark.query.engine import LocalSearcher
from discogsography_spark.streaming import incremental
from discogsography_spark.streaming.incremental import (
    DeltaIndexWriter,
    MergedSearcher,
    compact,
    list_deltas,
)


@pytest.fixture()
def ooo_index(spark, tmp_path):
    """Base = the LAST third of conversations; deltas arrive in DESCENDING
    conv order — every batch sorts before already-indexed docs."""
    tdf = make_transcripts(n_conversations=120, mean_turns=6, vocab_size=400)
    convs = sorted(tdf["conv_id"].unique())
    base = tdf[tdf["conv_id"].isin(convs[80:])]
    base_p = str(tmp_path / "base.parquet")
    base.to_parquet(base_p, index=False)
    idx_dir = str(tmp_path / "idx")
    IndexBuilder(idx_dir, num_segments=4, head_df_threshold=10**9).build(
        spark.read.parquet(base_p)
    )
    writer = DeltaIndexWriter(idx_dir)
    for i, cs in enumerate([convs[40:80], convs[:40]]):  # descending order
        chunk = tdf[tdf["conv_id"].isin(cs)]
        p = str(tmp_path / f"chunk{i}.parquet")
        chunk.to_parquet(p, index=False)
        writer.write_batch(spark.read.parquet(p), i)
    return {"idx": idx_dir, "tdf": tdf, "tmp": tmp_path}


def _assert_matches_fresh_build(spark, idx_dir, tdf, tmp_path, n_queries=12):
    oracle = build_oracle_index(
        list(zip(tdf["conv_id"], tdf["turn_idx"], tdf["text"]))
    )
    queries = make_queries(tdf, n_queries=n_queries)
    searcher = LocalSearcher(idx_dir)
    assert searcher.meta.n_docs == len(tdf)
    for _, q in queries.iterrows():
        expected = bm25_topk(oracle, q["query_text"], int(q["k"]))
        got = searcher.topk(q["query_text"], int(q["k"]))
        assert [d for d, _ in got] == [d for d, _ in expected], q["query_text"]
        for (_, gs), (_, es) in zip(got, expected):
            assert gs == es


def test_out_of_order_batches_compact_to_fresh_build(spark, ooo_index):
    """After compact(), docIDs are the global dense rank — rank-identical
    (tiebreaks included) to the oracle over the union corpus even though
    batches arrived in reverse conv order."""
    n = compact(spark, ooo_index["idx"])
    assert n == 2
    assert list_deltas(ooo_index["idx"]) == []
    _assert_matches_fresh_build(
        spark, ooo_index["idx"], ooo_index["tdf"], ooo_index["tmp"]
    )
    # doc table maps the dense rank exactly like a fresh build
    docs = (
        spark.read.parquet(os.path.join(ooo_index["idx"], "docs"))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert docs["doc_id"].tolist() == list(range(len(docs)))


def test_compact_crash_after_marker_is_recovered(spark, ooo_index, monkeypatch):
    """Simulate a crash immediately after the commit marker is written (the
    staged dirs exist, nothing swapped, deltas still on disk): readers must
    not double-count, and the next open must complete the swap."""
    idx = ooo_index["idx"]
    calls = {"n": 0}
    real = incremental.recover_compact

    def crashy(index_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            return real(index_dir)  # the pre-compact recovery pass
        return False  # "crash": skip the post-marker swap

    monkeypatch.setattr(incremental, "recover_compact", crashy)
    assert compact(spark, idx) == 2
    monkeypatch.setattr(incremental, "recover_compact", real)

    # crashed state: marker present, staged dirs present, deltas untouched
    marker = os.path.join(idx, "compact_commit.json")
    assert os.path.exists(marker)
    assert os.path.isdir(os.path.join(idx, "segments__compact_tmp"))
    folded = json.load(open(marker))["folded"]
    assert len(folded) == 2
    # readers exclude folded deltas even before recovery runs
    assert list_deltas(idx) == []

    # opening the merged searcher repairs the swap and serves correct results
    ms = MergedSearcher(idx)
    assert not os.path.exists(marker)
    assert ms.n_docs == len(ooo_index["tdf"])
    _assert_matches_fresh_build(
        spark, idx, ooo_index["tdf"], ooo_index["tmp"]
    )


def test_recover_compact_is_idempotent(spark, ooo_index):
    idx = ooo_index["idx"]
    compact(spark, idx)
    assert incremental.recover_compact(idx) is False  # nothing to do
    _assert_matches_fresh_build(spark, idx, ooo_index["tdf"], ooo_index["tmp"])


def test_second_compaction_round(spark, ooo_index, tmp_path):
    """compact → new deltas → compact again: the docs table's bookkeeping
    columns from round 1 must not break round 2, and results stay
    fresh-build-identical over the grown corpus."""
    from discogsography_spark.streaming.incremental import DeltaIndexWriter

    idx = ooo_index["idx"]
    compact(spark, idx)

    extra = make_transcripts(n_conversations=30, mean_turns=5, vocab_size=400, seed=77)
    extra = extra.assign(conv_id="zz-" + extra["conv_id"])  # disjoint key range
    p = str(tmp_path / "extra.parquet")
    extra.to_parquet(p, index=False)
    writer = DeltaIndexWriter(idx)
    writer.write_batch(spark.read.parquet(p), 10)
    assert compact(spark, idx) == 1

    import pandas as pd

    union = pd.concat([ooo_index["tdf"], extra], ignore_index=True)
    _assert_matches_fresh_build(spark, idx, union, tmp_path)


def test_compact_coerces_delta_docmap_types(spark, tmp_path):
    """A base built from a pandas-written parquet stores `ts` as
    TIMESTAMP_NTZ; a delta written straight from spark.createDataFrame
    stores TIMESTAMP. compact() must coerce the delta docmap to the base
    docmap's types instead of failing to merge the two schemas."""
    import pandas as pd

    tdf = make_transcripts(n_conversations=60, mean_turns=5, vocab_size=300)
    convs = sorted(tdf["conv_id"].unique())
    base_p = str(tmp_path / "base.parquet")
    tdf[tdf["conv_id"].isin(convs[:45])].to_parquet(base_p, index=False)
    idx = str(tmp_path / "idx")
    IndexBuilder(idx, num_segments=4, head_df_threshold=10**9).build(
        spark.read.parquet(base_p)
    )
    # the batch adds the last 15 conversations and rewrites the text of
    # two base ones (upsert: their old versions are tombstoned)
    edited = tdf[tdf["conv_id"].isin(convs[:2])].assign(
        text=lambda d: d["text"] + " spark index"
    )
    batch = pd.concat([edited, tdf[tdf["conv_id"].isin(convs[45:])]])
    DeltaIndexWriter(idx).write_batch(
        spark.createDataFrame(batch), 0, upsert=True
    )

    def ts_type(docs_dir):
        return spark.read.parquet(docs_dir).schema["ts"].dataType

    delta_docs = os.path.join(list_deltas(idx)[0], "docs")
    assert ts_type(os.path.join(idx, "docs")) != ts_type(delta_docs)
    assert compact(spark, idx) == 1
    assert ts_type(os.path.join(idx, "docs")) == ts_type(base_p)
    alive = pd.concat(
        [tdf[tdf["conv_id"].isin(convs[2:])], edited], ignore_index=True
    )
    _assert_matches_fresh_build(spark, idx, alive, tmp_path)
