"""Columnar term-row fetch (_SegmentReader): each hit is sliced out of numpy
views of its row group. The TermPostings it returns must equal, dtype for
dtype and byte for byte, the one the row-dict construction gave (one-row
to_pylist per hit, then field-by-field numpy conversion) — on a plain
index, a legacy index without block_pos_off, segments with null champion
lists, and a delta leg of the live view. The row-group cache is an LRU."""

from __future__ import annotations

import dataclasses
import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from discogsography_spark.corpus import make_transcripts
from discogsography_spark.index.builder import IndexBuilder
from discogsography_spark.query.engine import (
    LocalSearcher,
    TermPostings,
    _SegmentReader,
)
from discogsography_spark.streaming.incremental import (
    DeltaIndexWriter,
    MergedSearcher,
    list_deltas,
)


def _row_dict_postings(row: dict) -> TermPostings:
    """The row-dict construction the columnar fetch replaced."""
    return TermPostings(
        term=row["term"],
        df=int(row["df"]),
        doc_blob=row["doc_blob"],
        tf_blob=row["tf_blob"],
        dl_blob=row["dl_blob"],
        block_last_doc=np.asarray(row["block_last_doc"], dtype=np.int64),
        block_doc_off=np.asarray(row["block_doc_off"], dtype=np.int64),
        block_tf_off=np.asarray(row["block_tf_off"], dtype=np.int64),
        block_dl_off=np.asarray(row["block_dl_off"], dtype=np.int64),
        block_max_tfnorm=np.asarray(row["block_max_tfnorm"], dtype=np.float64),
        champ_doc=np.asarray(row.get("champ_doc") or [], dtype=np.int64),
        champ_tf=np.asarray(row.get("champ_tf") or [], dtype=np.int64),
        champ_dl=np.asarray(row.get("champ_dl") or [], dtype=np.int64),
        pos_blob=row.get("pos_blob"),
        block_pos_off=(
            np.asarray(row["block_pos_off"], dtype=np.int64)
            if row.get("block_pos_off")
            else None
        ),
    )


def _reference_rows(root: str) -> dict[str, TermPostings]:
    """term → row-dict TermPostings over every segment file under root."""
    out: dict[str, TermPostings] = {}
    files = glob.glob(os.path.join(root, "segments", "seg=*", "*.parquet"))
    for f in sorted(files):
        pf = pq.ParquetFile(f)
        for rg in range(pf.num_row_groups):
            tbl = pf.read_row_group(rg)
            for i in range(tbl.num_rows):
                row = tbl.slice(i, 1).to_pylist()[0]
                out[row["term"]] = _row_dict_postings(row)
    return out


def _assert_same(got: TermPostings, want: TermPostings) -> None:
    for f in dataclasses.fields(TermPostings):
        a, b = getattr(got, f.name), getattr(want, f.name)
        where = f"{want.term!r}.{f.name}"
        if b is None:
            assert a is None, where
        elif isinstance(b, np.ndarray):
            assert isinstance(a, np.ndarray), where
            assert a.dtype == b.dtype and a.shape == b.shape, where
            assert a.tobytes() == b.tobytes(), where
            assert a.base is None, where  # owned, never a row-group view
        else:
            assert type(a) is type(b) and a == b, where


def _assert_fetch_matches(root: str, fetch) -> dict[str, TermPostings]:
    want = _reference_rows(root)
    assert want
    got = fetch(sorted(want))
    assert sorted(got) == sorted(want)
    for t, tp in want.items():
        _assert_same(got[t], tp)
    return got


def test_every_term_matches_row_dict_fetch(built_index):
    s = LocalSearcher(built_index)
    assert len(_assert_fetch_matches(built_index, s.lookup_terms)) > 100


def test_null_champion_lists_read_as_empty(built_index, tmp_path):
    idx = str(tmp_path / "nullchamp")
    shutil.copytree(built_index, idx)
    for f in glob.glob(os.path.join(idx, "segments", "**", "*.parquet"), recursive=True):
        tbl = pq.read_table(f)
        for name in ("champ_doc", "champ_tf", "champ_dl"):
            vals = tbl.column(name).to_pylist()
            nulled = pa.array(
                [None if i % 2 else v for i, v in enumerate(vals)],
                type=tbl.schema.field(name).type,
            )
            tbl = tbl.set_column(tbl.schema.get_field_index(name), name, nulled)
        pq.write_table(tbl, f, row_group_size=16)
    got = _assert_fetch_matches(idx, LocalSearcher(idx).lookup_terms)
    assert any(tp.champ_doc.size == 0 and tp.df > 0 for tp in got.values())


@pytest.fixture(scope="module")
def positional_live(spark, tmp_path_factory):
    """A positional base plus one committed delta."""
    d = tmp_path_factory.mktemp("segreader")
    tdf = make_transcripts(n_conversations=80, mean_turns=5, vocab_size=300)
    convs = sorted(tdf["conv_id"].unique())
    base_p, delta_p = str(d / "base.parquet"), str(d / "delta.parquet")
    tdf[tdf["conv_id"].isin(convs[:60])].to_parquet(base_p, index=False)
    tdf[tdf["conv_id"].isin(convs[60:])].to_parquet(delta_p, index=False)
    idx = str(d / "idx")
    IndexBuilder(
        idx, num_segments=4, block_size=8, head_df_threshold=200,
        head_salts=3, with_positions=True,
    ).build(spark.read.parquet(base_p))
    DeltaIndexWriter(idx).write_batch(spark.read.parquet(delta_p), 0)
    return idx


def test_legacy_index_without_directory_column(positional_live, tmp_path):
    legacy = str(tmp_path / "legacy")
    shutil.copytree(positional_live, legacy, ignore=shutil.ignore_patterns("deltas"))
    for f in glob.glob(os.path.join(legacy, "segments", "**", "*.parquet"), recursive=True):
        tbl = pq.read_table(f)
        pq.write_table(tbl.drop_columns(["block_pos_off"]), f, row_group_size=64)
    s = LocalSearcher(legacy)
    _assert_fetch_matches(legacy, s.lookup_terms)
    # the directory-bearing original: block_pos_off present and non-empty
    rows = LocalSearcher(positional_live).lookup_terms(["spark", "index"])
    assert rows and all(tp.block_pos_off is not None for tp in rows.values())
    assert all(tp.pos_blob for tp in rows.values())


def test_delta_leg_matches_row_dict_fetch(positional_live):
    ms = MergedSearcher(positional_live)
    (delta,) = list_deltas(positional_live)
    _assert_fetch_matches(delta, lambda terms: ms._delta_rows(delta, terms))


def _many_row_groups_file(path: str, n: int) -> list[str]:
    terms = [f"t{i:03d}" for i in range(n)]
    ints = pa.list_(pa.int64())
    tbl = pa.table(
        {
            "term": terms,
            "df": pa.array(range(1, n + 1), type=pa.int64()),
            "doc_blob": [bytes([i % 128]) for i in range(n)],
            "tf_blob": [b"\x01"] * n,
            "dl_blob": [b"\x05"] * n,
            "block_last_doc": pa.array([[i] for i in range(n)], type=ints),
            "block_doc_off": pa.array([[0]] * n, type=ints),
            "block_tf_off": pa.array([[0]] * n, type=ints),
            "block_dl_off": pa.array([[0]] * n, type=ints),
            "block_max_tfnorm": pa.array([[0.5]] * n, type=pa.list_(pa.float64())),
        }
    )
    pq.write_table(tbl, path, row_group_size=1)
    return terms


def test_row_group_cache_evicts_least_recently_used(tmp_path):
    f = str(tmp_path / "seg.parquet")
    terms = _many_row_groups_file(f, 70)
    rd = _SegmentReader([f])
    assert rd._pfs[0].num_row_groups == 70

    def fetch(t):
        (tp,) = rd.lookup([t])
        assert tp.term == t and tp.df == terms.index(t) + 1
        return tp

    for t in terms[:64]:  # fills the cache exactly
        fetch(t)
    assert len(rd._rg_cache) == 64
    fetch(terms[0])  # a hit: row group 0 becomes the most recent
    for t in terms[64:]:
        fetch(t)
    assert len(rd._rg_cache) == 64
    assert (0, 0) in rd._rg_cache  # recently used, survives
    assert all((0, rg) not in rd._rg_cache for rg in range(1, 7))  # oldest
    assert all((0, rg) in rd._rg_cache for rg in range(7, 70))
    tp = fetch(terms[0])
    assert tp.champ_doc.dtype == np.int64 and tp.champ_doc.size == 0
    assert tp.pos_blob is None and tp.block_pos_off is None
