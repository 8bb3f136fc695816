"""BM25 top-k query engines over the segment index.

Two paths, mirroring the reference's split between its serving layer (FastAPI
→ GIN/Lucene index probes, /root/reference/api/queries/search_queries.py:105-197)
and its batch analytics (insights scans):

- **LocalSearcher** — low-latency serving path: driver-side posting lookup via
  pyarrow with segment pruning (crc32 shard) + parquet predicate pushdown on
  `term`, then an exact conjunctive document-at-a-time evaluator with
  block-range skipping and block-max upper-bound pruning (the block-max WAND
  family, specialized to AND semantics — candidates are always a subset of
  the rarest term's postings). This is what the p95 latency benchmark runs.

- **DistributedQueryEngine** — Spark DataFrame path for batch scoring: scans
  ONLY the pruned segment files with `term IN (...)` pushed to parquet,
  decodes postings in an Arrow mapInPandas, then scores with NATIVE column
  math (whole-stage codegen; no Python in the scoring loop) and takes the
  global top-k via orderBy/limit (Spark's TakeOrderedAndProject = per-partition
  heaps + merge, exactly the reference's per-table rank cap then global merge,
  /root/reference/api/queries/search_queries.py:213-234).

Determinism (rank-identity vs the oracle): idf and avgdl are computed in
CPython and injected as literals; per-doc score sums partials in sorted-term
order — locally via elementwise accumulation over sorted terms, distributed
via F.aggregate over array_sort(collect_list(struct(term, partial))) — so the
IEEE float64 addition order is identical everywhere. Ties break
(score DESC, doc_id ASC) (/root/reference/api/queries/search_queries.py:132-134).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import time
from bisect import bisect_left, bisect_right
from collections import OrderedDict
from contextlib import contextmanager

from discogsography_spark.analysis import (
    analyze_query,
    get_analyzer,
    parse_boosted_query,
)
from discogsography_spark.codec import decode_postings, delta_decode, varbyte_decode
from discogsography_spark.index.builder import term_segment
from discogsography_spark.index.manifest import Manifest
from discogsography_spark.mem import tune_allocator
from discogsography_spark.params import BLOCK_SIZE, BM25Params


def _sparse_max_table(vals: np.ndarray) -> list[np.ndarray]:
    """Sparse table (doubling) for O(1) range-max over a float array.
    Level j holds max over windows of length 2^j. Built once per term per
    query over its ~df/BLOCK_SIZE block-max entries — a few thousand floats."""
    tabs = [np.asarray(vals, dtype=np.float64)]
    j = 1
    while (1 << j) <= tabs[0].size:
        prev = tabs[-1]
        half = 1 << (j - 1)
        tabs.append(np.maximum(prev[:-half], prev[half:]))
        j += 1
    return tabs


def _range_max(tabs: list[np.ndarray], lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Vectorized max over inclusive index ranges [lo, hi] using a sparse
    table; classic two-overlapping-windows query, grouped by level."""
    span = hi - lo + 1
    # floor(log2(span)) via frexp exponent (span >= 1)
    lev = np.frexp(span.astype(np.float64))[1] - 1
    out = np.empty(lo.shape, dtype=np.float64)
    for level in np.unique(lev):
        sel = lev == level
        t = tabs[int(level)]
        width = 1 << int(level)
        out[sel] = np.maximum(t[lo[sel]], t[hi[sel] - width + 1])
    return out


def _chain_fold_keys(
    chain: tuple[str, ...],
    windows: tuple[int, ...],
    keys: dict[str, np.ndarray],
    SHIFT: np.int64,
    span: np.int64,
) -> np.ndarray:
    """Left-fold a proximity chain over packed (doc << SHIFT | pos) key
    arrays: alive_{i+1} = occurrences of chain[i+1] with an alive chain[i]
    occurrence within windows[i] (same doc; adjacent equal terms need a
    DISTINCT neighbor). Window offsets clamp to each doc's key space, so
    links never cross documents. Path-shaped constraints make one forward
    pass exact — every surviving final-slot key certifies a full chain.
    Shared by LocalSearcher and the merged live view."""
    alive = keys[chain[0]]
    for i, w in enumerate(windows):
        if alive.size == 0:
            break
        nxt = keys[chain[i + 1]]
        docbase = (nxt >> SHIFT) << SHIFT
        lo = np.maximum(nxt - np.int64(w), docbase)
        hi = np.minimum(nxt + np.int64(w), docbase + span - 1)
        a = np.searchsorted(alive, lo, side="left")
        b = np.searchsorted(alive, hi, side="right")
        cnt = (b - a).astype(np.int64)
        if chain[i] == chain[i + 1]:
            # q itself may be alive (same key set) — a chain link needs a
            # distinct occurrence, so discount the self-hit
            pos = np.searchsorted(alive, nxt)
            inb = pos < alive.size
            selfin = np.zeros(nxt.size, dtype=bool)
            selfin[inb] = alive[pos[inb]] == nxt[inb]
            cnt -= selfin.astype(np.int64)
        alive = nxt[cnt > 0]
    if alive.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.unique(alive >> SHIFT)


def _position_keys(
    d_full: np.ndarray,
    tf_full: np.ndarray,
    pos_flat: np.ndarray,
    off: np.ndarray,
    docs_sorted: np.ndarray,
    shift: np.int64,
) -> np.ndarray:
    """Sorted (doc << shift | pos) keys restricted to a sorted candidate-doc
    subset, from one term's decoded (docs, tf) arrays and flat position
    stream with per-posting offsets."""
    if docs_sorted.size == 0:
        return np.empty(0, dtype=np.int64)
    pi = np.searchsorted(d_full, docs_sorted)  # exact hits guaranteed
    lens = tf_full[pi]
    total = int(lens.sum())
    intra = np.arange(total, dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(lens)[:-1])), lens
    )
    flat_idx = np.repeat(off[pi], lens) + intra
    flat_doc = np.repeat(docs_sorted, lens)
    return (flat_doc << shift) | pos_flat[flat_idx]


_FIRST_TIER = 4096


def isect_sorted(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
    """Intersection of two SORTED-unique int arrays via membership probes
    of the smaller into the larger — O(min log max), no re-sort (intersect1d
    concatenates and sorts both: O((a+b) log(a+b)), the measured hot spot of
    conjunctive candidate derivation on head terms). Result is sorted
    ascending, identical to np.intersect1d(assume_unique=True)."""
    if a.size > b.size:
        a, b = b, a
    if a.size == 0 or b.size == 0:
        return a[:0]
    pos = np.searchsorted(b, a)
    pos[pos == b.size] = b.size - 1
    return a[b[pos] == a]


def _after_mask(
    docs: np.ndarray, scores: np.ndarray, after: tuple[float, int]
) -> np.ndarray:
    """Cursor-pagination acceptance mask under the engine-wide
    (score DESC, doc_id ASC) ordering: keep docs STRICTLY after the
    cursor (score, doc_id) — Elasticsearch search_after semantics, the
    scale-correct deep-pagination primitive (OFFSET ranks to depth
    offset+k and ships offset+k rows per shard; a cursor page keeps an
    O(k) pool and ships k rows per shard at ANY depth). Scores are
    deterministic float64 per (index snapshot, query), so equality
    against a cursor taken from a prior page of the same ranking is
    exact."""
    cs, cd = after
    return (scores < cs) | ((scores == cs) & (docs > cd))


def _rounded_and_topk(topk_and_fn, terms, k, idfs, avgdl):
    """Top-k under the PREFIX scoring contract (round to 5dp, THEN rank
    (score DESC, doc ASC)) computed through a raw-score conjunctive
    evaluator (`topk_and_fn` — block-max WAND, no full posting decode).

    Rounding is monotone on the raw-desc ranking, so the result is exact
    once every doc that could round into (or tie) the k-th rounded score
    is fetched: oversample until the LAST fetched raw score rounds
    strictly below the k-th rounded score, or the candidate set is
    exhausted (fewer hits than asked). Returns None when the 5dp tie
    plateau outgrows the oversampling bound — the caller's general path
    is exact there."""
    need = k + 64
    while True:
        hits = topk_and_fn(terms, need, idfs=idfs, avgdl=avgdl)
        if not hits:
            return []
        kth_round = round(hits[min(k, len(hits)) - 1][1], 5)
        if len(hits) < need or round(hits[-1][1], 5) < kth_round:
            rounded = [(d, round(s, 5)) for d, s in hits]
            rounded.sort(key=lambda ds: (-ds[1], ds[0]))
            return rounded[:k]
        if need >= 16 * (k + 64):
            return None
        need *= 4


def _lazy_verified_topk(
    cand: np.ndarray,
    scores: np.ndarray,
    verify,
    k: int,
    check=None,
) -> list[tuple[int, float]]:
    """Top-k of a positional predicate evaluated lazily in score order.

    `cand` is the sorted conjunctive candidate docID array with `scores`
    aligned (already rounded to the 5dp contract); `verify(docs_sorted)`
    returns the sorted subset actually satisfying the positional predicate
    (phrase adjacency / proximity window). Candidates are verified in
    score-TIER order via argpartition (each tier selects the top-T
    unverified candidates in O(C)); verification — the O(sum tf)
    searchsorted work over cached position streams — touches only tier
    docs. Exact stop rule: once ≥ k verified matches score STRICTLY above
    the best unverified candidate, nothing outside the verified set can
    reach the top-k (ties included — equal scores stay in play until
    verified). Verification only REMOVES candidates, never changes a
    score, so the rule is exact. Shared by topk_phrase and topk_within.

    The first tier size is module state (`_FIRST_TIER`) so tests can force
    the multi-tier path on small fixtures (it only fires at ≥ 4096
    candidates otherwise)."""
    C = cand.size
    verified = np.zeros(C, dtype=bool)
    m_docs: list[np.ndarray] = []
    m_scores: list[np.ndarray] = []
    T = _FIRST_TIER
    while True:
        if check is not None:
            check()  # verification-tier boundary
        if T >= C:
            sel = np.flatnonzero(~verified)
            bound = -np.inf
        else:
            part = np.argpartition(-scores, T)
            pool = part[:T]
            sel = pool[~verified[pool]]
            bound = float(scores[part[T:]].max())
        if sel.size:
            verified[sel] = True
            matched = verify(np.sort(cand[sel]))
            if matched.size:
                at = np.searchsorted(cand, matched)
                m_docs.append(matched)
                m_scores.append(scores[at])
        n_above = sum(int((s > bound).sum()) for s in m_scores)
        if n_above >= k or T >= C:
            break
        T *= 8
    if not m_docs:
        return []
    d_all = np.concatenate(m_docs)
    s_all = np.concatenate(m_scores)
    top = np.lexsort((d_all, -s_all))[:k]
    return [(int(d_all[i]), float(s_all[i])) for i in top]


class QueryBudgetExceeded(RuntimeError):
    """A per-query time budget expired before evaluation finished — the
    engine's statement_timeout (the reference caps every heavy query at
    120 s, api/queries/rarity_queries.py:199-204, and sets per-endpoint
    p95 targets, tests/perftest/config.yaml:67-74). Raised from block /
    term / tier boundaries inside the evaluators; the query returns NO
    result (never a silently truncated page)."""

    def __init__(
        self, budget_ms: float | str, elapsed_ms: float | None = None
    ):
        if isinstance(budget_ms, str):  # worker-pool error reconstruction
            super().__init__(budget_ms)
            self.budget_ms = self.elapsed_ms = None
            return
        super().__init__(
            f"query budget {budget_ms:.0f} ms exceeded "
            f"({elapsed_ms:.0f} ms elapsed)"
        )
        self.budget_ms = budget_ms
        self.elapsed_ms = elapsed_ms


@dataclass
class TermPostings:
    term: str
    df: int
    doc_blob: bytes
    tf_blob: bytes
    dl_blob: bytes
    block_last_doc: np.ndarray
    block_doc_off: np.ndarray
    block_tf_off: np.ndarray
    block_dl_off: np.ndarray
    block_max_tfnorm: np.ndarray
    champ_doc: np.ndarray | None = None
    champ_tf: np.ndarray | None = None
    champ_dl: np.ndarray | None = None
    pos_blob: bytes | None = None
    # byte offsets into pos_blob at posting-block boundaries (nblocks + 1
    # entries) — None for pre-directory indexes (full-stream decode fallback)
    block_pos_off: np.ndarray | None = None

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        doc_ids, tfs = decode_postings(self.doc_blob, self.tf_blob)
        dls = varbyte_decode(self.dl_blob).astype(np.int64)
        return doc_ids, tfs, dls

    def decode_blocks(
        self, block_indices: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Decode the given (sorted, unique) blocks. Consecutive blocks are
        decoded as single contiguous runs — docID gaps chain across block
        boundaries (block k's first gap is relative to block k-1's last doc),
        so one varbyte+delta pass covers a whole run. For dense candidate
        sets (head terms) this collapses thousands of per-block decodes into
        one vectorized call."""
        bi = np.asarray(block_indices, dtype=np.int64)
        if bi.size == 0:
            e = np.empty(0, dtype=np.int64)
            return e, e.copy(), e.copy()
        run_starts = np.flatnonzero(np.concatenate(([True], np.diff(bi) != 1)))
        run_ends = np.concatenate((run_starts[1:], [bi.size]))
        n_blocks = len(self.block_last_doc)

        def span(offsets: np.ndarray, blob: bytes, b0: int, b1: int) -> bytes:
            s = int(offsets[b0])
            e = int(offsets[b1 + 1]) if b1 + 1 < n_blocks else len(blob)
            return blob[s:e]

        docs_l, tfs_l, dls_l = [], [], []
        for rs, re_ in zip(run_starts, run_ends):
            b0, b1 = int(bi[rs]), int(bi[re_ - 1])
            prev = -1 if b0 == 0 else int(self.block_last_doc[b0 - 1])
            gaps = varbyte_decode(span(self.block_doc_off, self.doc_blob, b0, b1))
            docs_l.append(delta_decode(gaps, prev=prev))
            tfs_l.append(
                varbyte_decode(span(self.block_tf_off, self.tf_blob, b0, b1)).astype(
                    np.int64
                )
            )
            dls_l.append(
                varbyte_decode(span(self.block_dl_off, self.dl_blob, b0, b1)).astype(
                    np.int64
                )
            )
        return (
            np.concatenate(docs_l),
            np.concatenate(tfs_l),
            np.concatenate(dls_l),
        )


class IndexMeta:
    """Shared stats + segment path resolution."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.manifest = Manifest(index_dir)
        stats = self.manifest.docs()
        if stats is None:
            raise FileNotFoundError(f"no committed index at {index_dir}")
        self.stats = stats
        self.n_docs = int(stats["n_docs"])
        self.total_tokens = int(stats["total_tokens"])
        self.avgdl = self.total_tokens / self.n_docs if self.n_docs else 1.0
        # docID address space: equals n_docs for a normal dense index; a
        # PROMOTED consolidated delta (streaming/incremental.py
        # consolidate_deltas) keeps its ABSOLUTE global docIDs, so its
        # id space is doc_offset + n_docs — every dense array indexed by
        # docID must size to this, and dense-path triggers compare df
        # against it (bitmap cost is O(id_space))
        self.id_space = int(stats.get("id_space", self.n_docs))
        self.num_segments = int(stats["num_segments"])
        self.block_size = int(stats.get("block_size", BLOCK_SIZE))
        self.analyzer = str(stats.get("analyzer_name", "simple"))
        self.params = BM25Params(k1=float(stats["k1"]), b=float(stats["b"]))

    def seg_dir(self, seg: int) -> str:
        return os.path.join(self.index_dir, "segments", f"seg={seg}")

    def seg_dirs_for_terms(self, terms: list[str]) -> dict[int, list[str]]:
        out: dict[int, list[str]] = {}
        for t in terms:
            out.setdefault(term_segment(t, self.num_segments), []).append(t)
        return out


# Blocks scored in the θ-refinement rounds of _topk_and's phased sweep
# (prefixes of the ub-descending block order). _PHASE0_A is a small opening
# round — its exact scores usually push θ to near-final, so the main phase
# starts pre-pruned; _PHASE0_BLOCKS bounds the refinement region before the
# remainder sweep. Module constants so tests can shrink them and engage the
# phase split on small indexes. Pruning between rounds uses the true
# DISTINCT-score θ, so any split is exact.
_PHASE0_A = 256
_PHASE0_BLOCKS = 1024

# Term-row list columns → the dtype of their TermPostings field
_LIST_COLS = {
    "block_last_doc": np.int64,
    "block_doc_off": np.int64,
    "block_tf_off": np.int64,
    "block_dl_off": np.int64,
    "block_max_tfnorm": np.float64,
    "champ_doc": np.int64,
    "champ_tf": np.int64,
    "champ_dl": np.int64,
    "block_pos_off": np.int64,
}
_BLOB_COLS = ("doc_blob", "tf_blob", "dl_blob", "pos_blob")
_TP_COLS = ["df", *_BLOB_COLS, *_LIST_COLS]
_RG_CACHE_SIZE = 64


def _column_views(col, dtype=None) -> tuple:
    """(offsets, values, valid) of one list or binary column of a row group:
    row i is values[offsets[i]:offsets[i+1]], a slice of a numpy view of the
    column's buffer. Offsets are a memoryview over their buffer, so a hit
    slices with Python ints (no numpy scalars, no per-row objects kept);
    `valid` is None when the column holds no nulls."""
    import pyarrow as pa

    arr = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    valid = arr.is_valid().to_pylist() if arr.null_count else None
    if dtype is None:  # binary / large_binary: offsets + data buffer
        _, off_buf, data_buf = arr.buffers()
        off_type = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        offsets = np.frombuffer(off_buf, dtype=off_type)[arr.offset :][: len(arr) + 1]
        values = np.frombuffer(data_buf or b"", dtype=np.uint8)
    else:  # list / large_list: offsets index the unsliced child values
        offsets = arr.offsets.to_numpy()
        values = arr.values.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return memoryview(offsets), values, valid


def _term_postings(term: str, group: tuple, i: int) -> TermPostings:
    """The one TermPostings constructor: row i of a row group's column views
    as owned copies (blobs as bytes), so a cached TermPostings never pins
    its row group's buffers. Null or missing champion lists read as empty
    arrays; a null, missing or empty block_pos_off (pre-directory indexes)
    and a null or missing pos_blob as None."""
    dfs, views = group
    f = {}
    for name, is_blob, off, vals, valid in views:
        if valid is not None and not valid[i]:
            f[name] = None
        elif is_blob:
            f[name] = vals[off[i] : off[i + 1]].tobytes()
        else:
            f[name] = vals[off[i] : off[i + 1]].copy()
    for n in ("champ_doc", "champ_tf", "champ_dl"):
        if f.get(n) is None:
            f[n] = np.empty(0, dtype=np.int64)
    if f.get("block_pos_off") is not None and f["block_pos_off"].size == 0:
        f["block_pos_off"] = None
    return TermPostings(term=term, df=dfs[i], **f)


class _SegmentReader:
    """Lucene-terms-dictionary analog over a term-sorted parquet segment:
    the `term` column is loaded once at open (cheap — no blobs); a lookup
    binary-searches the dictionary, then reads ONLY the row group containing
    the hit (segment files are written with small row groups for exactly this
    access pattern). A row group is turned into numpy column views once, on
    first touch, and kept in a 64-entry LRU; each hit then slices its row
    out of those views into a TermPostings (owned copies: blobs as bytes,
    block and champion lists as small arrays)."""

    def __init__(self, files: list[str]):
        import pyarrow.parquet as pq

        self._pfs = [pq.ParquetFile(f) for f in files]
        self._terms: list[np.ndarray] = []
        self._rg_ends: list[list[int]] = []
        self._order: list[np.ndarray] = []  # argsort per file (robust to
        # unsorted files, e.g. hand-written or legacy segments)
        for pf in self._pfs:
            tcol = pf.read(columns=["term"]).column("term")
            terms = tcol.to_numpy(zero_copy_only=False).astype(object, copy=False)
            order = np.argsort(terms, kind="stable")
            self._terms.append(terms[order])  # sorted dictionary view
            self._order.append(order)
            counts = [pf.metadata.row_group(i).num_rows for i in range(pf.num_row_groups)]
            self._rg_ends.append(np.cumsum(counts).tolist())
        self._rg_cache: OrderedDict[tuple[int, int], tuple] = OrderedDict()

    @classmethod
    def open(cls, seg_dir: str) -> "_SegmentReader | None":
        """Reader over a segment directory's parquet files (None if none)."""
        names = sorted(os.listdir(seg_dir)) if os.path.isdir(seg_dir) else []
        files = [os.path.join(seg_dir, f) for f in names if f.endswith(".parquet")]
        return cls(files) if files else None

    def _row_group(self, fi: int, rg: int) -> tuple:
        key = (fi, rg)
        ent = self._rg_cache.get(key)
        if ent is not None:
            self._rg_cache.move_to_end(key)
            return ent
        pf = self._pfs[fi]
        cols = [c for c in _TP_COLS if c in pf.schema_arrow.names]
        # one thread: row groups are small by design, and the pool's hand-offs
        # cost more CPU than its parallel column decode saves
        tbl = pf.read_row_group(rg, columns=cols, use_threads=False)
        views = [  # binary columns have no _LIST_COLS dtype
            (n, n not in _LIST_COLS, *_column_views(tbl.column(n), _LIST_COLS.get(n)))
            for n in tbl.column_names
            if n != "df"
        ]
        ent = (memoryview(tbl.column("df").to_numpy()), views)
        self._rg_cache[key] = ent
        if len(self._rg_cache) > _RG_CACHE_SIZE:
            self._rg_cache.popitem(last=False)
        return ent

    def lookup(self, wanted: list[str]) -> Iterator[TermPostings]:
        """Yield a TermPostings per file holding each wanted term."""
        for fi in range(len(self._pfs)):
            terms, order, ends = self._terms[fi], self._order[fi], self._rg_ends[fi]
            for w in wanted:
                p = bisect_left(terms, w)
                if p == len(terms) or terms[p] != w:
                    continue
                idx = int(order[p])  # raw row index in file order
                rg = bisect_right(ends, idx)
                start = ends[rg - 1] if rg else 0
                yield _term_postings(w, self._row_group(fi, rg), idx - start)


def _fetch_term_rows(
    meta: IndexMeta, reader, terms: list[str], check
) -> dict[str, TermPostings]:
    """Segment-pruned term-row fetch, the one path for the base and every
    delta leg: `reader(seg)` is the segment's _SegmentReader (None when the
    segment holds no files). `check` is the query-budget check, run per
    segment and per 64 rows — a wide candidate sweep (significant-terms
    discovery at sf1.0 feeds thousands of terms) spends seconds here."""
    out: dict[str, TermPostings] = {}
    for seg, seg_terms in meta.seg_dirs_for_terms(terms).items():
        check()
        rd = reader(seg)
        if rd is None:
            continue
        for i, tp in enumerate(rd.lookup(sorted(seg_terms))):
            if i % 64 == 0:
                check()
            out[tp.term] = tp
    return out


class LocalSearcher:
    """Low-latency serving path.

    Conjunctive (AND) top-k is a champion-seeded block-max evaluator — the
    block-max WAND family specialized to AND semantics:

    1. θ is seeded with EXACT scores of the conjunctive docs found in the
       union of the query terms' champion lists (impact-ordered prefixes);
    2. each driving-term block gets an upper bound: its own block-max
       contribution plus, per other term, a sparse-table range-max of that
       term's block-max values over the overlapping docID range;
    3. blocks are processed in UB-DESCENDING order (impact-at-block
       granularity) in chunks; θ tightens after every chunk and the loop
       stops as soon as the best remaining block bound falls below θ.
    Every skipped block provably contains no doc scoring ≥ the final kth
    score (ub < θ_chunk ≤ θ_final), so results stay bit-identical to the
    exhaustive oracle, tiebreaks included.

    Two serving caches (the reference's Redis memo + Lucene page-cache design
    point, /root/reference/api/queries/search_queries.py:36-62):
    - decoded-postings LRU (term → full docs/tf/dl arrays), bounded by total
      postings held, filled when a probe would touch most of a list anyway;
    - query-result LRU keyed by (mode, analyzed terms, k) — bypassable per
      call so benchmarks can report cold / steady / memoized separately.
    """

    def __init__(
        self,
        index_dir: str,
        postings_cache_budget: int = 32_000_000,
        result_cache_size: int = 4096,
    ):
        tune_allocator()
        self.meta = IndexMeta(index_dir)
        # per-query deadline (monotonic seconds; None = unlimited), set by
        # the deadline() context manager and checked at block/term/tier
        # boundaries inside the evaluators — granularity is one posting
        # block / one term probe, so an expired budget aborts within one
        # bounded unit of work, never mid-numpy-kernel
        self._deadline: tuple[float, float] | None = None
        self._readers: dict[int, _SegmentReader | None] = {}
        self._trigram_index = None  # built lazily by suggest_terms
        self._dec_cache: OrderedDict[str, tuple] = OrderedDict()
        self._dec_cache_postings = 0
        self._dec_budget = int(postings_cache_budget)
        # docs-only decode LRU (significant-terms fg counting): candidate
        # vocabularies are mid-frequency and wide, and fg counting needs
        # ONLY the doc array — a full (doc, tf, dl) decode would triple the
        # varbyte work and evict the query-path cache. Quarter budget.
        self._docs_cache: OrderedDict[str, np.ndarray] = OrderedDict()
        self._docs_cache_postings = 0
        self._docs_budget = max(1, int(postings_cache_budget) // 4)
        self._result_cache: OrderedDict[tuple, tuple] = OrderedDict()
        self._result_cache_size = int(result_cache_size)
        # term → TermPostings: parquet row-group hits still copy multi-MB
        # blob rows out of the row group; the term dictionary is the hot set.
        # Bounded by BLOB BYTES (a head term's row is MBs) — count alone
        # could pin tens of GB under a wide query log.
        self._tp_cache: OrderedDict[str, TermPostings | None] = OrderedDict()
        self._tp_cache_bytes = 0
        self._tp_budget = 256 * 1024 * 1024
        # term → (member: bool[n_docs], rank: int64[n_docs]) for cached HEAD
        # terms only (df ≥ n_docs/64): probe becomes two O(1) gathers instead
        # of an O(log df) binary search per candidate — the win that matters
        # when both sides of a conjunction are ~df≈N lists. Entries cost
        # 9 bytes × n_docs, so the cap is byte-budgeted too (a 100M-doc
        # shard's entry is ~0.9 GB — the budget holds a handful there and
        # dozens at sandbox scale).
        self._member_cache: OrderedDict[str, tuple] = OrderedDict()
        self._member_cache_bytes = 0
        self._member_budget = 512 * 1024 * 1024
        # term → flat decoded positions (phrase path); postings-count budget
        self._pos_cache: OrderedDict[str, np.ndarray] = OrderedDict()
        self._pos_cache_n = 0
        # (term, block) → decoded position slice: block-skip path for
        # indexes carrying the positional block directory. A head-term
        # verification touches O(candidates) blocks instead of the whole
        # multi-10M-value stream, so entries are small and budget churn
        # mid-query re-decodes one block, not the term.
        self._pos_block_cache: OrderedDict[tuple, np.ndarray] = OrderedDict()
        self._pos_block_cache_n = 0
        # term → flat value index per posting (cumsum tf) for the block path
        self._tfoff_cache: OrderedDict[str, np.ndarray] = OrderedDict()
        self._tfoff_cache_n = 0

    # ---- decoded-postings cache ----

    def _decoded(self, tp: TermPostings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        self._budget_check()  # term-decode boundary (OR/bool/phrase paths)
        ent = self._dec_cache.get(tp.term)
        if ent is not None:
            self._dec_cache.move_to_end(tp.term)
            return ent
        ent = tp.decode_all()
        self._dec_cache[tp.term] = ent
        self._dec_cache_postings += int(ent[0].size)
        while self._dec_cache_postings > self._dec_budget and len(self._dec_cache) > 1:
            _, old = self._dec_cache.popitem(last=False)
            self._dec_cache_postings -= int(old[0].size)
        return ent

    def _decoded_docs(self, tp: TermPostings) -> np.ndarray:
        """Docs-only decode (significant-terms fg counting): one varbyte +
        delta pass over doc_blob — a third of decode_all's work, cached in
        a separate LRU so wide candidate sweeps don't evict the query
        path's (doc, tf, dl) entries. Reuses a full-decode cache hit when
        one exists."""
        self._budget_check()  # candidate-decode boundary
        ent = self._dec_cache.get(tp.term)
        if ent is not None:
            self._dec_cache.move_to_end(tp.term)
            return ent[0]
        d = self._docs_cache.get(tp.term)
        if d is not None:
            self._docs_cache.move_to_end(tp.term)
            return d
        from discogsography_spark.codec import delta_decode, varbyte_decode

        d = delta_decode(varbyte_decode(tp.doc_blob), prev=-1)
        self._docs_cache[tp.term] = d
        self._docs_cache_postings += int(d.size)
        while (
            self._docs_cache_postings > self._docs_budget
            and len(self._docs_cache) > 1
        ):
            _, old = self._docs_cache.popitem(last=False)
            self._docs_cache_postings -= int(old.size)
        return d

    def _probe(
        self, tp: TermPostings, cand: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Membership probe of sorted unique candidate docIDs against one
        term's postings → (mask over cand, tf[mask], dl[mask]).

        Cached terms are probed with a direct searchsorted into the decoded
        arrays. Uncached terms decode only the blocks whose docID ranges can
        contain candidates; a probe that would touch most of the list
        upgrades to a cached full decode (same cost, future queries reuse)."""
        ent = self._dec_cache.get(tp.term)
        if ent is None:
            nb = len(tp.block_last_doc)
            blk = np.searchsorted(tp.block_last_doc, cand, side="left")
            valid = blk < nb
            needed = np.unique(blk[valid])
            if needed.size == 0:
                z = np.zeros(cand.size, dtype=bool)
                e = np.empty(0, dtype=np.int64)
                return z, e, e.copy()
            # Fragmented block decodes pay ~60 µs of Python per run vs ~1 µs
            # per block for one contiguous full decode, so a probe touching
            # more than ~1/32 of the list decodes it all (and caches it).
            if needed.size * 32 >= nb or needed.size >= 8192:
                ent = self._decoded(tp)
            else:
                d, tfv, dlv = tp.decode_blocks(needed)
                pos = np.searchsorted(d, cand)
                ok = pos < d.size
                mask = np.zeros(cand.size, dtype=bool)
                mask[ok] = d[pos[ok]] == cand[ok]
                sel = pos[mask]
                return mask, tfv[sel], dlv[sel]
        else:
            self._dec_cache.move_to_end(tp.term)
        d, tfv, dlv = ent
        if d.size * 64 >= self.meta.id_space:
            member, rank = self._membership(tp.term, d)
            mask = member[cand]
            sel = rank[cand[mask]]
            return mask, tfv[sel], dlv[sel]
        pos = np.searchsorted(d, cand)
        ok = pos < d.size
        mask = np.zeros(cand.size, dtype=bool)
        mask[ok] = d[pos[ok]] == cand[ok]
        sel = pos[mask]
        return mask, tfv[sel], dlv[sel]

    def _membership(self, term: str, docs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        ent = self._member_cache.get(term)
        if ent is not None:
            self._member_cache.move_to_end(term)
            return ent
        member = np.zeros(self.meta.id_space, dtype=bool)
        member[docs] = True
        rank = np.zeros(self.meta.id_space, dtype=np.int64)
        rank[docs] = np.arange(docs.size, dtype=np.int64)
        self._member_cache[term] = (member, rank)
        self._member_cache_bytes += member.nbytes + rank.nbytes
        while (
            self._member_cache_bytes > self._member_budget
            and len(self._member_cache) > 1
        ):
            _, (om, orr) = self._member_cache.popitem(last=False)
            self._member_cache_bytes -= om.nbytes + orr.nbytes
        return member, rank

    def _and_score(
        self,
        cand: np.ndarray,
        terms: list[str],
        by_df: list[str],
        rows: dict[str, TermPostings],
        idfs: dict[str, float],
        known: dict[str, tuple[np.ndarray, np.ndarray]] | None = None,
        avgdl: float | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Exact conjunctive BM25 for a sorted unique candidate docID array.
        Probes rarest-first so the survivor set shrinks fastest; float
        accumulation runs in SORTED term order (the oracle contract, see
        params.py). `known` provides (tf, dl) aligned with `cand` for terms
        the caller already decoded (the driving term's blocks)."""
        alive = cand
        tf_by: dict[str, np.ndarray] = {}
        dl: np.ndarray | None = None
        if known:
            for t, (tfv, dlv) in known.items():
                tf_by[t] = tfv
                dl = dlv
        for t in by_df:
            if known and t in known:
                continue
            mask, tfv, dlv = self._probe(rows[t], alive)
            if not mask.all():
                alive = alive[mask]
                for tt in tf_by:
                    tf_by[tt] = tf_by[tt][mask]
                if dl is not None:
                    dl = dl[mask]
            tf_by[t] = tfv
            if dl is None:
                dl = dlv
            if alive.size == 0:
                return alive, np.empty(0, dtype=np.float64)
        p = self.meta.params
        if avgdl is None:
            avgdl = self.meta.avgdl
        norm = p.k1 * (
            1.0 - p.b + p.b * (dl.astype(np.float64) / avgdl)
        )
        scores = np.zeros(alive.size, dtype=np.float64)
        for t in terms:  # sorted order — oracle-identical summation
            tf = tf_by[t].astype(np.float64)
            scores = scores + idfs[t] * (tf / (tf + norm))
        return alive, scores

    def _reader(self, seg: int) -> _SegmentReader | None:
        if seg not in self._readers:
            self._readers[seg] = _SegmentReader.open(self.meta.seg_dir(seg))
        return self._readers[seg]

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """term → document frequency (absent terms omitted) — the uniform
        coordinator stats RPC shared with MergedSearcher.term_dfs, so a
        sharded tier derives GLOBAL idfs the same way over static and live
        shards."""
        return {t: tp.df for t, tp in self.lookup_terms(terms).items()}

    def sig_fg_counts(
        self,
        matched: np.ndarray | None = None,
        terms: list[str] | None = None,
        matched_vb: bytes | None = None,
    ) -> dict[str, int]:
        """Foreground doc frequencies for significant-terms: for each
        candidate term, |posting ∩ matched| via one membership-mask
        gather (exact, O(df) per term). A worker-pool RPC — the sharded
        coordinator ships each shard its LOCAL matched set and the
        GLOBALLY-pruned candidate list, so the decode-heavy counting runs
        in the shard worker processes in parallel. `matched_vb` is the
        varbyte+delta-compressed form of the sorted matched ids (the
        posting codec): a dense head-query matched set crosses the RPC as
        ~1 byte/doc instead of 8 — the r6 tail's dominant transport cost."""
        if matched is None:
            from discogsography_spark.codec import delta_decode, varbyte_decode

            matched = delta_decode(varbyte_decode(matched_vb), prev=-1)
        rows = self.lookup_terms(sorted(terms))
        mask = np.zeros(self.meta.id_space, dtype=bool)
        mask[np.asarray(matched, dtype=np.int64)] = True
        fg: dict[str, int] = {}
        for i, (t, tp) in enumerate(rows.items()):
            if i % 64 == 0:
                self._budget_check()  # candidate-batch boundary
            docs = self._decoded_docs(tp)
            n = int(np.count_nonzero(mask[docs]))
            if n:
                fg[t] = n
        return fg

    @contextmanager
    def deadline(self, budget_ms: float | None):
        """Per-query time budget: evaluators called inside this context
        raise QueryBudgetExceeded once `budget_ms` elapses (checked at
        block/term/tier boundaries). None = no-op. Nested deadlines
        restore the outer one on exit. NOT thread-safe — one searcher
        serves one query at a time (the worker-pool deployment shape)."""
        if budget_ms is None:
            yield self
            return
        prev = self._deadline
        self._deadline = (time.monotonic() + budget_ms / 1000.0, budget_ms)
        try:
            yield self
        finally:
            self._deadline = prev

    def _budget_check(self) -> None:
        dl = self._deadline
        if dl is not None:
            now = time.monotonic()
            if now > dl[0]:
                raise QueryBudgetExceeded(
                    dl[1], dl[1] + (now - dl[0]) * 1000.0
                )

    def lookup_terms(self, terms: list[str]) -> dict[str, TermPostings]:
        """Segment-pruned, dictionary-indexed term row fetch
        (_fetch_term_rows), memoized per term (positive and negative) —
        repeated head-term queries skip the multi-MB blob copies."""
        self._budget_check()  # evaluator-entry boundary (all modes)
        out: dict[str, TermPostings] = {}
        todo: list[str] = []
        for t in terms:
            if t in self._tp_cache:
                tp = self._tp_cache[t]
                self._tp_cache.move_to_end(t)
                if tp is not None:
                    out[t] = tp
            else:
                todo.append(t)
        if not todo:
            return out
        found = _fetch_term_rows(self.meta, self._reader, todo, self._budget_check)
        for t in todo:
            tp = found.get(t)
            self._tp_cache[t] = tp
            if tp is not None:
                self._tp_cache_bytes += (
                    len(tp.doc_blob) + len(tp.tf_blob) + len(tp.dl_blob)
                )
                out[t] = tp
        while self._tp_cache_bytes > self._tp_budget and len(self._tp_cache) > 1:
            _, old = self._tp_cache.popitem(last=False)
            if old is not None:
                self._tp_cache_bytes -= (
                    len(old.doc_blob) + len(old.tf_blob) + len(old.dl_blob)
                )
        return out

    def topk(
        self,
        query_text: str,
        k: int,
        mode: str = "and",
        use_result_cache: bool = True,
        budget_ms: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Exact BM25 top-k. mode='and' (default): conjunctive, plainto_tsquery
        semantics; mode='or': disjunctive with max-score/block-max pruning.
        Returns [(doc_id, score)] ordered (score DESC, doc_id ASC).

        `use_result_cache=False` bypasses the query-result memo (but still
        uses the decoded-postings cache) — the steady-state-serving
        measurement mode. `budget_ms` caps evaluation wall-clock (raises
        QueryBudgetExceeded at a block/term boundary — the deadline()
        context, per call). `after=(score, doc_id)` is a search_after
        cursor: return the top-k STRICTLY after that (score DESC, doc ASC)
        position — page n+1 of the ranking with an O(k) pool regardless of
        depth (OFFSET pagination ranks to depth offset+k)."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk(
                    query_text, k, mode=mode,
                    use_result_cache=use_result_cache, after=after,
                )
        if k <= 0:
            return []
        terms = get_analyzer(self.meta.analyzer).analyze_query(query_text)
        key = (mode, tuple(terms), k, after)
        if use_result_cache:
            hit = self._result_cache.get(key)
            if hit is not None:
                self._result_cache.move_to_end(key)
                return list(hit)
        res = (
            self._topk_or(terms, k, after=after)
            if mode == "or"
            else self._topk_and(terms, k, after=after)
        )
        if use_result_cache:
            self._result_cache[key] = tuple(res)
            if len(self._result_cache) > self._result_cache_size:
                self._result_cache.popitem(last=False)
        return res

    def _topk_and(
        self,
        terms: list[str],
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """`idfs`/`avgdl` override the shard-local statistics — the sharded
        fan-out searcher injects GLOBAL corpus stats so per-shard scores are
        directly comparable (query/sharded.py). `after` filters to docs
        strictly after the cursor (search_after): scored candidates are
        masked BEFORE entering the θ pool, so θ becomes the k-th best
        ACCEPTED score and the block upper-bound pruning stays sound (a
        block with ub < θ cannot displace k accepted docs)."""
        if not terms:
            return []
        rows = self.lookup_terms(terms)
        if len(rows) != len(terms):
            return []  # AND semantics: any missing term → empty

        m = self.meta
        p = m.params
        if avgdl is None:
            avgdl = m.avgdl
        if idfs is None:
            idfs = {t: p.idf(m.n_docs, rows[t].df) for t in terms}

        # single-term fast path: rank is monotone in tfnorm, so the champion
        # list answers k ≤ |champions| EXACTLY without decoding the postings
        # (impact-ordered early termination — the reference's 4-7 ms Lucene
        # autocomplete design point). CAVEAT: the stored champion order
        # bakes in THIS index's avgdl; under an injected (sharded global)
        # avgdl the tf/dl trade-off shifts and that order is no longer the
        # score order — then the list is usable only when it covers the
        # whole posting list (exact re-score + re-sort), else fall through
        # to the full evaluation.
        if len(terms) == 1:
            tp = rows[terms[0]]
            local_stats = avgdl == m.avgdl
            full_cover = (
                tp.champ_doc is not None and tp.champ_doc.size == tp.df
            )
            if (
                tp.champ_doc is not None
                and tp.champ_doc.size
                and (
                    full_cover
                    or (
                        local_stats
                        and after is None
                        and k <= tp.champ_doc.size
                    )
                )
            ):
                tf = tp.champ_tf.astype(np.float64)
                norm = p.k1 * (
                    1.0 - p.b + p.b * (tp.champ_dl.astype(np.float64) / avgdl)
                )
                scores = idfs[terms[0]] * (tf / (tf + norm))
                docs = tp.champ_doc
                if after is not None:
                    # full_cover holds here: the cursor filter needs every
                    # posting in play (a champion PREFIX can be exhausted
                    # by pre-cursor docs), so the prefix case falls through
                    keep = _after_mask(
                        docs.astype(np.int64, copy=False), scores, after
                    )
                    docs, scores = docs[keep], scores[keep]
                elif local_stats:
                    # champions are already (tfnorm DESC, doc ASC) == final
                    return [
                        (int(d), float(s))
                        for d, s in zip(docs[:k], scores[:k])
                    ]
                order = np.lexsort((docs, -scores))[:k]
                return [
                    (int(docs[i]), float(scores[i])) for i in order
                ]

        # dense-intersection fast path: when EVERY term's postings cover
        # ≥ 1/64 of the corpus, the dense membership bitmaps exist (or are
        # one cheap build away) and block-max pruning is at its weakest —
        # flat impact, huge df, the measured worst case ("index query":
        # 824k ∧ 640k docs). One vectorized bitmap AND + exact scoring of
        # the intersection replaces the whole block machinery. Exact by
        # construction: every matching doc is scored, sorted-term order.
        if len(terms) >= 2 and all(rows[t].df * 64 >= m.id_space for t in terms):
            mask: np.ndarray | None = None
            aligned: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
            for t in terms:
                d, tfv, dlv = self._decoded(rows[t])
                member, rank = self._membership(t, d)
                mask = member.copy() if mask is None else (mask & member)
                aligned[t] = (rank, tfv, dlv)
            cand = np.flatnonzero(mask)
            if cand.size == 0:
                return []
            rank0, _tf0, dl0 = aligned[terms[0]]
            dl = dl0[rank0[cand]].astype(np.float64)
            k1, b = p.k1, p.b
            norm = k1 * (1.0 - b + b * (dl / avgdl))
            scores = np.zeros(cand.size, dtype=np.float64)
            for t in terms:  # sorted order — oracle-identical summation
                rank_t, tf_t, _dl_t = aligned[t]
                tf = tf_t[rank_t[cand]].astype(np.float64)
                scores = scores + idfs[t] * (tf / (tf + norm))
            if after is not None:
                keep = _after_mask(cand, scores, after)
                cand, scores = cand[keep], scores[keep]
                if cand.size == 0:
                    return []
            if cand.size > 4 * k:
                kth = np.partition(-scores, k - 1)[k - 1]
                sel = np.flatnonzero(-scores <= kth)
                cand, scores = cand[sel], scores[sel]
            top = np.lexsort((cand, -scores))[:k]
            return [(int(cand[i]), float(scores[i])) for i in top]

        # drive from the rarest term — AND candidates ⊆ its postings
        by_df = sorted(terms, key=lambda t: (rows[t].df, t))
        t0 = by_df[0]
        tp0 = rows[t0]
        others = by_df[1:]

        pool_d: list[np.ndarray] = []
        pool_s: list[np.ndarray] = []
        theta = -np.inf

        # 1. θ seed: exact conjunctive scores over the union of all terms'
        #    champion lists (each term's impact-ordered prefix). Champion
        #    docs are the likeliest high scorers, so θ starts near its final
        #    value and most blocks prune before any decode.
        champ_lists = [
            rows[t].champ_doc
            for t in terms
            if rows[t].champ_doc is not None and rows[t].champ_doc.size
        ]
        seeded = np.empty(0, dtype=np.int64)
        if champ_lists:
            cu = np.unique(np.concatenate(champ_lists))
            sd, ss = self._and_score(cu, terms, by_df, rows, idfs, avgdl=avgdl)
            # every seeded doc (matching or not) is excluded from block-phase
            # scoring below, so the pool holds each doc at most ONCE and the
            # θ refinement is over DISTINCT scores. With duplicates, the k-th
            # largest of the multiset can exceed the true k-th distinct score
            # and wrongly prune phase-1 blocks (dropped true rank-11..20 docs
            # at 132k docs / >1024 driving blocks).
            seeded = cu.astype(np.int64, copy=False)
            if after is not None and sd.size:
                # mask BEFORE pooling: θ must be the k-th ACCEPTED score
                # (`seeded` keeps the full union so no doc scores twice)
                keep = _after_mask(sd, ss, after)
                sd, ss = sd[keep], ss[keep]
            if sd.size:
                pool_d.append(sd)
                pool_s.append(ss)
                if ss.size >= k:
                    theta = float(-np.partition(-ss, k - 1)[k - 1])

        # 2. per-driving-block upper bounds: own block-max + each other
        #    term's range-max block-max over the overlapping docID span.
        #    Stored block maxes bake in the LOCAL avgdl; under a LARGER
        #    injected avgdl the true tfnorm grows, so scale the bound by
        #    avgdl_inj/avgdl_local (per-posting tfnorm ratio is provably
        #    ≤ that) and cap at 1.0 (tfnorm < 1 always) — pruning stays
        #    sound under sharded global statistics.
        bscale = 1.0 if avgdl <= m.avgdl else avgdl / m.avgdl
        nb0 = len(tp0.block_last_doc)
        ub = idfs[t0] * np.minimum(
            1.0, tp0.block_max_tfnorm.astype(np.float64) * bscale
        )
        first0 = np.concatenate(([0], tp0.block_last_doc[:-1] + 1))
        for t in others:
            tpt = rows[t]
            last = tpt.block_last_doc
            lo = np.searchsorted(last, first0, side="left")
            hi = np.searchsorted(last, tp0.block_last_doc, side="left")
            beyond = lo >= last.size  # block past t's postings → AND impossible
            lo = np.clip(lo, 0, last.size - 1)
            hi = np.clip(hi, lo, last.size - 1)
            tabs = _sparse_max_table(tpt.block_max_tfnorm)
            ub = ub + idfs[t] * np.minimum(
                1.0, _range_max(tabs, lo, hi) * bscale
            )
            ub[beyond] = -np.inf

        # 3. chunked impact-order traversal with θ refinement. The driving
        #    list (rarest term — the cheapest full decode of the query) is
        #    decoded once into the cache; chunk blocks then slice it with one
        #    vectorized positional gather, so ub-descending order costs no
        #    per-run decode fragmentation.
        d_full, tf_full, dl_full = self._decoded(tp0)
        B = m.block_size
        n0 = d_full.size
        order = np.argsort(-ub, kind="stable")
        if theta > -np.inf:
            order = order[ub[order] >= theta]
        # Two phases, not a long chunk loop: per-round probe/scoring carries
        # fixed numpy overhead, so one θ-refinement round over the
        # highest-bound blocks followed by one sweep of the survivors is
        # faster than many small rounds and prunes nearly as much (the
        # champion seed already starts θ near its final value).
        pool_n = sum(a.size for a in pool_d)
        cuts = sorted({min(_PHASE0_A, _PHASE0_BLOCKS), _PHASE0_BLOCKS})
        cuts = [c for c in cuts if c < order.size]
        phases = [
            order[a:b] for a, b in zip([0, *cuts], [*cuts, order.size])
        ]
        for i, sel in enumerate(phases):
            self._budget_check()  # block-phase boundary
            if i and theta > -np.inf:
                sel = sel[ub[sel] >= theta]
            if sel.size == 0:
                continue
            blocks = np.sort(sel)
            idx = (blocks[:, None] * B + np.arange(B)).ravel()
            idx = idx[idx < n0]
            cand = d_full[idx]
            cand_tf = tf_full[idx]
            cand_dl = dl_full[idx]
            if seeded.size:
                # drop docs already exactly scored by the champion seed —
                # keeps pool docs unique so θ is a distinct-score statistic
                pos = np.searchsorted(seeded, cand)
                pos = np.minimum(pos, seeded.size - 1)
                fresh = seeded[pos] != cand
                if not fresh.all():
                    cand = cand[fresh]
                    cand_tf = cand_tf[fresh]
                    cand_dl = cand_dl[fresh]
            if cand.size == 0:
                continue
            sd, ss = self._and_score(
                cand,
                terms,
                by_df,
                rows,
                idfs,
                known={t0: (cand_tf, cand_dl)},
                avgdl=avgdl,
            )
            if after is not None and sd.size:
                keep = _after_mask(sd, ss, after)
                sd, ss = sd[keep], ss[keep]
            if sd.size:
                pool_d.append(sd)
                pool_s.append(ss)
                pool_n += sd.size
                if pool_n >= k:
                    all_s = pool_s[0] if len(pool_s) == 1 else np.concatenate(pool_s)
                    theta = float(-np.partition(-all_s, k - 1)[k - 1])

        if not pool_d:
            return []
        d_all = np.concatenate(pool_d)
        s_all = np.concatenate(pool_s)
        # pool docs are unique by construction (seeded docs are excluded
        # from block scoring); the unique() is a cheap safety invariant
        d_all, first_idx = np.unique(d_all, return_index=True)
        s_all = s_all[first_idx]
        if d_all.size > 4 * k:
            # every doc scoring >= the kth score stays in play, so boundary
            # ties still resolve by the doc_id tiebreak — exact
            kth = np.partition(-s_all, k - 1)[k - 1]
            keep = np.flatnonzero(-s_all <= kth)
            d_all, s_all = d_all[keep], s_all[keep]
        top = np.lexsort((d_all, -s_all))[:k]
        return [(int(d_all[i]), float(s_all[i])) for i in top]

    def topk_synonym(
        self,
        query_text: str,
        k: int,
        synonyms: dict[str, list[str]],
        use_result_cache: bool = True,
        budget_ms: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Synonym-aware conjunctive BM25 — Lucene SynonymQuery semantics
        (the engine behind PG FTS synonym/thesaurus dictionaries: the
        reference's PostgreSQL `to_tsvector('english', ...)` GIN stack
        supports synonym dictionaries at analysis time,
        schema-init/postgres_schema.py:66-83; Lucene rewrites each analyzed
        query term plus its synonyms into ONE pseudo-term).

        Per query term, the synonym GROUP is the analyzed term plus the
        analyzed tokens of its `synonyms` entries. Group statistics follow
        SynonymQuery: docFreq = MAX over member dfs (not the union size —
        keeps idf stable when synonyms overlap), per-doc tf = SUM of member
        tfs. Scoring is then standard conjunctive BM25 over groups; a group
        with no member in the vocabulary empties the result (AND semantics,
        same as topk on an absent term). Returns [(doc_id, score)] ordered
        (score DESC, doc_id ASC).

        Exact evaluator: groups are merged posting unions (synonym sets are
        small by construction), so no pruning machinery is needed — the
        group-merge cost is the same term-decode cost topk_or pays.
        """
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_synonym(
                    query_text, k, synonyms,
                    use_result_cache=use_result_cache, after=after,
                )
        if k <= 0:
            return []
        analyzer = get_analyzer(self.meta.analyzer)
        base = analyzer.analyze_query(query_text)
        seen: set[str] = set()
        terms = [t for t in base if not (t in seen or seen.add(t))]
        if not terms:
            return []
        groups: list[tuple[str, list[str]]] = []
        for t in terms:
            mem = {t}
            for s in synonyms.get(t, ()):
                mem.update(analyzer.analyze_query(s))
            groups.append((t, sorted(mem)))
        # sorted-leader summation order — the same discipline every other
        # evaluator and the pure-Python oracle use (bit-identical scores)
        groups.sort(key=lambda g: g[0])
        key = ("syn", tuple((l, tuple(ms)) for l, ms in groups), k, after)
        if use_result_cache:
            hit = self._result_cache.get(key)
            if hit is not None:
                self._result_cache.move_to_end(key)
                return list(hit)
        res = self._topk_synonym_groups(groups, k, after=after)
        if use_result_cache:
            self._result_cache[key] = tuple(res)
            if len(self._result_cache) > self._result_cache_size:
                self._result_cache.popitem(last=False)
        return res

    def topk_boosted(
        self,
        query_text: str,
        k: int,
        mode: str = "and",
        use_result_cache: bool = True,
        budget_ms: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Per-term boosted BM25 — Lucene `clause^boost` query syntax
        (`spark^2 index^0.5 merge`; the reference's Lucene tier supports
        boosted clauses natively, and its PG tier weights tsvector ranks
        with setweight — schema-init/postgres_schema.py:66-83).

        A boost multiplies the term's idf, which scales that term's
        contribution linearly — exactly Lucene's boost semantics. The
        evaluation then rides the UNMODIFIED pruned evaluators via the
        stats-injection contract (`idfs=`), so every fast path (champion
        lists, dense bitmaps, block-max/WAND) stays engaged: champion
        order is tfnorm order, which a positive per-term scalar cannot
        change, and the OR-mode max-contribution bounds are computed FROM
        the injected idfs (the sharded global-stats machinery). All-1.0
        boosts are bit-identical to topk()."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_boosted(
                    query_text, k, mode=mode,
                    use_result_cache=use_result_cache, after=after,
                )
        if k <= 0:
            return []
        terms, boosts = parse_boosted_query(
            query_text, get_analyzer(self.meta.analyzer)
        )
        if not terms:
            return []
        key = (
            "boost", mode, tuple((t, boosts[t]) for t in terms), k, after
        )
        if use_result_cache:
            hit = self._result_cache.get(key)
            if hit is not None:
                self._result_cache.move_to_end(key)
                return list(hit)
        rows = self.lookup_terms(terms)
        if mode != "or" and len(rows) != len(terms):
            return []  # AND semantics: any missing term → empty
        m, p = self.meta, self.meta.params
        idfs = {
            t: boosts[t] * p.idf(m.n_docs, rows[t].df)
            for t in terms
            if t in rows
        }
        res = (
            self._topk_or(terms, k, idfs=idfs, after=after)
            if mode == "or"
            else self._topk_and(terms, k, idfs=idfs, after=after)
        )
        if use_result_cache:
            self._result_cache[key] = tuple(res)
            if len(self._result_cache) > self._result_cache_size:
                self._result_cache.popitem(last=False)
        return res

    def _synonym_group_relations(
        self,
        groups: list[tuple[str, list[str]]],
        idfs: dict[str, float] | None = None,
    ) -> list[tuple[float, np.ndarray, np.ndarray, np.ndarray]] | None:
        """Per-group merged relation [(idf, docs, group_tf, dl)] for a
        synonym query — the shared substrate of the matched-set derivation
        AND the ranking (the served path builds it ONCE; computing the
        matched set and then ranking used to decode and merge the same
        postings twice). None = some group has no member in the
        vocabulary (AND semantics: the whole query is empty)."""
        rows = self.lookup_terms(
            sorted({x for _, ms in groups for x in ms})
        )
        m = self.meta
        p = m.params
        merged: list[tuple[float, np.ndarray, np.ndarray, np.ndarray]] = []
        for leader, ms in groups:
            present = [x for x in ms if x in rows]
            if not present:
                return None
            if idfs is None:
                idf = p.idf(m.n_docs, max(rows[x].df for x in present))
            elif leader in idfs:
                idf = idfs[leader]
            else:
                return None  # group absent from the whole corpus
            if len(present) == 1:
                # postings are already (doc ASC, unique) — the sort/unique
                # merge is a no-op on a 1-member group, and head terms
                # were paying its O(df log df) for nothing (the dominant
                # cost of the served synonym tier at sf0.1)
                d, tf, dl = self._decoded(rows[present[0]])
                merged.append((idf, d, tf.astype(np.float64), dl))
                continue
            d_parts, tf_parts, dl_parts = [], [], []
            for x in present:
                d, tf, dl = self._decoded(rows[x])
                d_parts.append(d)
                tf_parts.append(tf)
                dl_parts.append(dl)
            d = np.concatenate(d_parts)
            tf = np.concatenate(tf_parts).astype(np.float64)
            if d.size * 8 >= m.id_space:
                # dense merge for head groups: one O(id_space) bincount
                # replaces the O(S log S) concat-sort (exact — per-doc
                # group tf is a sum of integer-valued float64 tfs, order
                # irrelevant; dl is identical across members of a doc)
                gtf_dense = np.bincount(d, weights=tf, minlength=m.id_space)
                uniq = np.flatnonzero(gtf_dense)
                dl_dense = np.zeros(m.id_space, dtype=dl_parts[0].dtype)
                for dd, dldd in zip(d_parts, dl_parts):
                    dl_dense[dd] = dldd
                merged.append(
                    (idf, uniq, gtf_dense[uniq], dl_dense[uniq])
                )
                continue
            dl = np.concatenate(dl_parts)
            order = np.argsort(d, kind="stable")
            d, tf, dl = d[order], tf[order], dl[order]
            uniq, start = np.unique(d, return_index=True)
            gtf = np.add.reduceat(tf, start)
            merged.append((idf, uniq, gtf, dl[start]))
        return merged

    def _synonym_dense(
        self,
        groups: list[tuple[str, list[str]]],
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
        restrict: np.ndarray | None = None,
    ) -> tuple[list[tuple[int, float]], np.ndarray] | None:
        """Dense-membership fast path for synonym groups — the `_topk_and`
        dense-intersection recipe lifted to groups: group bitmap = OR of
        (cached) member bitmaps, candidates = one vectorized AND, group tf
        gathered per member through the cached rank alignment. Applicable
        when EVERY member's postings cover ≥ 1/64 of the corpus (the same
        head-heavy regime where the general group merge pays an O(S log S)
        sort per query: measured 124 ms vs 15 ms for plain AND on the same
        terms at sf0.1). Exact — same formulas, sorted-leader summation,
        group tf a float64 sum of integer tfs (order-free).

        Returns (results, matched) where `matched` is the full conjunctive
        matched set BEFORE `restrict` (the served path's facet base), or
        None when not applicable (some member too rare — caller falls back
        to the general merge)."""
        rows = self.lookup_terms(
            sorted({x for _, ms in groups for x in ms})
        )
        m = self.meta
        p = m.params
        if avgdl is None:
            avgdl = m.avgdl
        empty = np.empty(0, dtype=np.int64)
        per_group: list[tuple[float, list[str]]] = []
        for leader, ms in groups:
            present = [x for x in ms if x in rows]
            if not present:
                return [], empty
            if not all(rows[x].df * 64 >= m.id_space for x in present):
                return None  # tail member — general path handles it
            if idfs is None:
                idf = p.idf(m.n_docs, max(rows[x].df for x in present))
            elif leader in idfs:
                idf = idfs[leader]
            else:
                return [], empty
            per_group.append((idf, present))
        mask: np.ndarray | None = None
        for _idf, present in per_group:
            gm: np.ndarray | None = None
            for x in present:
                member, _ = self._membership(x, self._decoded(rows[x])[0])
                if gm is None:
                    gm = member if len(present) == 1 else member.copy()
                else:
                    gm |= member
            mask = gm.copy() if mask is None else mask
            if mask is not gm:
                mask &= gm
        matched = np.flatnonzero(mask)
        cand = (
            matched
            if restrict is None
            else isect_sorted(matched, restrict)
        )
        if cand.size == 0:
            return [], matched
        # dl of each cand doc from ANY containing member of the first
        # group (a doc's length is member-independent)
        dlv = np.zeros(cand.size, dtype=np.float64)
        for x in per_group[0][1]:
            member, rank = self._membership(x, self._decoded(rows[x])[0])
            pres = member[cand]
            if pres.any():
                dl_x = self._decoded(rows[x])[2]
                dlv[pres] = dl_x[rank[cand[pres]]]
        norm = p.k1 * (1.0 - p.b + p.b * (dlv / avgdl))
        scores = np.zeros(cand.size, dtype=np.float64)
        for idf, present in per_group:  # sorted-leader summation order
            gtf = np.zeros(cand.size, dtype=np.float64)
            for x in present:
                member, rank = self._membership(x, self._decoded(rows[x])[0])
                pres = member[cand]
                if pres.any():
                    tf_x = self._decoded(rows[x])[1]
                    gtf[pres] += tf_x[rank[cand[pres]]]
            scores = scores + idf * (gtf / (gtf + norm))
        if after is not None:
            keep = _after_mask(cand, scores, after)
            cand, scores = cand[keep], scores[keep]
            if cand.size == 0:
                return [], matched
        if cand.size > 4 * k:
            kth = np.partition(-scores, k - 1)[k - 1]
            sel = np.flatnonzero(-scores <= kth)
            cand, scores = cand[sel], scores[sel]
        top = np.lexsort((cand, -scores))[:k]
        return (
            [(int(cand[i]), float(scores[i])) for i in top],
            matched,
        )

    def _topk_synonym_groups(
        self,
        groups: list[tuple[str, list[str]]],
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
        restrict: np.ndarray | None = None,
        relations: list | None = None,
        cand: np.ndarray | None = None,
    ) -> list[tuple[int, float]]:
        """Core synonym-group evaluator. `groups` = sorted
        [(leader, sorted members)]. `idfs` (keyed by leader) / `avgdl`
        override local statistics — the sharded fan-out injects GLOBAL group
        stats so per-shard scores are directly comparable (the same contract
        as _topk_and). `relations` reuses a prebuilt
        _synonym_group_relations result; `cand` supplies an
        already-derived candidate set (must be a sorted subset of the
        conjunctive intersection — the served path passes its matched
        set so the derivation isn't paid twice)."""
        m = self.meta
        p = m.params
        if avgdl is None:
            avgdl = m.avgdl
        if relations is None and cand is None:
            dense = self._synonym_dense(
                groups, k, idfs=idfs, avgdl=avgdl, after=after,
                restrict=restrict,
            )
            if dense is not None:
                return dense[0]
        merged = (
            relations
            if relations is not None
            else self._synonym_group_relations(groups, idfs=idfs)
        )
        if merged is None:
            return []
        if cand is None:
            # conjunctive candidate set: set ops are commutative (score
            # summation below keeps sorted-leader order) — drive from the
            # SMALLEST group relation, probing (not merging) head groups
            by_size = sorted(merged, key=lambda g: g[1].size)
            cand = by_size[0][1]
            if restrict is not None:
                # drill-down: scores depend only on per-doc group tf/dl,
                # so the restricted ranking scores equal the global ones
                cand = isect_sorted(cand, restrict)
            for _idf, d, _gtf, _gdl in by_size[1:]:
                cand = isect_sorted(cand, d)
                if cand.size == 0:
                    return []
        if cand.size == 0:
            return []
        norm: np.ndarray | None = None
        scores = np.zeros(cand.size, dtype=np.float64)
        for idf, d, gtf, gdl in merged:  # sorted-leader summation order
            pos = np.searchsorted(d, cand)
            if norm is None:
                dlv = gdl[pos].astype(np.float64)
                norm = p.k1 * (1.0 - p.b + p.b * (dlv / avgdl))
            tf = gtf[pos]
            scores = scores + idf * (tf / (tf + norm))
        if after is not None:
            keep = _after_mask(cand, scores, after)
            cand, scores = cand[keep], scores[keep]
        top = np.lexsort((cand, -scores))[:k]
        return [(int(cand[i]), float(scores[i])) for i in top]

    def expand_prefix(self, prefix: str, max_expansions: int = 64) -> list[str]:
        """Vocabulary terms starting with `prefix`, term-ASC, capped at
        `max_expansions` (Lucene's deterministic multi-term rewrite cap).
        The per-segment term dictionaries are sorted in memory, so each
        segment contributes one binary-searched contiguous range — the
        reference's autocomplete `term*` expansion
        (/root/reference/api/queries/neo4j_queries.py:28-39) without
        touching any posting blob. '{' is the smallest char above the
        analyzer alphabet [a-z0-9], so [prefix, prefix+'{') covers exactly
        the prefix range."""
        found: set[str] = set()
        hi_key = prefix + "{"
        for seg in range(self.meta.num_segments):
            rd = self._reader(seg)
            if rd is None:
                continue
            for terms in rd._terms:
                lo = int(np.searchsorted(terms, prefix, side="left"))
                hi = int(np.searchsorted(terms, hi_key, side="left"))
                if hi > lo:
                    found.update(terms[lo:hi].tolist())
        return sorted(found)[:max_expansions]

    def expand_prefixes(
        self, prefixes: list[str], max_expansions: int = 64
    ) -> dict[str, list[str]]:
        """Batched expand_prefix — one call answers every prefix (the
        sharded coordinator ships ONE RPC round per query instead of one
        per prefix node)."""
        return {p: self.expand_prefix(p, max_expansions) for p in prefixes}

    def expand_wildcard(
        self, pattern: str, max_expansions: int = 64
    ) -> list[str]:
        """Vocabulary terms matching a wildcard pattern (`*` = any run,
        `?` = one char), term-ASC, capped — Lucene's WildcardQuery
        deterministic rewrite cap; the reference stack's analog is
        pg_trgm-accelerated LIKE. The literal run before the first
        wildcard narrows each segment dictionary to one binary-searched
        range (a prefix pattern `lit*` degenerates to exactly
        expand_prefix's range); leading-wildcard patterns filter the whole
        dictionary — bounded by vocabulary size (Heaps' law), not corpus
        size, and per-shard at scale. No posting blob is touched."""
        from discogsography_spark.analysis import (
            wildcard_literal_prefix,
            wildcard_regex,
        )

        from discogsography_spark.query.fuzzy import like_trigrams

        rx = wildcard_regex(pattern)
        lit = wildcard_literal_prefix(pattern)
        if not lit:
            # leading wildcard: no dictionary range to narrow — probe the
            # trigram map instead of scanning the vocabulary (pg_trgm's
            # gin_trgm_ops LIKE strategy: every match must contain all
            # trigrams extractable from the pattern's literal runs), then
            # verify the candidates with the regex
            req = like_trigrams(pattern)
            if req:
                # the lazy trigram-index construction is a one-time cost
                # shared by every later leading-wildcard query; under a
                # budget it still counts as ONE bounded unit of work —
                # checks bracket it so an expired budget aborts before
                # the regex-verification sweep
                self._budget_check()
                tgx = self._vocab_trigram_index()
                self._budget_check()
                found = {
                    tgx.terms[i]
                    for i in tgx.probe_all(req).tolist()
                    if rx.fullmatch(tgx.terms[i])
                }
                return sorted(found)[:max_expansions]
        hi_key = lit + "{"
        found = set()
        for seg in range(self.meta.num_segments):
            self._budget_check()  # per-segment vocabulary-scan boundary
            rd = self._reader(seg)
            if rd is None:
                continue
            for terms in rd._terms:
                if lit:
                    lo = int(np.searchsorted(terms, lit, side="left"))
                    hi = int(np.searchsorted(terms, hi_key, side="left"))
                    cand = terms[lo:hi]
                else:
                    cand = terms
                found.update(t for t in cand.tolist() if rx.fullmatch(t))
        return sorted(found)[:max_expansions]

    def expand_wildcards(
        self, patterns: list[str], max_expansions: int = 64
    ) -> dict[str, list[str]]:
        """Batched expand_wildcard (one sharded-coordinator RPC round)."""
        return {p: self.expand_wildcard(p, max_expansions) for p in patterns}

    def expand_patterns(
        self, strings: list[str], max_expansions: int = 64
    ) -> dict[str, list[str]]:
        """Batched expansion for boolean expansion leaves of BOTH kinds:
        strings containing a wildcard char route to expand_wildcard, the
        rest to expand_prefix (prefix leaves store the bare string, wild
        leaves the pattern — disjoint key spaces, one map serves both)."""
        return {s: self.expand_pattern(s, max_expansions) for s in strings}

    def expand_pattern(self, s: str, max_expansions: int = 64) -> list[str]:
        """Single-string expansion dispatch: wildcard patterns route to
        expand_wildcard, bare strings to expand_prefix (is_wild_pattern is
        THE shared rule)."""
        from discogsography_spark.analysis import is_wild_pattern

        return (
            self.expand_wildcard(s, max_expansions)
            if is_wild_pattern(s)
            else self.expand_prefix(s, max_expansions)
        )

    def suggest_terms(
        self, word: str, k: int = 10, min_sim: float = 0.3
    ) -> list[tuple[str, float]]:
        """Fuzzy vocabulary suggestions (pg_trgm `%` / Lucene spellcheck):
        top-k dictionary terms by trigram similarity to `word`. The
        GIN-style trigram map over the term dictionaries is built once per
        searcher and probes only terms sharing a trigram with the query —
        see query/fuzzy.py."""
        return self._vocab_trigram_index().suggest(word, k=k, min_sim=min_sim)

    def _vocab_trigram_index(self):
        """Lazily-built GIN-style trigram map over the term dictionaries —
        shared by suggest_terms (pg_trgm `%`) and leading-wildcard
        expansion (pg_trgm-accelerated LIKE)."""
        if self._trigram_index is None:
            from discogsography_spark.query.fuzzy import TrigramVocabIndex

            vocab: set[str] = set()
            for seg in range(self.meta.num_segments):
                rd = self._reader(seg)
                if rd is None:
                    continue
                for terms in rd._terms:
                    vocab.update(terms.tolist())
            self._trigram_index = TrigramVocabIndex(sorted(vocab))
        return self._trigram_index

    def topk_fuzzy(
        self,
        query_text: str,
        k: int,
        min_sim: float = 0.3,
        mode: str = "and",
        budget_ms: float | None = None,
    ) -> tuple[list[tuple[int, float]], dict[str, str]]:
        """Did-you-mean search: analyzed terms ABSENT from the vocabulary are
        rewritten to their best trigram suggestion (≥ min_sim) before the
        normal AND/OR/boolean evaluation. Returns (results, rewrites) so the
        caller can surface 'showing results for …'. Terms with no suggestion
        stay as-is (AND then correctly returns empty). mode='bool' rewrites
        the PLAIN term leaves of the parsed AST (phrase/within/prefix nodes
        are exact-match requests and stay untouched — boolquery.py
        rewrite_fuzzy_terms). `budget_ms` caps evaluation wall-clock
        (QueryBudgetExceeded)."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_fuzzy(query_text, k, min_sim=min_sim, mode=mode)
        if mode == "bool":
            from discogsography_spark.query.boolquery import (
                parse_bool_query,
                rewrite_fuzzy_terms,
            )

            an = get_analyzer(self.meta.analyzer)
            ast = parse_bool_query(
                query_text, an.analyze_query, tokenize=an.tokenize_py
            )
            if ast is None or k <= 0:
                return [], {}

            def _suggest(t: str) -> str | None:
                sugg = self.suggest_terms(t, k=1, min_sim=min_sim)
                return sugg[0][0] if sugg else None

            fixed_ast, rewrites = rewrite_fuzzy_terms(
                ast,
                known=lambda t: bool(self.lookup_terms([t])),
                suggest=_suggest,
            )
            res = self.topk_bool(query_text, k, ast_override=fixed_ast)
            return res, rewrites
        terms = get_analyzer(self.meta.analyzer).analyze_query(query_text)
        if not terms or k <= 0:
            return [], {}
        rows = self.lookup_terms(terms)
        rewrites: dict[str, str] = {}
        fixed: list[str] = []
        for t in terms:
            if t in rows:
                fixed.append(t)
                continue
            sugg = self.suggest_terms(t, k=1, min_sim=min_sim)
            if sugg:
                rewrites[t] = sugg[0][0]
                fixed.append(sugg[0][0])
            else:
                fixed.append(t)
        uniq = sorted(set(fixed))
        res = self._topk_or(uniq, k) if mode == "or" else self._topk_and(uniq, k)
        return res, rewrites

    def _expand_bool_prefixes(self, ast, prefix_expansions=None):
        """Rewrite ('prefix', p) nodes to ORs of vocabulary expansions —
        locally via expand_prefix, or from a caller-supplied map (the
        sharded searcher injects GLOBAL expansions). None = no matches."""
        from discogsography_spark.query.boolquery import (
            BoolQueryError,
            expand_prefix_nodes,
            has_prefix_nodes,
        )

        if not has_prefix_nodes(ast):
            return ast
        if prefix_expansions is not None:
            expand = lambda p: prefix_expansions.get(p, [])  # noqa: E731
        else:
            # prefix leaves store the bare string, wild leaves the
            # pattern — disjoint, so one resolver serves both node kinds
            expand = lambda p: self.expand_pattern(p, 64)  # noqa: E731
        out = expand_prefix_nodes(ast, expand)
        if out == ("true",):  # defensive: vacuous forms are parse-rejected
            raise BoolQueryError("prefix expansion produced a match-all query")
        return out

    def _phrase_doc_set(self, ordered: list[str]) -> np.ndarray:
        """All docs containing the ordered terms CONSECUTIVELY (sorted docID
        array) — the phrase-node resolver for boolean queries. Same key
        chain as topk_phrase, without scoring or early termination (a
        boolean composition needs the full set anyway)."""
        empty = np.empty(0, dtype=np.int64)
        if not ordered:
            return empty
        terms = sorted(set(ordered))
        rows = self.lookup_terms(terms)
        if len(rows) != len(terms):
            return empty
        m = self.meta
        if len(terms) >= 2 and all(rows[t].df * 64 >= m.id_space for t in terms):
            mask = None
            for t in terms:
                d, _tf, _dl = self._decoded(rows[t])
                member, _rank = self._membership(t, d)
                mask = member.copy() if mask is None else (mask & member)
            cand = np.flatnonzero(mask)
        else:
            by_df = sorted(terms, key=lambda t: (rows[t].df, t))
            cand = self._decoded(rows[by_df[0]])[0]
            for t in by_df[1:]:
                mk, _t2, _d2 = self._probe(rows[t], cand)
                cand = cand[mk]
                if cand.size == 0:
                    break
        if cand.size == 0:
            return empty
        max_dl = max(int(self._decoded(rows[t])[2].max()) for t in terms)
        # +16 slack: pos + phrase-offset must not wrap into the next doc's
        # key space (same sizing rule as topk_phrase)
        shift = max(21, (max_dl + 16).bit_length())
        if m.id_space >= (1 << (63 - shift)):
            raise ValueError(
                f"phrase key packing overflow: n_docs={m.n_docs} with "
                f"{shift} position bits"
            )
        SHIFT = np.int64(shift)
        survivors = self._term_position_keys(rows[ordered[0]], np.sort(cand), SHIFT)
        for j, t in enumerate(ordered[1:], start=1):
            if survivors.size == 0:
                break
            alive = np.unique(survivors >> SHIFT)
            kj = self._term_position_keys(rows[t], alive, SHIFT)
            target = survivors + np.int64(j)
            posn = np.searchsorted(kj, target)
            ok = posn < kj.size
            hit = np.zeros(survivors.size, dtype=bool)
            hit[ok] = kj[posn[ok]] == target[ok]
            survivors = survivors[hit]
        return np.unique(survivors >> SHIFT)

    def _term_position_keys(
        self, tp: TermPostings, docs_sorted: np.ndarray, shift: np.int64
    ) -> np.ndarray:
        """Sorted (doc << shift | pos) keys for one term restricted to a
        sorted candidate-doc subset — the shared primitive of phrase
        adjacency and proximity verification.

        Indexes carrying the positional block directory (block_pos_off)
        decode ONLY the posting blocks containing candidate docs — a
        head-term verification touches O(candidates) blocks instead of the
        term's whole multi-10M-value stream. Pre-directory indexes (and
        terms whose full stream is already cached, or candidate sets dense
        enough that most blocks are needed anyway) take the full-stream
        path."""
        d_full, tf_full, _ = self._decoded(tp)
        pi = need = None
        use_full = tp.block_pos_off is None or tp.term in self._pos_cache
        if not use_full:
            voff = self._tf_offsets(tp)
            # a stream that fits comfortably in the cache budget decodes
            # ONCE into the pos-cache — every later call is an O(cand)
            # gather against it. The block path only wins when the full
            # stream would churn the budgeted LRU (sf1.0 head pairs:
            # ~30M-value streams vs the 32M budget). Controlled 8-shard
            # sweeps showed repeated block gathers LOSING 3-4x to
            # decode-once-then-cache at per-shard stream sizes (~4M).
            use_full = 4 * int(voff[-1]) <= self._dec_budget
        if not use_full:
            if docs_sorted.size == 0:
                return np.empty(0, dtype=np.int64)
            bs = self.meta.block_size
            pi = np.searchsorted(d_full, docs_sorted)
            need = np.unique(pi // bs)
            # dense coverage: decoding most blocks costs what the full
            # stream does — pay it once and let the pos-cache own it
            use_full = 2 * need.size >= tp.block_pos_off.size - 1
        if use_full:
            pos_flat, off = self._positions(tp)
            return _position_keys(
                d_full, tf_full, pos_flat, off, docs_sorted, shift
            )
        voff = self._tf_offsets(tp)
        segs = self._pos_blocks(tp, need, voff, bs)
        sizes = np.fromiter((s.size for s in segs), dtype=np.int64, count=len(segs))
        bounds = np.concatenate(([0], np.cumsum(sizes)))
        cat = np.concatenate(segs)
        # candidate posting → (needed-block ordinal, local offset in cat)
        bpos = np.searchsorted(need, pi // bs)
        local_start = voff[pi] - voff[need * bs][bpos] + bounds[:-1][bpos]
        lens = tf_full[pi]
        total = int(lens.sum())
        intra = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(lens)[:-1])), lens
        )
        flat_idx = np.repeat(local_start, lens) + intra
        flat_doc = np.repeat(docs_sorted, lens)
        return (flat_doc << shift) | cat[flat_idx]

    def _tf_offsets(self, tp: TermPostings) -> np.ndarray:
        """Per-posting flat value-index array (concatenate(([0], cumsum(tf))))
        — positions of posting i live at flat indices voff[i] : voff[i+1] in
        the term's positional stream. Cached: recomputing cost ~5 ms on head
        terms and every block-granular call needs it."""
        ent = self._tfoff_cache.get(tp.term)
        if ent is None:
            _, tf_full, _ = self._decoded(tp)
            ent = np.concatenate(([0], np.cumsum(tf_full)))
            self._tfoff_cache[tp.term] = ent
            self._tfoff_cache_n += ent.size
            while self._tfoff_cache_n > self._dec_budget and len(self._tfoff_cache) > 1:
                _, old = self._tfoff_cache.popitem(last=False)
                self._tfoff_cache_n -= old.size
        else:
            self._tfoff_cache.move_to_end(tp.term)
        return ent

    def _pos_blocks(
        self, tp: TermPostings, need: np.ndarray, voff: np.ndarray, bs: int
    ) -> list[np.ndarray]:
        """Decoded position arrays for the given sorted block indices,
        aligned with `need`. Cache misses are decoded in consecutive-block
        RUNS (positions are varbyte-encoded standalone, so any contiguous
        byte span decodes in one vectorized call) and split into per-block
        cache entries by value count."""
        out: list[np.ndarray | None] = [None] * need.size
        missing: list[int] = []
        for i, b in enumerate(need.tolist()):
            ent = self._pos_block_cache.get((tp.term, b))
            if ent is None:
                missing.append(i)
            else:
                self._pos_block_cache.move_to_end((tp.term, b))
                out[i] = ent
        if missing:
            mb = need[missing]
            off = tp.block_pos_off
            n = voff.size - 1  # posting count
            run_starts = np.flatnonzero(
                np.concatenate(([True], np.diff(mb) != 1))
            )
            run_ends = np.concatenate((run_starts[1:], [mb.size]))
            for rs, re_ in zip(run_starts, run_ends):
                b0, b1 = int(mb[rs]), int(mb[re_ - 1])
                vals = varbyte_decode(
                    tp.pos_blob[int(off[b0]) : int(off[b1 + 1])]
                ).astype(np.int64)
                # per-block value counts within the run → split points
                vstart = voff[np.minimum(np.arange(b0, b1 + 2) * bs, n)]
                for j, piece in enumerate(
                    np.split(vals, vstart[1:-1] - vstart[0])
                ):
                    out[missing[rs + j]] = piece
                    self._pos_block_cache[(tp.term, b0 + j)] = piece
                    self._pos_block_cache_n += piece.size
            while (
                self._pos_block_cache_n > self._dec_budget
                and len(self._pos_block_cache) > 1
            ):
                _, old = self._pos_block_cache.popitem(last=False)
                self._pos_block_cache_n -= old.size
        return out

    def _position_key_fn(
        self, rows: dict[str, TermPostings], terms: list[str]
    ):
        """keys(term, docs_sorted) for the lazy score-tier verifier.

        Terms WITHOUT the positional block directory have their decoded
        postings AND full position arrays captured in the closure ONCE per
        query: the verifier calls keys() per TIER, and going through the LRU
        caches would re-decode multi-MB position blobs on every tier
        whenever head-pair arrays exceed the cache byte budget (the exact
        2.3× worst-case regression lazy verification first shipped with).
        Directory-bearing terms skip the eager full decode entirely —
        per-tier work decodes only the blocks containing that tier's docs
        (_term_position_keys), so the churn risk the capture guards against
        does not arise."""
        dec = {t: self._decoded(rows[t]) for t in terms}
        full = {
            t: self._positions(rows[t])
            for t in terms
            if rows[t].block_pos_off is None or t in self._pos_cache
        }

        def keys(t: str, docs_sorted: np.ndarray, shift: np.int64) -> np.ndarray:
            ent = full.get(t)
            if ent is not None:
                d_full, tf_full, _ = dec[t]
                return _position_keys(
                    d_full, tf_full, ent[0], ent[1], docs_sorted, shift
                )
            return self._term_position_keys(rows[t], docs_sorted, shift)

        return keys

    def topk_within(
        self,
        word1: str,
        word2: str,
        window: int,
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        budget_ms: float | None = None,
    ) -> list[tuple[int, float]]:
        """Proximity top-k: documents where the two analyzed terms occur
        within `window` token positions of each other, in EITHER order —
        the tsquery `a <N> b` / Lucene sloppy-PhraseQuery family (window=1
        ≈ unordered adjacency). Ranked by conjunctive BM25 of the two terms
        (corpus-global stats, 5dp rounding — the phrase contract). Requires
        a positional index. Same-term proximity ("a", "a", w) matches docs
        with two occurrences ≤ w apart. `idfs`/`avgdl` inject GLOBAL corpus
        stats (the sharded fan-out, query/sharded.py)."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_within(
                    word1, word2, window, k, idfs=idfs, avgdl=avgdl
                )
        an = get_analyzer(self.meta.analyzer)
        ts1 = an.analyze_query(word1)
        ts2 = an.analyze_query(word2)
        if not ts1 or not ts2 or k <= 0:
            return []
        if window < 1:
            raise ValueError(f"window must be ≥ 1, got {window}")
        t1, t2 = ts1[0], ts2[0]
        terms = sorted({t1, t2})
        rows = self.lookup_terms(terms)
        if len(rows) != len(terms):
            return []
        m, p = self.meta, self.meta.params
        if idfs is None:
            idfs = {t: p.idf(m.n_docs, rows[t].df) for t in terms}

        # Score ALL conjunctive candidates (O(C) flops — proximity ⊆ AND,
        # scores are window-independent), then verify the position windows
        # lazily in score-tier order (_lazy_verified_topk) — the same
        # recipe that took phrase head-pairs from ~550 ms to ~25 ms. The
        # full-candidate fold remains as _within_doc_set_analyzed for the
        # boolean within-node resolver, which needs the whole matched set.
        cand = self._within_candidates((t1, t2), rows)
        if cand.size == 0:
            return []
        by_df = sorted(terms, key=lambda t: (rows[t].df, t))
        sd, ss = self._and_score(cand, terms, by_df, rows, idfs, avgdl=avgdl)
        ss = np.round(ss, 5)
        verify = self._within_verifier((t1, t2), (window,), rows)
        return _lazy_verified_topk(sd, ss, verify, k, check=self._budget_check)

    def _within_doc_set(
        self, chain: tuple[str, ...], windows: tuple[int, ...]
    ) -> np.ndarray:
        """Sorted docIDs admitting chain occurrences p1..pn of the ANALYZED
        terms with |p_{i+1} − p_i| ≤ windows[i] per link (either direction;
        adjacent equal terms need distinct occurrences) — the within-node
        resolver for boolean queries (boolquery.py
        ('within', (t1, …), (N1, …)))."""
        terms = sorted(set(chain))
        rows = self.lookup_terms(terms)
        if len(rows) != len(terms):
            return np.empty(0, dtype=np.int64)
        return self._within_doc_set_analyzed(tuple(chain), tuple(windows), rows)

    def _within_doc_set_analyzed(
        self,
        chain: tuple[str, ...],
        windows: tuple[int, ...],
        rows: dict[str, TermPostings],
    ) -> np.ndarray:
        """Matched-set computation shared by topk_within and the boolean
        within-node resolver: conjunctive candidates (tf ≥ 2 for terms with
        an adjacent equal repeat), then a vectorized left-fold over
        position keys — alive_{i+1} = occurrences of chain[i+1] with an
        alive chain[i] occurrence within windows[i]. Constraints form a
        path, so arc consistency is global consistency: any surviving
        final-slot occurrence certifies a full chain."""
        cand = self._within_candidates(chain, rows)
        if cand.size == 0:
            return np.empty(0, dtype=np.int64)
        return self._within_verifier(chain, windows, rows)(cand)

    def _within_candidates(
        self, chain: tuple[str, ...], rows: dict[str, TermPostings]
    ) -> np.ndarray:
        """Sorted conjunctive candidate docIDs for a proximity chain:
        every chain term present; terms with an adjacent equal repeat need
        tf ≥ 2 (a link requires a DISTINCT neighboring occurrence)."""
        terms = sorted(set(chain))
        need2 = {
            chain[i] for i in range(len(chain) - 1) if chain[i] == chain[i + 1]
        }
        by_df = sorted(terms, key=lambda t: (rows[t].df, t))
        t0 = by_df[0]
        d, tfv, _dl = self._decoded(rows[t0])
        cand = d[tfv >= 2] if t0 in need2 else d
        for t in by_df[1:]:
            mask, tfh, _dlh = self._probe(rows[t], cand)
            cand = cand[mask]
            if t in need2:
                cand = cand[tfh >= 2]
        return np.sort(cand)

    def _within_verifier(
        self,
        chain: tuple[str, ...],
        windows: tuple[int, ...],
        rows: dict[str, TermPostings],
    ):
        """Returns verify(docs_sorted) -> sorted subset admitting the chain
        (position-key fold restricted to docs_sorted) — the lazy-verify
        callback for _lazy_verified_topk. Key shift/span are computed once
        per query from the terms' max doc length."""
        terms = sorted(set(chain))
        m = self.meta
        dls = np.concatenate(
            [self._decoded(rows[t])[2] for t in terms]
        )
        max_dl = int(dls.max()) if dls.size else 1
        shift = max(21, max_dl.bit_length())
        if m.id_space >= (1 << (63 - shift)):
            raise ValueError(
                f"proximity key packing overflow: n_docs={m.n_docs} with "
                f"{shift} position bits"
            )
        SHIFT = np.int64(shift)
        span = np.int64(1 << shift)
        key_fn = self._position_key_fn(rows, terms)

        def verify(docs_sorted: np.ndarray) -> np.ndarray:
            keys = {t: key_fn(t, docs_sorted, SHIFT) for t in terms}
            return _chain_fold_keys(chain, windows, keys, SHIFT, span)

        return verify

    def _positions(self, tp: TermPostings) -> tuple[np.ndarray, np.ndarray]:
        """(flat positions, per-posting offset array) for one term, cached
        together. Offsets are concatenate(([0], cumsum(tf))) — recomputing
        them per query cost ~5 ms on head terms. Requires an index built
        with with_positions=True."""
        if not tp.pos_blob:
            raise ValueError(
                f"term {tp.term!r} has no positional postings — build the "
                "index with IndexBuilder(with_positions=True) for phrase queries"
            )
        ent = self._pos_cache.get(tp.term)
        if ent is None:
            flat = varbyte_decode(tp.pos_blob).astype(np.int64)
            ent = (flat, self._tf_offsets(tp))
            self._pos_cache[tp.term] = ent
            self._pos_cache_n += ent[0].size + ent[1].size
            while self._pos_cache_n > self._dec_budget and len(self._pos_cache) > 1:
                _, old = self._pos_cache.popitem(last=False)
                self._pos_cache_n -= old[0].size + old[1].size
        else:
            self._pos_cache.move_to_end(tp.term)
        return ent

    def topk_phrase(
        self,
        phrase: str,
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        budget_ms: float | None = None,
    ) -> list[tuple[int, float]]:
        """Exact-phrase top-k over a positional index — Lucene PhraseQuery
        with BM25 similarity, the serving-path mirror of
        bm25_phrase_topk_dataframe (identical semantics + 5dp rounding):
        candidates must contain the analyzed tokens CONSECUTIVELY; scores
        use corpus-global stats over the phrase's distinct terms.

        Fully vectorized adjacency: each term's (doc, position) pairs become
        sorted int64 keys (doc << 21 | pos); phrase starts survive j terms
        iff key+j exists in term j's key set — one searchsorted per term."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_phrase(phrase, k, idfs=idfs, avgdl=avgdl)
        an = get_analyzer(self.meta.analyzer)
        ordered = an.tokenize_py(phrase)
        terms = sorted(set(ordered))
        if not ordered or k <= 0:
            return []
        rows = self.lookup_terms(terms)
        if len(rows) != len(terms):
            return []
        m, p = self.meta, self.meta.params
        if avgdl is None:
            avgdl = m.avgdl
        if idfs is None:
            idfs = {t: p.idf(m.n_docs, rows[t].df) for t in terms}

        # conjunctive candidate set (phrase ⊆ AND) — the driving term's tf
        # rides the decode; only the other terms are probed. All-head-term
        # phrases take the same dense bitmap intersection as _topk_and
        # (tf/dl realign through the dense rank arrays).
        by_df = sorted(terms, key=lambda t: (rows[t].df, t))
        if len(terms) >= 2 and all(rows[t].df * 64 >= m.id_space for t in terms):
            mask = None
            dense: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
            for t in terms:
                d, tfv, dlv = self._decoded(rows[t])
                member, rank = self._membership(t, d)
                mask = member.copy() if mask is None else (mask & member)
                dense[t] = (rank, tfv, dlv)
            cand = np.flatnonzero(mask)
            if cand.size == 0:
                return []
            r0, _tf0, dlv0 = dense[by_df[0]]
            dl0 = dlv0[r0[cand]]
            tf_by = {
                t: dense[t][1][dense[t][0][cand]] for t in terms
            }
        else:
            cand, tf0, dl0 = self._decoded(rows[by_df[0]])
            tf_by = {by_df[0]: tf0}
            for t in by_df[1:]:
                mask2, tfv, dlv = self._probe(rows[t], cand)
                if not mask2.all():
                    cand = cand[mask2]
                    dl0 = dl0[mask2]
                    for tt in tf_by:
                        tf_by[tt] = tf_by[tt][mask2]
                tf_by[t] = tfv
                if cand.size == 0:
                    return []

        # (doc << SHIFT | pos) keys per term for a sorted doc subset. The
        # position field is sized from the LONGEST candidate doc (positions
        # < dl), not a fixed 21 bits — a >2M-token doc would otherwise
        # silently corrupt adjacency keys. If docIDs don't fit the remaining
        # bits, fail loudly rather than return wrong phrase matches.
        max_dl = int(dl0.max()) if dl0.size else 1
        # +16 slack: a candidate start near the end of a max-length doc must
        # not wrap (doc<<shift|pos)+j into the next doc's key space
        shift = max(21, (max_dl + 16).bit_length())
        if m.id_space >= (1 << (63 - shift)):
            raise ValueError(
                f"phrase key packing overflow: n_docs={m.n_docs} needs more "
                f"than {63 - shift} bits alongside {shift} position bits "
                f"(max candidate dl {max_dl}); cannot pack (doc<<shift|pos) "
                "into int64"
            )
        SHIFT = np.int64(shift)

        key_fn = self._position_key_fn(rows, terms)

        def term_keys(t: str, docs_sorted: np.ndarray) -> np.ndarray:
            return key_fn(t, docs_sorted, SHIFT)

        def phrase_docs(docs_sorted: np.ndarray) -> np.ndarray:
            """Subset of docs_sorted containing the phrase (sorted)."""
            survivors = term_keys(ordered[0], docs_sorted)
            for j, t in enumerate(ordered[1:], start=1):
                if survivors.size == 0:
                    return survivors
                # restrict the next term's keys to docs still alive
                alive = np.unique(survivors >> SHIFT)
                kj = term_keys(t, alive)
                target = survivors + np.int64(j)
                pos = np.searchsorted(kj, target)
                ok = pos < kj.size
                hit = np.zeros(survivors.size, dtype=bool)
                hit[ok] = kj[pos[ok]] == target[ok]
                survivors = survivors[hit]
            return np.unique(survivors >> SHIFT)

        # Scores are phrase-independent BM25 of the terms: score ALL
        # candidates (O(C) flops — cheap), then verify adjacency lazily in
        # score-tier order (_lazy_verified_topk). Head-pair phrases stop in
        # the first tier: ~25 ms where score-everything + lexsort + chunked
        # verify took 97-138 ms and verify-everything took ~550 ms.
        norm = p.k1 * (1.0 - p.b + p.b * (dl0.astype(np.float64) / avgdl))
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in terms:  # sorted order — DataFrame-mirror summation
            tf = tf_by[t].astype(np.float64)
            scores = scores + idfs[t] * (tf / (tf + norm))
        scores = np.round(scores, 5)
        return _lazy_verified_topk(cand, scores, phrase_docs, k, check=self._budget_check)

    def topk_prefix(
        self,
        query_text: str,
        k: int,
        max_expansions: int = 64,
        budget_ms: float | None = None,
    ) -> list[tuple[int, float]]:
        """Autocomplete prefix BM25 top-k over the index. Semantics shared
        verbatim with bm25_prefix_topk_dataframe (and its DuckDB oracle):
        every analyzed token is a prefix; a doc must match EVERY prefix;
        score = sum of idf*tfnorm over the DISTINCT matched expanded terms,
        rounded to 5dp; ties (score DESC, doc_id ASC).

        Prefixes are NOT stemmed regardless of the index analyzer — they are
        partial words (Lucene's multi-term queries skip analysis the same
        way); expansion runs against the stored (possibly stemmed)
        dictionary. Results are memoized: autocomplete traffic repeats the
        same short prefixes heavily, the reference's Redis design point."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_prefix(query_text, k, max_expansions)
        prefixes = analyze_query(query_text)
        if not prefixes:
            return []
        key = ("prefix", tuple(prefixes), k, max_expansions)
        hit = self._result_cache.get(key)
        if hit is not None:
            self._result_cache.move_to_end(key)
            return list(hit)
        res = self._topk_prefix_uncached(prefixes, k, max_expansions)
        self._result_cache[key] = tuple(res)
        if len(self._result_cache) > self._result_cache_size:
            self._result_cache.popitem(last=False)
        return res

    def topk_wildcard(
        self,
        query_text: str,
        k: int,
        max_expansions: int = 64,
        budget_ms: float | None = None,
    ) -> list[tuple[int, float]]:
        """Wildcard term-match BM25 top-k (`te*m`, `ind?x`, `*fix`) — the
        Lucene WildcardQuery / pg_trgm LIKE surface. Every pattern expands
        against the stored vocabulary (expand_wildcard's term-ASC cap); a
        doc must match EVERY pattern; scoring is the distinct-union-term
        evaluator shared verbatim with topk_prefix (a prefix is the special
        case `lit*`) and the DuckDB oracle. Memoized like topk_prefix."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_wildcard(query_text, k, max_expansions)
        from discogsography_spark.analysis import parse_wildcard_query

        patterns = parse_wildcard_query(query_text)
        if not patterns or k <= 0:
            return []
        key = ("wild", tuple(patterns), k, max_expansions)
        hit = self._result_cache.get(key)
        if hit is not None:
            self._result_cache.move_to_end(key)
            return list(hit)
        exp = self.expand_wildcards(patterns, max_expansions)
        res = self._topk_prefix_uncached(patterns, k, max_expansions, exp=exp)
        self._result_cache[key] = tuple(res)
        if len(self._result_cache) > self._result_cache_size:
            self._result_cache.popitem(last=False)
        return res

    def _topk_prefix_uncached(
        self,
        prefixes: list[str],
        k: int,
        max_expansions: int,
        exp: dict[str, list[str]] | None = None,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
    ) -> list[tuple[int, float]]:
        if exp is None:
            exp = {pre: self.expand_prefix(pre, max_expansions) for pre in prefixes}
        if any(not ts for ts in exp.values()):
            return []  # conjunctive across prefixes: an empty expansion fails
        union_terms = sorted({t for ts in exp.values() for t in ts})
        if all(len(ts) == 1 for ts in exp.values()):
            # every pattern resolved to ONE vocabulary term: distinct-union
            # scoring degenerates to plain conjunctive BM25 — delegate to
            # the block-max WAND evaluator instead of full posting decode
            # (a 2-head-term wildcard at 12M docs: 13.0 s of head-list
            # decode -> the plain AND cost)
            hits = _rounded_and_topk(self._topk_and, union_terms, k, idfs, avgdl)
            if hits is not None:
                return hits
            # giant 5dp tie plateau: exact general path below
        rows = self.lookup_terms(union_terms)
        m, p = self.meta, self.meta.params
        if avgdl is None:
            avgdl = m.avgdl

        # candidates: docs matching at least one expansion of EVERY prefix
        pres: np.ndarray | None = None
        for pre in prefixes:
            arrs = [
                self._decoded(rows[t])[0] for t in exp[pre] if t in rows
            ]
            if not arrs:
                return []
            pu = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
            pres = pu if pres is None else np.intersect1d(pres, pu, assume_unique=True)
            if pres.size == 0:
                return []

        # distinct-union-term scoring, term-sorted accumulation per doc
        scores = np.zeros(pres.size, dtype=np.float64)
        for t in union_terms:
            tp = rows.get(t)
            if tp is None:
                continue
            mask, tfv, dlv = self._probe(tp, pres)
            if not mask.any():
                continue
            idf = idfs[t] if idfs is not None else p.idf(m.n_docs, tp.df)
            tf = tfv.astype(np.float64)
            norm = p.k1 * (
                1.0 - p.b + p.b * (dlv.astype(np.float64) / avgdl)
            )
            scores[mask] = scores[mask] + idf * (tf / (tf + norm))
        scores = np.round(scores, 5)
        order = np.lexsort((pres, -scores))[:k]
        return [(int(pres[i]), float(scores[i])) for i in order]

    def _topk_or(
        self,
        terms: list[str],
        k: int,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Disjunctive BM25 top-k with max-score pruning over block-max
        metadata (the WAND family):

        1. seed a threshold θ from champion lists — each champion doc's exact
           partial contribution is a LOWER bound of its true OR score;
        2. split terms into essential/non-essential by descending max
           contribution: a maximal suffix whose summed max contributions stay
           strictly below θ cannot, even best-case, lift a doc that appears
           ONLY there into the top-k (strict < keeps doc_id tie candidates);
        3. candidates = union of ESSENTIAL postings only — the pruning win:
           a 1M-posting head term that lands non-essential is never decoded
           in full, only block-skip probed for the candidates;
        4. exact scoring in sorted-term order (absent term adds nothing —
           float-identical to the oracle's skip).
        """
        if not terms:
            return []
        rows = self.lookup_terms(terms)
        present = sorted(t for t in terms if t in rows)
        if not present:
            return []
        if len(present) == 1:
            # degenerate OR = single-term ranking — identical scores, and
            # _topk_and's champion fast path answers it without decoding
            # the posting list (the `head OR absent-term` worst case was
            # a full-list score: 306 ms → sub-ms)
            return self._topk_and(
                present, k, idfs=idfs, avgdl=avgdl, after=after
            )
        m, p = self.meta, self.meta.params
        k1, b = p.k1, p.b
        if avgdl is None:
            avgdl = m.avgdl
        if idfs is None:
            idfs = {t: p.idf(m.n_docs, rows[t].df) for t in present}
        # stored maxes bake in LOCAL avgdl — scale up under a larger
        # injected avgdl so essential-list pruning stays an upper bound
        # (same soundness rule as _topk_and's block bounds)
        bscale = 1.0 if avgdl <= m.avgdl else avgdl / m.avgdl
        maxcontrib = {
            t: idfs[t] * min(1.0, float(rows[t].block_max_tfnorm.max()) * bscale)
            for t in present
        }

        # 1. θ from champion partials (exact lower bounds)
        theta = -np.inf
        if after is None:
            champ_scores: dict[int, float] = {}
            for t in present:
                tp = rows[t]
                if tp.champ_doc is None or tp.champ_doc.size == 0:
                    continue
                tf = tp.champ_tf.astype(np.float64)
                norm = k1 * (
                    1.0 - b + b * (tp.champ_dl.astype(np.float64) / avgdl)
                )
                contrib = idfs[t] * (tf / (tf + norm))
                for d, c in zip(tp.champ_doc, contrib):
                    champ_scores[int(d)] = (
                        champ_scores.get(int(d), 0.0) + float(c)
                    )
            if len(champ_scores) >= k:
                theta = sorted(champ_scores.values(), reverse=True)[k - 1]
        else:
            # cursor page: a champion PARTIAL lower bound says nothing about
            # cursor acceptance (the doc's TRUE score may sit before the
            # cursor), so seed θ with EXACT scores over the champion union —
            # same probe kernel and sorted-term summation order as step 4,
            # so the acceptance test sees bit-identical floats — and take
            # the k-th best ACCEPTED score
            champ_lists = [
                rows[t].champ_doc
                for t in present
                if rows[t].champ_doc is not None and rows[t].champ_doc.size
            ]
            if champ_lists:
                cu = np.unique(np.concatenate(champ_lists))
                su = np.zeros(cu.size, dtype=np.float64)
                for t in present:  # sorted order — fixed summation order
                    mask0, tfv0, dlv0 = self._probe(rows[t], cu)
                    hit0 = np.flatnonzero(mask0)
                    if hit0.size == 0:
                        continue
                    tf0 = tfv0.astype(np.float64)
                    norm0 = k1 * (
                        1.0 - b + b * (dlv0.astype(np.float64) / avgdl)
                    )
                    su[hit0] = su[hit0] + idfs[t] * (tf0 / (tf0 + norm0))
                acc = su[
                    _after_mask(cu.astype(np.int64, copy=False), su, after)
                ]
                if acc.size >= k:
                    theta = float(-np.partition(-acc, k - 1)[k - 1])

        # 2. essential prefix under (maxcontrib DESC, term ASC)
        by_contrib = sorted(present, key=lambda t: (-maxcontrib[t], t))
        essential = list(by_contrib)
        tail_sum = 0.0
        for t in reversed(by_contrib):
            if len(essential) == 1:
                break
            if tail_sum + maxcontrib[t] < theta:
                tail_sum += maxcontrib[t]
                essential.pop()
            else:
                break

        # 3. candidate union from essential lists (decoded-postings cache)
        cand = np.unique(
            np.concatenate([self._decoded(rows[t])[0] for t in essential])
        )
        if cand.size == 0:
            return []

        # 4. exact scoring, sorted-term accumulation (probes hit the
        #    decoded-postings cache for the essential lists)
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in present:
            self._budget_check()  # term-probe boundary
            mask, tfv, dlv = self._probe(rows[t], cand)
            hit = np.flatnonzero(mask)
            if hit.size == 0:
                continue
            tf = tfv.astype(np.float64)
            dl = dlv.astype(np.float64)
            norm = k1 * (1.0 - b + b * (dl / avgdl))
            scores[hit] = scores[hit] + idfs[t] * (tf / (tf + norm))

        if after is not None:
            keep = _after_mask(cand, scores, after)
            cand, scores = cand[keep], scores[keep]
            if cand.size == 0:
                return []
        if cand.size > 4 * k:
            kth = np.partition(-scores, k - 1)[k - 1]
            sel = np.flatnonzero(-scores <= kth)
        else:
            sel = np.arange(cand.size)
        sub_docs, sub_scores = cand[sel], scores[sel]
        order = np.lexsort((sub_docs, -sub_scores))[:k]
        return [(int(sub_docs[i]), float(sub_scores[i])) for i in order]

    def topk_bool(
        self,
        query_text: str,
        k: int,
        use_result_cache: bool = True,
        idfs: dict[str, float] | None = None,
        avgdl: float | None = None,
        prefix_expansions: dict[str, list[str]] | None = None,
        ast_override=None,
        budget_ms: float | None = None,
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        """Boolean AND/OR/NOT BM25 top-k (`to_tsquery` / Lucene BooleanQuery
        semantics — see boolquery.py for the grammar and scoring contract;
        phrase and within/proximity nodes resolve over the positional
        index).

        Candidate resolution is pure sorted-array set algebra over decoded
        posting docID arrays; NOT never materializes a complement — the
        algebra carries an `is_complement` flag and the parser's
        pure-negation rejection guarantees the root resolves positive. Docs
        are then scored over the positive-polarity terms with the same
        probe/accumulate kernel as OR mode. `ast_override` supplies an
        already-parsed (possibly rewritten) AST — the did-you-mean path and
        the sharded coordinator's fuzzy fan-out."""
        if budget_ms is not None:
            with self.deadline(budget_ms):
                return self.topk_bool(
                    query_text, k, use_result_cache=use_result_cache,
                    idfs=idfs, avgdl=avgdl,
                    prefix_expansions=prefix_expansions,
                    ast_override=ast_override, after=after,
                )
        from discogsography_spark.query.boolquery import (
            all_terms,
            eval_docsets,
            parse_bool_query,
            polarity_terms,
        )

        if k <= 0:
            return []
        if ast_override is not None:
            ast = ast_override
        else:
            analyzer = get_analyzer(self.meta.analyzer)
            ast = parse_bool_query(
                query_text, analyzer.analyze_query, tokenize=analyzer.tokenize_py
            )
        if ast is None:
            return []
        ast = self._expand_bool_prefixes(ast, prefix_expansions)
        if ast is None:
            return []
        # stat overrides come from a sharded caller whose constants differ
        # from the shard-local ones — never mix those results into the memo
        use_result_cache = (
            use_result_cache and idfs is None and avgdl is None
            and prefix_expansions is None
        )
        key = ("bool", ast, k, after)
        if use_result_cache:
            hit = self._result_cache.get(key)
            if hit is not None:
                self._result_cache.move_to_end(key)
                return list(hit)

        from discogsography_spark.query.boolquery import (
            BoolQueryError,
            has_positional_nodes,
            simplify_for_eval,
        )

        # simplify against the vocabulary BEFORE choosing an evaluation
        # plan: absent leaves are empty sets, `NOT absent` is always-true —
        # `spark AND NOT zzz` collapses to the term `spark` and takes the
        # champion fast path instead of scoring the full posting list.
        # Results are unchanged by construction: simplify_for_eval falls
        # back to the original AST whenever a PRESENT positive term would
        # leave the scoring set (dead-branch case).
        known = self.lookup_terms(all_terms(ast))
        ast = simplify_for_eval(ast, known.__contains__)
        if ast is None:
            if use_result_cache:
                self._result_cache[key] = ()
                if len(self._result_cache) > self._result_cache_size:
                    self._result_cache.popitem(last=False)
            return []
        if ast == ("true",):  # unreachable: parser rejects vacuous forms
            raise BoolQueryError("query simplified to match-all")

        pos_terms, neg_terms = polarity_terms(ast)
        terms = sorted(set(pos_terms) | set(neg_terms))
        with_phrases = has_positional_nodes(ast)

        # flat conjunctions/disjunctions of plain terms ARE the dedicated
        # modes — delegate to their pruned evaluators (champion-seeded
        # block-max AND; max-score essential-list OR) instead of scoring
        # the full candidate set. Equality is pinned by
        # test_topk_bool_equals_and_or_modes.
        def _flat(kind: str) -> bool:
            if ast[0] == "term":
                return True
            return ast[0] == kind and all(c[0] == "term" for c in ast[1])

        if not with_phrases and not neg_terms and _flat("and"):
            res = self._topk_and(
                terms, k, idfs=idfs, avgdl=avgdl, after=after
            )
            if use_result_cache:
                self._result_cache[key] = tuple(res)
                if len(self._result_cache) > self._result_cache_size:
                    self._result_cache.popitem(last=False)
            return res
        if not with_phrases and not neg_terms and _flat("or"):
            res = self._topk_or(
                terms, k, idfs=idfs, avgdl=avgdl, after=after
            )
            if use_result_cache:
                self._result_cache[key] = tuple(res)
                if len(self._result_cache) > self._result_cache_size:
                    self._result_cache.popitem(last=False)
            return res

        rows = self.lookup_terms(terms)
        empty = np.empty(0, dtype=np.int64)

        # dense bitmap fast path: when every PRESENT term covers ≥ 1/64 of
        # the corpus, evaluate the whole predicate as vectorized bitmap
        # algebra (absent terms are zero bitmaps; NOT is a plain ~, no
        # complement bookkeeping) and score the matches through the dense
        # rank arrays — the head-term boolean worst case drops from sorted-
        # array set algebra to a handful of N-bit ops.
        present_all = [t for t in terms if t in rows]
        if not with_phrases and present_all and all(
            rows[t].df * 64 >= self.meta.id_space for t in present_all
        ):
            from discogsography_spark.query.boolquery import fold_predicate

            zeros = np.zeros(self.meta.id_space, dtype=bool)

            def bm_leaf(t):
                if t not in rows:
                    return zeros
                member, _rank = self._membership(t, self._decoded(rows[t])[0])
                return member

            mask = fold_predicate(
                ast,
                bm_leaf,
                lambda a, b: a & b,
                lambda a, b: a | b,
                lambda a: ~a,
            )
            cand = np.flatnonzero(mask)
            if cand.size == 0:
                return []
            m2, p2 = self.meta, self.meta.params
            avgdl2 = avgdl if avgdl is not None else m2.avgdl
            scores = np.zeros(cand.size, dtype=np.float64)
            for t in pos_terms:  # sorted order — fixed summation order
                if t not in rows:
                    continue
                # a positive term need not be present in every match (OR
                # arms); probe resolves per-doc presence via the dense ranks
                hitmask, tfv, dlv = self._probe(rows[t], cand)
                hit2 = np.flatnonzero(hitmask)
                if hit2.size == 0:
                    continue
                idf = idfs[t] if idfs is not None else p2.idf(m2.n_docs, rows[t].df)
                tf = tfv.astype(np.float64)
                dl = dlv.astype(np.float64)
                norm = p2.k1 * (1.0 - p2.b + p2.b * (dl / avgdl2))
                scores[hit2] = scores[hit2] + idf * (tf / (tf + norm))
            if after is not None:
                keep = _after_mask(cand, scores, after)
                cand, scores = cand[keep], scores[keep]
                if cand.size == 0:
                    return []
            if cand.size > 4 * k:
                kth = np.partition(-scores, k - 1)[k - 1]
                sel = np.flatnonzero(-scores <= kth)
                cand, scores = cand[sel], scores[sel]
            top = np.lexsort((cand, -scores))[:k]
            res = [(int(cand[i]), float(scores[i])) for i in top]
            if use_result_cache:
                self._result_cache[key] = tuple(res)
                if len(self._result_cache) > self._result_cache_size:
                    self._result_cache.popitem(last=False)
            return res

        docsets = {
            t: (self._decoded(rows[t])[0] if t in rows else empty) for t in terms
        }
        cand = eval_docsets(
            ast,
            docsets.__getitem__,
            phrase_docs_of=lambda ph: self._phrase_doc_set(list(ph)),
            within_docs_of=self._within_doc_set,
        )
        if cand.size == 0:
            return []

        m, p = self.meta, self.meta.params
        k1, b = p.k1, p.b
        if avgdl is None:
            avgdl = m.avgdl
        present = [t for t in pos_terms if t in rows]
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in present:  # sorted order — fixed float64 summation order
            mask, tfv, dlv = self._probe(rows[t], cand)
            hit2 = np.flatnonzero(mask)
            if hit2.size == 0:
                continue
            idf = idfs[t] if idfs is not None else p.idf(m.n_docs, rows[t].df)
            tf = tfv.astype(np.float64)
            dl = dlv.astype(np.float64)
            norm = k1 * (1.0 - b + b * (dl / avgdl))
            scores[hit2] = scores[hit2] + idf * (tf / (tf + norm))

        if after is not None:
            keep = _after_mask(cand, scores, after)
            cand, scores = cand[keep], scores[keep]
            if cand.size == 0:
                return []
        if cand.size > 4 * k:
            kth = np.partition(-scores, k - 1)[k - 1]
            sel = np.flatnonzero(-scores <= kth)
        else:
            sel = np.arange(cand.size)
        sub_docs, sub_scores = cand[sel], scores[sel]
        order = np.lexsort((sub_docs, -sub_scores))[:k]
        res = [(int(sub_docs[i]), float(sub_scores[i])) for i in order]
        if use_result_cache:
            self._result_cache[key] = tuple(res)
            if len(self._result_cache) > self._result_cache_size:
                self._result_cache.popitem(last=False)
        return res


class DistributedQueryEngine:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.meta = IndexMeta(index_dir)
        self._searcher = LocalSearcher(index_dir)

    def _decoded_postings_df(self, terms: list[str]) -> DataFrame | None:
        """(term, doc_id, tf, dl) DataFrame for the given terms: segment-pruned
        file list, `term IN (...)` pushed to the parquet scan, Arrow-batched
        decode with chunked yield (head-term lists decode to millions of rows)."""
        seg_map = self.meta.seg_dirs_for_terms(terms)
        dirs = [
            self.meta.seg_dir(s)
            for s in sorted(seg_map)
            if os.path.isdir(self.meta.seg_dir(s)) and os.listdir(self.meta.seg_dir(s))
        ]
        if not dirs:
            return None
        idx = (
            self.spark.read.parquet(*dirs)
            .filter(F.col("term").isin(terms))
            .select("term", "doc_blob", "tf_blob", "dl_blob")
        )
        out_schema = T.StructType(
            [
                T.StructField("term", T.StringType(), False),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("tf", T.LongType(), False),
                T.StructField("dl", T.LongType(), False),
            ]
        )

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            CHUNK = 1 << 18
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    doc_ids, tfs = decode_postings(row.doc_blob, row.tf_blob)
                    dls = varbyte_decode(row.dl_blob).astype(np.int64)
                    for s in range(0, doc_ids.size, CHUNK):
                        e = s + CHUNK
                        yield pd.DataFrame(
                            {
                                "term": row.term,
                                "doc_id": doc_ids[s:e],
                                "tf": tfs[s:e],
                                "dl": dls[s:e],
                            }
                        )

        return idx.mapInPandas(decode, schema=out_schema)

    def _decoded_positions_df(self, terms: list[str]) -> DataFrame | None:
        """(term, doc_id, positions array<long>) DataFrame for the given
        terms: same segment-pruned scan as `_decoded_postings_df`, plus the
        flat varbyte positional stream split per posting (positions per
        posting == tf). This is the distributed substrate for phrase /
        proximity membership — posting blobs are decoded on executors and
        never ship through the driver."""
        seg_map = self.meta.seg_dirs_for_terms(terms)
        dirs = [
            self.meta.seg_dir(s)
            for s in sorted(seg_map)
            if os.path.isdir(self.meta.seg_dir(s))
            and os.listdir(self.meta.seg_dir(s))
        ]
        if not dirs:
            return None
        idx = (
            self.spark.read.parquet(*dirs)
            .filter(F.col("term").isin(terms))
            .select("term", "doc_blob", "tf_blob", "pos_blob")
        )
        out_schema = T.StructType(
            [
                T.StructField("term", T.StringType(), False),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField(
                    "positions", T.ArrayType(T.LongType(), False), False
                ),
            ]
        )

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            CHUNK = 1 << 16
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    if row.pos_blob is None or len(row.pos_blob) == 0:
                        raise ValueError(
                            f"term {row.term!r} has no positional postings — "
                            "build the index with "
                            "IndexBuilder(with_positions=True) for phrase "
                            "queries"
                        )
                    doc_ids, tfs = decode_postings(row.doc_blob, row.tf_blob)
                    flat = varbyte_decode(row.pos_blob).astype(np.int64)
                    bounds = np.concatenate(([0], np.cumsum(tfs)))
                    for s in range(0, doc_ids.size, CHUNK):
                        e = min(s + CHUNK, doc_ids.size)
                        yield pd.DataFrame(
                            {
                                "term": row.term,
                                "doc_id": doc_ids[s:e],
                                "positions": [
                                    flat[bounds[i]:bounds[i + 1]]
                                    for i in range(s, e)
                                ],
                            }
                        )

        return idx.mapInPandas(decode, schema=out_schema)

    @staticmethod
    def _chain_step(alive, nxt, w: int, same: bool):
        """One proximity-chain link as a native array expression: keep the
        occurrences in `nxt` having an alive neighbor within `w` (distinct
        when the adjacent terms are equal). Stage arrays are let-bound so
        the accumulated fold expression evaluates each stage once per row
        (dataframe_bm25._let — nested-lambda re-evaluation otherwise
        compounds per link)."""
        from discogsography_spark.query.dataframe_bm25 import _let

        if same:
            return _let(
                alive,
                lambda A: _let(
                    nxt,
                    lambda N: F.filter(
                        N,
                        lambda q: F.exists(
                            A, lambda p: (q != p) & (F.abs(q - p) <= F.lit(w))
                        ),
                    ),
                ),
            )
        return _let(
            alive,
            lambda A: _let(
                nxt,
                lambda N: F.filter(
                    N, lambda q: F.exists(A, lambda p: F.abs(q - p) <= F.lit(w))
                ),
            ),
        )

    def _positional_membership_df(
        self, pos_nodes: list[tuple], node_flag: dict[tuple, str]
    ) -> DataFrame | None:
        """One distributed relation (doc_id, _pos0, _pos1, ...) with a
        boolean column per phrase/within node, evaluated from the positional
        postings with native array expressions — replacing the former
        driver-side doc-set lists (a common phrase would otherwise
        materialize |matching docs| rows on the driver). Docs matching no
        node are filtered out, so the join side is exactly the union of the
        node memberships. Returns None when none of the positional terms
        exist in the index (every node is then vacuously false)."""
        need = sorted(
            {
                t
                for n in pos_nodes
                for t in (n[1] if n[0] == "phrase" else n[1])
            }
        )
        pos_df = self._decoded_positions_df(need)
        if pos_df is None:
            return None
        per_doc = pos_df.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("pmap")
        )
        pm = F.col("pmap")
        for node, flag in node_flag.items():
            if node[0] == "phrase":
                words = list(node[1])
                # consecutive-run check: some occurrence p of the first
                # word with every later word at p + j. Absent words make
                # pmap[w] NULL → the exists folds to NULL → flag false.
                rest = list(enumerate(words[1:], start=1))

                def adjacency(p):
                    cond = F.lit(True)
                    for j, w in rest:
                        cond = cond & F.array_contains(pm[w], p + j)
                    return cond

                pred = F.exists(pm[words[0]], adjacency)
            else:  # ("within", (t1, …), (N1, …)) — n-ary proximity chain
                chain, wins = node[1], node[2]
                # left-fold alive position arrays: alive_{i+1} = positions
                # of chain[i+1] with an alive neighbor within windows[i]
                # (adjacent equal terms need a distinct one) — the same
                # path-consistency argument as _chain_fold_keys, as native
                # array expressions. Absent terms → NULL arrays → NULL
                # fold → flag false via the coalesce below.
                alive = pm[chain[0]]
                for i, w in enumerate(wins):
                    same = chain[i] == chain[i + 1]
                    alive = self._chain_step(
                        alive, pm[chain[i + 1]], int(w), same
                    )
                pred = F.size(alive) > 0
            per_doc = per_doc.withColumn(
                flag, F.coalesce(pred, F.lit(False))
            )
        flags = list(node_flag.values())
        cond = F.col(flags[0])
        for f in flags[1:]:
            cond = cond | F.col(f)
        return per_doc.filter(cond).select("doc_id", *flags)

    def _empty_result(self) -> DataFrame:
        return self.spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("score", T.DoubleType()),
                ]
            ),
        )

    def topk_df(self, query_text: str, k: int, mode: str = "and") -> DataFrame:
        """Distributed exact BM25 top-k as a DataFrame (doc_id, score):
        decode → native-expression partials → deterministic ordered
        aggregation → global top-k. mode='and' (conjunctive, default) or
        'or' (disjunctive — same plan minus the all-terms filter; absent
        terms contribute nothing, LocalSearcher mode='or' parity)."""
        m = self.meta
        p = m.params
        terms = get_analyzer(m.analyzer).analyze_query(query_text)
        empty = self._empty_result()
        if not terms:
            return empty
        rows = self._searcher.lookup_terms(terms)
        if mode == "or":
            terms = [t for t in terms if t in rows]
            if not terms:
                return empty
        elif len(rows) != len(terms):
            return empty
        decoded = self._decoded_postings_df(terms)
        if decoded is None:
            return empty
        idf_map = F.create_map(
            *[
                x
                for t in terms
                for x in (F.lit(t), F.lit(p.idf(m.n_docs, rows[t].df)))
            ]
        )
        partial = idf_map[F.col("term")] * (
            F.col("tf").cast("double")
            / (
                F.col("tf").cast("double")
                + F.lit(p.k1)
                * (
                    F.lit(1.0 - p.b)
                    + F.lit(p.b) * (F.col("dl").cast("double") / F.lit(m.avgdl))
                )
            )
        )
        scored = (
            decoded.withColumn("partial", partial)
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("nt"),
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "partial"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["partial"],
                ).alias("score"),
            )
            .filter(
                (F.col("nt") == F.lit(len(terms)))
                if mode != "or"
                else F.lit(True)
            )
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        return scored

    def topk_bool_df(self, query_text: str, k: int) -> DataFrame:
        """Distributed boolean AND/OR/NOT BM25 top-k (boolquery.py contract,
        LocalSearcher.topk_bool parity): one decode pass over ALL query
        terms, per-doc present-term set + positive-partial ordered sum in a
        single aggregation, then the predicate as a native filter."""
        from discogsography_spark.query.boolquery import (
            all_terms,
            fold_predicate,
            parse_bool_query,
            polarity_terms,
        )

        m = self.meta
        p = m.params
        an = get_analyzer(m.analyzer)
        ast = parse_bool_query(
            query_text, an.analyze_query, tokenize=an.tokenize_py
        )
        empty = self._empty_result()
        if ast is None:
            return empty
        ast = self._searcher._expand_bool_prefixes(ast)
        if ast is None:
            return empty
        pos_terms, _neg = polarity_terms(ast)
        terms = all_terms(ast)
        rows = self._searcher.lookup_terms(terms)
        present_terms = [t for t in terms if t in rows]
        if not any(t in rows for t in pos_terms):
            return empty  # no positive term exists → nothing can match
        decoded = self._decoded_postings_df(present_terms)
        if decoded is None:
            return empty

        # positional nodes (quoted phrases, `a <N> b` proximity): evaluated
        # DISTRIBUTIVELY — the positional postings of the node terms decode
        # on executors (`_decoded_positions_df`) and each node becomes a
        # native array predicate over per-doc position arrays, yielding one
        # membership relation (doc_id, flag...) joined on doc_id. Nothing
        # proportional to |matching docs| ever touches the driver (a common
        # phrase at 10^12 turns would otherwise be a driver-sized list);
        # AQE broadcasts the relation when small and shuffle-joins it
        # otherwise. Scoring parity with LocalSearcher.topk_bool holds
        # because phrase/within terms already ride the positive-polarity
        # partial sum (polarity_terms includes them).
        pos_nodes: list[tuple] = []

        def _collect_positional(n) -> None:
            if n[0] in ("phrase", "within"):
                if n not in pos_nodes:
                    pos_nodes.append(n)
            elif n[0] == "not":
                _collect_positional(n[1])
            elif n[0] in ("and", "or"):
                for c in n[1]:
                    _collect_positional(c)

        _collect_positional(ast)
        node_flag = {n: f"_pos{i}" for i, n in enumerate(pos_nodes)}
        idf_map = F.create_map(
            *[
                x
                for t in present_terms
                for x in (F.lit(t), F.lit(p.idf(m.n_docs, rows[t].df)))
            ]
        )
        raw_partial = idf_map[F.col("term")] * (
            F.col("tf").cast("double")
            / (
                F.col("tf").cast("double")
                + F.lit(p.k1)
                * (
                    F.lit(1.0 - p.b)
                    + F.lit(p.b) * (F.col("dl").cast("double") / F.lit(m.avgdl))
                )
            )
        )
        # negative-polarity terms carry presence but never score; a 0.0
        # summand in the ordered fold leaves the float64 total bit-identical
        partial = F.when(
            F.col("term").isin(pos_terms), raw_partial
        ).otherwise(F.lit(0.0))
        grouped = decoded.withColumn("partial", partial).groupBy("doc_id").agg(
            F.collect_set("term").alias("present"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "partial"))),
                F.lit(0.0),
                lambda acc, x: acc + x["partial"],
            ).alias("score"),
        )
        if pos_nodes:
            memb = self._positional_membership_df(pos_nodes, node_flag)
            if memb is None:  # no positional term exists → nodes all false
                for flag in node_flag.values():
                    grouped = grouped.withColumn(flag, F.lit(False))
            else:
                grouped = grouped.join(memb, "doc_id", "left")
                for flag in node_flag.values():
                    grouped = grouped.withColumn(
                        flag, F.coalesce(F.col(flag), F.lit(False))
                    )
        pred = fold_predicate(
            ast,
            lambda t: F.array_contains(F.col("present"), t),
            lambda a, b: a & b,
            lambda a, b: a | b,
            lambda a: ~a,
            phrase_leaf=lambda ph: F.col(node_flag[("phrase", ph)]),
            within_leaf=lambda pair, w: F.col(node_flag[("within", pair, w)]),
        )
        return (
            grouped.filter(pred)
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def topk(
        self, query_text: str, k: int, mode: str = "and"
    ) -> list[tuple[int, float]]:
        df = (
            self.topk_bool_df(query_text, k)
            if mode == "bool"
            else self.topk_df(query_text, k, mode=mode)
        )
        return [(r["doc_id"], r["score"]) for r in df.collect()]
