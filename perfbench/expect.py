"""Expected answers from the package's pure-Python oracle
(``oracle.bm25_topk``), and the per-response checks.

Answers are keyed by document, ``(conv_id, turn_idx)``, so that an engine
whose docIDs differ from the oracle's dense rank (a live view with upserts)
is compared on the same footing as a freshly built index. Scores must be
bit-identical. Facet counts and ``total_matched`` are checked over the
oracle's matched set.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from discogsography_spark import oracle
from discogsography_spark.analysis import get_analyzer

NULL_FACET = "(none)"
ANSWER_PROCESSES = 4  # workers computing the serving fixture's expected answers


class ArrayPostings:
    """term -> {doc_id: tf}, materialised per term on first use from flat
    arrays (the form the serving fixture stores the oracle index in)."""

    def __init__(self, terms, offsets, docs, tfs):
        self._pos = {str(t): i for i, t in enumerate(terms)}
        self._off, self._docs, self._tfs = offsets, docs, tfs
        self._cache: dict[str, dict[int, int]] = {}

    def get(self, term, default=None):
        hit = self._cache.get(term)
        if hit is None:
            i = self._pos.get(term)
            if i is None:
                return default
            lo, hi = int(self._off[i]), int(self._off[i + 1])
            hit = dict(zip(self._docs[lo:hi].tolist(), self._tfs[lo:hi].tolist()))
            self._cache[term] = hit
        return hit

    def __getitem__(self, term):
        hit = self.get(term)
        if hit is None:
            raise KeyError(term)
        return hit


def oracle_arrays(rows: pd.DataFrame) -> dict[str, np.ndarray]:
    """Flatten ``oracle.build_oracle_index`` over ``rows`` into arrays:
    doc lengths, sorted vocabulary with per-term doc/tf runs, total term
    counts, and the (conv_id, turn_idx, role, tool) of each oracle docID."""
    idx = oracle.build_oracle_index(
        list(zip(rows["conv_id"], rows["turn_idx"].astype(int), rows["text"]))
    )
    terms = np.array(sorted(idx.postings), dtype=object)
    dfs = np.array([len(idx.postings[t]) for t in terms], dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(dfs)))
    docs = np.empty(int(offsets[-1]), dtype=np.int32)
    tfs = np.empty(int(offsets[-1]), dtype=np.int32)
    counts = np.empty(len(terms), dtype=np.int64)
    for i, t in enumerate(terms):
        p = idx.postings[t]
        lo, hi = offsets[i], offsets[i + 1]
        docs[lo:hi] = np.fromiter(p.keys(), np.int32, len(p))
        tfs[lo:hi] = np.fromiter(p.values(), np.int32, len(p))
        counts[i] = tfs[lo:hi].sum()
    ordered = rows.sort_values(["conv_id", "turn_idx"], kind="stable")
    return {
        "terms": terms.astype(str),
        "dfs": dfs,
        "counts": counts,
        "offsets": offsets,
        "docs": docs,
        "tfs": tfs,
        "doc_len": np.array([idx.doc_len[d] for d in range(idx.n_docs)], dtype=np.int64),
        "total_tokens": np.array(idx.total_tokens),
        "conv_id": ordered["conv_id"].to_numpy().astype(str),
        "turn_idx": ordered["turn_idx"].to_numpy().astype(np.int64),
        "role": ordered["role"].fillna(NULL_FACET).to_numpy().astype(str),
        "tool": ordered["tool"].fillna(NULL_FACET).to_numpy().astype(str),
    }


class Expected:
    """Expected (keyed results, total_matched, facets) per (query, k)."""

    def __init__(self, idx: oracle.OracleIndex, conv_id, turn_idx, facets: dict):
        self.idx = idx
        self.keys = list(zip(np.asarray(conv_id).tolist(), np.asarray(turn_idx).tolist()))
        self.facets = facets  # facet name -> label per oracle docID
        self._an = get_analyzer(idx.analyzer)
        self._memo: dict[tuple[str, int], tuple] = {}

    @classmethod
    def from_arrays(cls, a) -> "Expected":
        idx = oracle.OracleIndex()
        idx.postings = ArrayPostings(a["terms"], a["offsets"], a["docs"], a["tfs"])
        idx.doc_len = dict(enumerate(a["doc_len"].tolist()))
        idx.n_docs = len(a["doc_len"])
        idx.total_tokens = int(a["total_tokens"])
        return cls(idx, a["conv_id"], a["turn_idx"], {"role": a["role"], "tool": a["tool"]})

    @classmethod
    def from_rows(cls, rows: pd.DataFrame) -> "Expected":
        return cls.from_arrays(oracle_arrays(rows))

    def _matched(self, text: str) -> list[int]:
        terms = self._an.analyze_query(text)
        lists = [self.idx.postings.get(t) for t in terms]
        if not terms or not all(lists):
            return []
        lists.sort(key=len)
        out = set(lists[0])
        for p in lists[1:]:
            out &= p.keys()
        return sorted(out)

    def answer(self, text: str, k: int, full: bool = False) -> tuple:
        """(ranked [(key, score)], total_matched, facets). ``full`` ranks the
        whole matched set (tie checks at the k-th score need it)."""
        memo_key = (text, -1 if full else k)
        hit = self._memo.get(memo_key)
        if hit is None:
            matched = self._matched(text)
            ranked = oracle.bm25_topk(self.idx, text, len(matched) if full else k)
            facets = {
                name: sorted(Counter(labels[d] for d in matched).items())
                for name, labels in self.facets.items()
            }
            hit = ([(self.keys[d], s) for d, s in ranked], len(matched), facets)
            self._memo[memo_key] = hit
        return hit


_WORKER: dict = {}  # per worker process: the Expected built by _init


def _init(npz_path: str) -> None:
    _WORKER["exp"] = Expected.from_arrays(np.load(npz_path))


def _answer(item):
    return _WORKER["exp"].answer(*item)


def answers(npz_path: str, items) -> dict:
    """``answer`` for each distinct (text, k) item over the oracle arrays
    saved at ``npz_path``, computed by ``ANSWER_PROCESSES`` spawned workers."""
    import multiprocessing

    items = list(dict.fromkeys(items))
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(ANSWER_PROCESSES, initializer=_init, initargs=(npz_path,))
    try:
        return dict(zip(items, pool.map(_answer, items, chunksize=4)))
    finally:
        pool.close()
        pool.join()


def check_exact(resp, keys, want) -> bool:
    """Served response equals the oracle's, rank for rank."""
    ranked, total, facets = want
    got = [(keys[d], s) for d, s in resp.results]
    return got == ranked and resp.total_matched == total and resp.facets == facets


def check_tied(resp, keys, k: int, want_full) -> bool:
    """Like check_exact, but documents that tie on score may come in any
    order, and at the k-th score any of the tied documents may fill the
    page (a live view's docIDs follow arrival order, not the key order)."""
    ranked, total, facets = want_full
    got = [(keys[d], s) for d, s in resp.results]
    if resp.total_matched != total or resp.facets != facets:
        return False
    if len(got) != min(k, len(ranked)):
        return False
    if [s for _, s in got] != [s for _, s in ranked[: len(got)]]:
        return False
    if not got:
        return True
    by_score: dict[float, set] = {}
    for key, s in ranked:
        by_score.setdefault(s, set()).add(key)
    last = got[-1][1]
    seen: dict[float, set] = {}
    for key, s in got:
        seen.setdefault(s, set()).add(key)
    return all(
        (keys_s <= by_score[s]) if s == last else (keys_s == by_score[s])
        for s, keys_s in seen.items()
    )
