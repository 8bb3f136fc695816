"""Seeded inputs for the benchmark, independent of the package's own
corpus module so that an edit there cannot change what is measured.

The transcripts table follows FIXTURES.md §1: Zipfian text over a fixed
synthetic vocabulary, mixed case and punctuation, an empty turn, a >10 KB
turn and a unicode turn. Every table written here, base or delta batch, goes
through the same pandas -> parquet path, so base and deltas share one schema
(``ts`` is a naive microsecond timestamp), as one transcripts table would.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "bash", "read_file", "write_file", "browser"])
HEAD_WORDS = [
    "spark", "index", "query", "token", "merge", "shuffle", "agent", "turn",
    "table", "scan", "join", "sort", "batch", "stream", "score", "rank",
]
VOCAB_SIZE = 20_000
ZIPF_A = 1.3
MEAN_TURNS = 10
REFERENCE_QUERIES = 40  # queries per FIXTURES.md §2 reference set
REFERENCE_SETS = 10  # the hot mix is the union of this many reference sets
WIDE_BATCH = 2000  # distinct queries per wide batch
WIDE_DF = (5, 5000)  # document-frequency range of wide query terms
EDIT_SHARE = 0.01  # conversations the upsert batch rewrites
NEW_SHARE = 0.0025  # conversations the upsert batch adds
DELETE_SHARE = 0.01  # conversations the delete batch removes


def vocab() -> np.ndarray:
    words = list(HEAD_WORDS)
    words += [f"w{i:05d}" for i in range(VOCAB_SIZE - len(words))]
    return np.array(words)


def _texts(rng: np.random.Generator, n_turns: int) -> np.ndarray:
    """Zipfian turn texts: tokens per turn ~ lognormal, ranks ~ Zipf."""
    words = vocab()
    per_turn = np.maximum(1, rng.lognormal(2.5, 0.8, n_turns).astype(np.int64))
    ranks = np.minimum(rng.zipf(ZIPF_A, int(per_turn.sum())), VOCAB_SIZE) - 1
    chunks = np.split(words[ranks], np.cumsum(per_turn)[:-1])
    return np.array([" ".join(c) for c in chunks], dtype=object)


def transcripts(n_conversations: int, seed: int, first_conv: int = 0) -> pd.DataFrame:
    """(conv_id, turn_idx, role, text, tool, ts) for conversations
    ``conv-%08d`` numbered from ``first_conv``."""
    rng = np.random.default_rng(seed)
    turns = rng.poisson(MEAN_TURNS, n_conversations).clip(1, 60)
    n = int(turns.sum())
    conv = np.repeat(
        np.array([f"conv-{first_conv + i:08d}" for i in range(n_conversations)]),
        turns,
    )
    turn_idx = np.concatenate([np.arange(c) for c in turns]).astype(np.int32)
    roles = ROLES[rng.integers(0, len(ROLES), n)]
    tools = np.where(roles == "tool", TOOLS[rng.integers(0, len(TOOLS), n)], None)
    texts = _texts(rng, n)
    if n >= 20:
        texts[3] = ""
        texts[7] = "  Spark, INDEX!!  query?? 42 ünïcode—emoji🙂 " + texts[7]
        texts[11] = ("longturn " + texts[11] + " ") * 200
        texts[15] = "MiXeD CaSe TOKEN Spark SPARK spark"
    base = np.datetime64("2026-01-01T00:00:00") + np.timedelta64(first_conv * 60, "s")
    ts = base + np.arange(n).astype("timedelta64[s]")
    return pd.DataFrame(
        {
            "conv_id": conv,
            "turn_idx": turn_idx,
            "role": roles,
            "text": texts,
            "tool": tools,
            "ts": ts.astype("datetime64[us]"),
        }
    )


def rewrite_texts(rows: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Same keys, freshly drawn text: an edited version of each turn."""
    out = rows.copy()
    out["text"] = _texts(np.random.default_rng(seed), len(out))
    return out.reset_index(drop=True)


def reference_queries(terms: np.ndarray, counts: np.ndarray, seed: int) -> list[tuple[str, int]]:
    """The reference query set of FIXTURES.md §2 as (text, k): single head
    terms, rare terms, head+rare pairs, multi-head conjunctions, absent
    terms and analyzer variants. ``terms``/``counts`` are the corpus's
    analyzed vocabulary and total occurrence counts."""
    rng = np.random.default_rng(seed + 1)
    order = np.lexsort((terms, -counts))
    by_freq = [str(t) for t in terms[order]]
    freq = counts[order]
    head = by_freq[:10]
    rare = [t for t, c in zip(by_freq, freq) if c <= 3][:40] or by_freq[-40:]
    out: list[tuple[str, int]] = []
    out += [(w, 10) for w in head[:5]]
    out += [(rare[i % len(rare)], 10) for i in range(5)]
    for i in range(8):
        h = head[int(rng.integers(0, len(head)))]
        r = rare[int(rng.integers(0, len(rare)))]
        out.append((f"{h} {r}", 10 if i % 2 else 100))
    for _ in range(6):
        ws = rng.choice(head, size=int(rng.integers(2, 4)), replace=False)
        out.append((" ".join(ws), 100))
    out.append(("zzz-absent-term-xq", 10))
    out.append((f"{head[0]} zzzabsentxq", 10))
    out.append((head[0].upper() + "!!", 10))
    out.append((f"  {head[1].title()},  {head[2].upper()}. ", 10))
    top = by_freq[: min(200, len(by_freq))]
    while len(out) < REFERENCE_QUERIES:
        ws = rng.choice(top, size=int(rng.integers(1, 5)), replace=False)
        out.append((" ".join(ws), 10 if len(out) % 3 else 100))
    return out


def hot_queries(terms: np.ndarray, counts: np.ndarray, seed: int) -> list[tuple[str, int]]:
    """Union, in order, of several reference sets drawn from seeds derived
    from ``seed``: one draw's mix of cheap and costly queries would
    otherwise decide the median."""
    mix: list[tuple[str, int]] = []
    for j in range(REFERENCE_SETS):
        mix += reference_queries(terms, counts, seed * REFERENCE_SETS + j)
    return list(dict.fromkeys(mix))


def wide_queries(terms: np.ndarray, dfs: np.ndarray, seed: int) -> list[tuple[str, int]]:
    """Distinct 1-3-term queries over the mid/long-tail vocabulary (terms
    whose df lies in ``WIDE_DF``), each drawn once, k in {10, 100}."""
    rng = np.random.default_rng(seed + 2)
    lo, hi = WIDE_DF
    pool = np.sort(terms[(dfs >= lo) & (dfs <= hi)])
    seen: set[str] = set()
    out: list[tuple[str, int]] = []
    while len(out) < WIDE_BATCH:
        picks = set(rng.integers(0, len(pool), size=int(rng.choice([1, 2, 2, 3]))).tolist())
        q = " ".join(sorted(str(pool[i]) for i in picks))
        if q not in seen:
            seen.add(q)
            out.append((q, 100 if len(out) % 4 == 0 else 10))
    return out


def live_steps(base: pd.DataFrame, mid: str, seed: int) -> list[tuple[str, pd.DataFrame, pd.DataFrame]]:
    """The write script of ``live_sharded`` over ``base`` (shards split at
    conv_id ``mid``): one upsert batch redrawing the text of ``EDIT_SHARE``
    of the conversations (half on each side of ``mid``) and adding
    ``NEW_SHARE`` new ones, then one batch deleting ``DELETE_SHARE`` of the
    conversations. Returns (op, batch rows, alive rows after it)."""
    rng = np.random.default_rng(seed + 3)
    n_conv = base["conv_id"].nunique()
    convs = np.array(sorted(base["conv_id"].unique()))
    n_edit = max(1, int(EDIT_SHARE * n_conv) // 2)
    edit = np.concatenate([
        rng.choice(convs[convs < mid], n_edit, replace=False),
        rng.choice(convs[convs >= mid], n_edit, replace=False),
    ])
    upsert = pd.concat([
        rewrite_texts(base[base["conv_id"].isin(edit)], seed * 1000),
        transcripts(max(1, int(NEW_SHARE * n_conv)), seed * 1000 + 500, first_conv=n_conv),
    ], ignore_index=True)
    alive = pd.concat([base[~base["conv_id"].isin(edit)], upsert], ignore_index=True)
    convs = np.array(sorted(alive["conv_id"].unique()))
    gone = rng.choice(convs, max(1, int(DELETE_SHARE * n_conv)), replace=False)
    deleted = alive[~alive["conv_id"].isin(gone)].reset_index(drop=True)
    return [("upsert", upsert, alive), ("delete", pd.DataFrame({"conv_id": gone}), deleted)]
