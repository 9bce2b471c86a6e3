"""Seeded input generation for the layered benchmark.

Every input is drawn with numpy from the run's ``--seed`` and written to
parquet with pyarrow before any timing starts; the library only ever sees
the files. The expected answers the correctness checks need (exact
distinct-shingle counts, the keys each micro-batch must emit) are computed
here, independently of the library.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_257          # GPT-2 vocabulary size, < 2**16 (see _shingle_words)
SHINGLE_K = 8
I64_MIN, I64_MAX = -(1 << 63), (1 << 63) - 1


def random_keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` uniform 64-bit keys (distinct with overwhelming probability)."""
    return rng.integers(I64_MIN, I64_MAX, size=n, dtype=np.int64,
                        endpoint=True)


def write_parquet(table: pa.Table, path: str, n_files: int,
                  weights: np.ndarray | None = None) -> None:
    """Write ``table`` as ``n_files`` parquet files, so a scan of ``path``
    gets one task per file. Rows are dealt out so each file carries about
    the same total ``weights`` (default: the same number of rows); row
    order within a file is kept."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    if weights is None:
        part = np.arange(n) * n_files // max(n, 1)
    else:
        # longest first, each row to the lightest file so far
        part = np.empty(n, dtype=np.int64)
        load = np.zeros(n_files)
        for row in np.argsort(-weights, kind="stable"):
            part[row] = int(np.argmin(load))
            load[part[row]] += weights[row]
    for i in range(n_files):
        rows = np.flatnonzero(part == i)
        pq.write_table(table.take(rows),
                       os.path.join(path, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# build_corpus: a token table in the paper's schema
# ---------------------------------------------------------------------------

def _doc_lengths(rng: np.random.Generator, n: int, total: int) -> np.ndarray:
    """The synthetic fixture's length mix (90% 16-512 tokens, 9% 512-4096,
    1% 4096-16384), with exact bucket counts and rescaled to ``total``
    tokens so every seed gives the same amount of work."""
    n_long = max(1, n // 100)
    n_mid = max(1, 9 * n // 100)
    lengths = np.concatenate([
        rng.integers(16, 512, n - n_mid - n_long),
        rng.integers(512, 4096, n_mid),
        rng.integers(4096, 16384, n_long),
    ])
    rng.shuffle(lengths)
    lengths = np.round(lengths * (total / lengths.sum())).astype(np.int64)
    return np.maximum(lengths, SHINGLE_K + 1)


def make_corpus(rng: np.random.Generator, n_docs: int, total_tokens: int,
                twin_share: float) -> dict:
    """Token docs of which ``twin_share`` are near-duplicate twins: a copy
    of another doc without its first token, so every shingle of a twin
    repeats one of its source's. Share and twin shape are those of
    ``bench.py``'s MinHash-LSH workload (2% of docs, first token dropped)."""
    n_twin = int(round(n_docs * twin_share))
    n_orig = n_docs - n_twin
    lengths = _doc_lengths(rng, n_orig, int(total_tokens * (1 - twin_share)))
    docs = [rng.integers(0, VOCAB, int(n), dtype=np.int32) for n in lengths]
    # twins copy distinct docs of at most 4096 tokens, which keeps the
    # total token count nearly the same from seed to seed
    sources = np.flatnonzero(lengths <= 4096)
    for src in rng.choice(sources, n_twin, replace=False):
        docs.append(docs[src][1:].copy())
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    n_tok = np.array([d.size for d in docs], dtype=np.int32)
    sources_col = np.array(["web", "books", "code", "rare"])[
        np.searchsorted([0.8, 0.95, 0.999], rng.random(len(docs)),
                        side="right")]
    table = pa.table({
        "doc_id": pa.array([f"doc-{i:012d}" for i in range(len(docs))]),
        "tokens": pa.array(docs, type=pa.list_(pa.int32())),
        "n_tok": pa.array(n_tok),
        "source": pa.array(sources_col),
    })
    return {"table": table, "n_distinct": distinct_shingles(docs)}


def _shingle_words(docs: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Every k=8 shingle packed losslessly into two uint64 words (4 tokens
    of 16 bits each), so distinct shingles are distinct word pairs."""
    tokens = np.concatenate(docs).astype(np.uint64)
    starts = np.cumsum([0] + [d.size for d in docs[:-1]])
    pos = np.concatenate([
        np.arange(s, s + d.size - SHINGLE_K + 1)
        for s, d in zip(starts, docs) if d.size >= SHINGLE_K])
    words = []
    for half in (0, 4):
        w = np.zeros(pos.size, dtype=np.uint64)
        for j in range(4):
            w = (w << np.uint64(16)) | tokens[pos + half + j]
        words.append(w)
    return words[0], words[1]


def distinct_shingles(docs: list[np.ndarray]) -> int:
    hi, lo = _shingle_words(docs)
    order = np.lexsort((lo, hi))
    hi, lo = hi[order], lo[order]
    new = np.ones(hi.size, dtype=bool)
    new[1:] = (hi[1:] != hi[:-1]) | (lo[1:] != lo[:-1])
    return int(new.sum())


# ---------------------------------------------------------------------------
# probe sets: pre-hashed keys with a planted share of members
# ---------------------------------------------------------------------------

def make_probes(rng: np.random.Generator, members: np.ndarray, n: int,
                n_planted: int) -> pa.Table:
    """``n`` probe keys, ``n_planted`` of them drawn from ``members`` and
    the rest uniform (non-members with overwhelming probability),
    shuffled, with a ``planted`` flag column."""
    keys = np.concatenate([members[rng.integers(0, members.size, n_planted)],
                           random_keys(rng, n - n_planted)])
    planted = np.zeros(n, dtype=bool)
    planted[:n_planted] = True
    order = rng.permutation(n)
    return pa.table({"key": keys[order], "planted": planted[order]})


# ---------------------------------------------------------------------------
# stream_ingest: a feed of micro-batch files with re-delivered keys
# ---------------------------------------------------------------------------

def make_feed(rng: np.random.Generator, base: int, n_batches: int,
              rows: int, new_share: float) -> list[dict]:
    """Micro-batch 0 delivers ``base`` fresh keys; each later batch holds
    ``rows`` rows of which ``new_share`` are fresh keys and the rest are
    re-deliveries of keys from earlier batches. Each entry carries the
    batch's keys and the exact set of keys it delivers for the first time."""
    seen = random_keys(rng, base)
    batches = [{"keys": seen, "unseen": np.unique(seen)}]
    seen = batches[0]["unseen"]
    for _ in range(n_batches):
        fresh = random_keys(rng, int(rows * new_share))
        again = seen[rng.integers(0, seen.size, rows - fresh.size)]
        keys = np.concatenate([fresh, again])
        rng.shuffle(keys)
        unseen = np.setdiff1d(keys, seen)
        batches.append({"keys": keys, "unseen": unseen})
        seen = np.union1d(seen, unseen)
    return batches
