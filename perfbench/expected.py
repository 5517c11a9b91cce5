"""Independent reference for the benchmark's correctness check.

The expected output is derived in closed form from the generator's rules
(``chunker.synth_chunks`` defaults: 64-token chunks, 32 sources with half the
docs on ``src0``, every 5th doc split into two sessions, every 16th doc
duplicating seq 2, every 997th doc losing seq 3) and from the benchmark's own
delivery schedule (``arrival``). It uses numpy only — no Spark and no code of
the package under test — so a pass can be checked at full size in well under
a second. ``tests/test_expected.py`` proves it equal to
``oracle_pandas.reassemble_oracle`` run over the generated chunks at a small
size.

A stream's output is compared as ``(n, s0, s1)``: token count, token sum and
the order-aware sum ``Σ (i+1)·token_i`` over the stream's concatenated
tokens, so a dropped, duplicated or reordered token changes the summary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

CHUNK = 64
MIN_TOK, MAX_TOK = 64, 1024
N_SOURCES, HOT_PERMILLE = 32, 500
DUP_MOD, GAP_MOD, MULTISESSION_MOD = 16, 997, 5
SESSION_BASE, SESSION_STEP = 1_700_000_000, 100
N_SINKS = 4
MAX_SEQ = -(-MAX_TOK // CHUNK)
# Early-arrival classes (by doc number): a doc of class q receives each seq
# pair (3+q, 4+q), (5+q, 6+q), ... in swapped order, so the later seq of the
# pair waits in the held cache for exactly one delivery.
EARLY_MOD = 8

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_MOD31 = 2_147_483_647


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    return _rotl(h, 27) * _P1 + _P4


def _hash_int(v: int, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(4)
    h = h ^ (np.uint64(v & 0xFFFFFFFF) * _P1)
    return _rotl(h, 23) * _P2 + _P3


def xxhash64(ids: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Spark's ``xxhash64(id_long, lit(seed), lit(salt))`` (default hash
    seed 42), as signed int64."""
    with np.errstate(over="ignore"):
        h = _fmix(_hash_long(ids.astype(np.uint64), np.full(ids.shape, 42, np.uint64)))
        if -(2**31) <= seed < 2**31:
            h = _fmix(_hash_int(seed, h))
        else:
            h = _fmix(_hash_long(np.full(ids.shape, seed, np.int64).astype(np.uint64), h))
        h = _fmix(_hash_int(salt, h))
    return h.view(np.int64)


def tokens(dnum: np.ndarray, pos: np.ndarray, seed: int) -> np.ndarray:
    """Token value at 1-based position ``pos`` of doc ``dnum``."""
    mix = (dnum * 1_000_003 + seed) % _MOD31
    return ((mix + pos) % _MOD31) * 48_271 % 50_257


def arrival(seq: np.ndarray, dnum: np.ndarray) -> np.ndarray:
    """Delivery index of chunk ``seq`` (0-based): seq ``s`` arrives at
    ``s - 1`` except for early-class docs, whose swapped pairs arrive one
    delivery late (first of pair) or one early (second of pair)."""
    q = dnum % EARLY_MOD
    first = 3 + q
    u = seq - first
    swapped = (q <= 1) & (u >= 0)
    return np.where(swapped, np.where(u % 2 == 0, seq, seq - 2), seq - 1)


class Corpus:
    """Per-stream facts of ``synth_chunks(spark, n_docs, seed)``."""

    def __init__(self, n_docs: int, seed: int) -> None:
        self.seed = seed
        dnum = np.arange(n_docs, dtype=np.int64)
        n_tok = xxhash64(dnum, seed, 1) % (MAX_TOK - MIN_TOK + 1) + MIN_TOK
        roll = xxhash64(dnum, seed, 2) % 1000
        src = np.where(roll < HOT_PERMILLE, 0, xxhash64(dnum, seed, 3) % (N_SOURCES - 1) + 1)
        n_chunks = -(-n_tok // CHUNK)
        two = (dnum % MULTISESSION_MOD == 0) & (n_chunks >= 2)
        half = np.where(two, -(-n_chunks // 2), n_chunks)
        # one row per stream: session 1 of every doc, then session 2 of split docs
        self.dnum = np.concatenate([dnum, dnum[two]])
        self.second = np.concatenate([np.zeros(n_docs, bool), np.ones(int(two.sum()), bool)])
        self.n_tok = np.concatenate([n_tok, n_tok[two]])
        self.sink = np.concatenate([src, src[two]]) % N_SINKS
        self.m = np.concatenate([half, (n_chunks - half)[two]])
        self.offset = np.concatenate([np.zeros(n_docs, np.int64), half[two]])

    def n_chunk_rows(self) -> int:
        """Rows of the generated chunk table (duplicates included)."""
        first = ~self.second
        dups = first & (self.dnum % DUP_MOD == 0) & (self.m >= 2)
        gaps = first & (self.dnum % GAP_MOD == 0) & (self.m >= 3)
        return int(self.m.sum() + dups.sum() - gaps.sum())

    def prefix(self, delivered: np.ndarray) -> np.ndarray:
        """Per stream, the longest run of seqs 1..c that all exist and are
        in ``delivered`` (a streams × MAX_SEQ bool mask, column j = seq j+1):
        what the gate emits in total when it starts from seq 1."""
        seq = np.arange(1, MAX_SEQ + 1)[None, :]
        exists = seq <= self.m[:, None]
        exists &= ~((seq == 3) & ~self.second[:, None] & (self.dnum[:, None] % GAP_MOD == 0))
        ok = exists & delivered
        return np.where(ok.all(axis=1), MAX_SEQ, np.argmin(ok, axis=1))

    def delivered_by(self, last_arrival, docs: np.ndarray | None = None) -> np.ndarray:
        """Mask of seqs delivered once arrivals ``0..last_arrival`` are in
        (an int, or one per stream; for docs selected by the bool-per-stream
        ``docs``; others get arrivals 0 and 1 only)."""
        seq = np.arange(1, MAX_SEQ + 1)[None, :]
        arr = arrival(seq, self.dnum[:, None])
        limit = np.broadcast_to(last_arrival, self.dnum.shape)
        if docs is not None:
            limit = np.where(docs, last_arrival, 1)
        return arr <= limit[:, None]

    def segments(self, lo: np.ndarray, hi: np.ndarray) -> pd.DataFrame:
        """Expected ``(doc_id, session, sink, n, s0, s1)`` for each stream's
        seqs ``lo+1 .. hi``; streams with an empty range are omitted."""
        keep = np.nonzero(hi > lo)[0]
        p_lo = (self.offset[keep] + lo[keep]) * CHUNK + 1
        p_hi = np.minimum((self.offset[keep] + hi[keep]) * CHUNK, self.n_tok[keep])
        n = p_hi - p_lo + 1
        s0 = np.zeros(len(keep), np.int64)
        s1 = np.zeros(len(keep), np.int64)
        block = 4096
        for b in range(0, len(keep), block):
            nb = n[b:b + block]
            starts = np.concatenate([[0], np.cumsum(nb)[:-1]])
            idx = np.repeat(np.arange(len(nb)), nb)
            rel = np.arange(int(nb.sum())) - starts[idx]
            tok = tokens(self.dnum[keep[b:b + block]][idx], p_lo[b:b + block][idx] + rel, self.seed)
            s0[b:b + block] = np.add.reduceat(tok, starts)
            s1[b:b + block] = np.add.reduceat(tok * (rel + 1), starts)
        return pd.DataFrame({
            "doc_id": [f"doc{d:09d}" for d in self.dnum[keep]],
            "session": np.where(self.second[keep], SESSION_BASE + SESSION_STEP, SESSION_BASE),
            "sink": [f"sink{k}" for k in self.sink[keep]],
            "n": n, "s0": s0, "s1": s1,
        }).sort_values(["doc_id", "session"], ignore_index=True)


def combine(segs: pd.DataFrame, order: str) -> pd.DataFrame:
    """Fold per-segment ``(n, s0, s1)`` rows of one output into one row per
    stream, concatenating segments in ``order`` (run id or last seq)."""
    segs = segs.sort_values(["doc_id", "session", order], ignore_index=True)
    offset = segs.groupby(["doc_id", "session"])["n"].cumsum() - segs["n"]
    segs = segs.assign(s1=segs["s1"] + offset * segs["s0"])
    return (
        segs.groupby(["doc_id", "session"], as_index=False)
        .agg(sink=("sink", "first"), n=("n", "sum"), s0=("s0", "sum"), s1=("s1", "sum"),
             n_sinks=("sink", "nunique"))
    )


def sink_totals(streams: pd.DataFrame) -> dict:
    """Per-sink ``(n_rows, sum_n_tok, n_docs)``."""
    g = streams.groupby("sink")
    return {
        k: (int(r.n_rows), int(r.sum_n_tok), int(r.n_docs))
        for k, r in pd.DataFrame({
            "n_rows": g.size(), "sum_n_tok": g["n"].sum(), "n_docs": g["doc_id"].nunique(),
        }).iterrows()
    }


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Differences between per-stream summaries (empty list = equal)."""
    cols = ["doc_id", "session", "sink", "n", "s0", "s1"]
    got = got.sort_values(["doc_id", "session"], ignore_index=True)
    errors = []
    if "n_sinks" in got and (got["n_sinks"] > 1).any():
        errors.append("a stream was routed to more than one sink")
    if len(got) != len(want):
        errors.append(f"{len(got)} streams in the output, {len(want)} expected")
        return errors
    for c in cols:
        bad = (got[c].to_numpy() != want[c].to_numpy())
        if bad.any():
            i = int(np.argmax(bad))
            errors.append(
                f"{int(bad.sum())} streams differ in {c}, first "
                f"{want['doc_id'][i]}/{want['session'][i]}: {got[c][i]} != {want[c][i]}"
            )
    return errors
