"""Pure-pandas reference oracle (no Spark) for the decoder semantics
(SURVEY.md §5.2 item 1). Deliberately written as a naive, row-wise-obvious
transcription of the reference decoder loop
(``/root/reference/datadecoder/.../DataPumpDecoderSort.java:142-181``) so the
Spark operators are checked against an independent implementation style.
"""

from __future__ import annotations

import pandas as pd


def reassemble_oracle(
    chunks: pd.DataFrame, checkpoint: pd.DataFrame | None = None
) -> pd.DataFrame:
    """chunks: (doc_id, session, seq, chunk_tokens[list], source) in ANY order,
    duplicates allowed. checkpoint: (doc_id, session, last_seq) or None.
    Returns one row per stream that emitted tokens:
    (doc_id, session, tokens[list], n_tok, source, last_seq_out)."""
    ckpt: dict[tuple, int] = {}
    if checkpoint is not None:
        for r in checkpoint.itertuples(index=False):
            ckpt[(r.doc_id, r.session)] = int(r.last_seq)

    out = []
    for (doc_id, session), g in chunks.groupby(["doc_id", "session"], sort=True):
        last = ckpt.get((doc_id, session), 0)  # absent ⇒ 0 (SequenceTracker:105-113)
        # The reference gate, verbatim (DataPumpDecoderSort.java:157-178):
        # for each candidate seq ascending: emit iff seq == last+1 OR last == 0.
        # (duplicates collapsed first — the documented "no duplicate lines"
        # intent; a dup of an already-emitted seq fails both arms anyway
        # except the pathological dup-of-seq-0.)
        seen = set()
        emitted: list[int] = []
        cur = last
        # (seq, payload) ordering: among duplicate seqs the engine's
        # survivor is the lexicographically-least payload (gate_select's
        # documented rule — arrival order is undefined post-shuffle).
        g = g.assign(_pk=g["chunk_tokens"].map(tuple)).sort_values(["seq", "_pk"])
        for r in g.itertuples(index=False):
            s = int(r.seq)
            if s in seen:
                continue
            seen.add(s)
            if s == cur + 1 or cur == 0:
                cur = s
                emitted.extend(r.chunk_tokens)
        if emitted:
            out.append(
                {
                    "doc_id": doc_id,
                    "session": session,
                    "tokens": [int(t) for t in emitted],
                    "n_tok": len(emitted),
                    "source": g["source"].iloc[0],
                    "last_seq_out": cur,
                }
            )
    return pd.DataFrame(
        out,
        columns=["doc_id", "session", "tokens", "n_tok", "source", "last_seq_out"],
    )


def held_oracle(
    chunks: pd.DataFrame, checkpoint: pd.DataFrame | None = None
) -> pd.DataFrame:
    """The chunks a run leaves for a later pass, same inputs as
    ``reassemble_oracle``: per stream, every distinct live seq (above the
    checkpoint) that the gate loop did not emit, with the survivor payload.
    Returns (doc_id, session, seq, chunk_tokens[list], source)."""
    ckpt: dict[tuple, int] = {}
    if checkpoint is not None:
        for r in checkpoint.itertuples(index=False):
            ckpt[(r.doc_id, r.session)] = int(r.last_seq)

    out = []
    for (doc_id, session), g in chunks.groupby(["doc_id", "session"], sort=True):
        last = ckpt.get((doc_id, session), 0)
        seen = set()
        cur = last
        g = g.assign(_pk=g["chunk_tokens"].map(tuple)).sort_values(["seq", "_pk"])
        for r in g.itertuples(index=False):
            s = int(r.seq)
            if s in seen:
                continue
            seen.add(s)
            if s == cur + 1 or cur == 0:
                cur = s
            elif s > last:  # seq ≤ last was consumed by an earlier run
                out.append(
                    {
                        "doc_id": doc_id,
                        "session": session,
                        "seq": s,
                        "chunk_tokens": [int(t) for t in r.chunk_tokens],
                        "source": r.source,
                    }
                )
    return pd.DataFrame(
        out, columns=["doc_id", "session", "seq", "chunk_tokens", "source"]
    )
