"""Decoder/ordering oracles — the tests the reference lacks (SURVEY.md §5.1:
datadecoder has zero unit tests; §5.2 item 3 defines these cases from the
code semantics of DataPumpDecoderSort.java:142-181 + SequenceTracker.java).

Every case runs through the batch window plan (``reassemble_sql``), the
pipeline's from-flags builder (``plan_from_flags``) and the streaming state
kernel, and must match the pure-pandas oracles exactly — emitted streams and
held chunks alike.
"""

from __future__ import annotations

import pandas as pd
import pytest

from log_aggregator_spark.operators.reassemble import (
    _gate_flags,
    held_from_flags,
    reassemble_sql,
)
from log_aggregator_spark.oracle_pandas import held_oracle, reassemble_oracle
from log_aggregator_spark.plans.pipeline import plan_from_flags
from log_aggregator_spark.streaming.stream_pipeline import _make_gate

from conftest import FakeState, chunks_df, make_chunks


def _chunk(doc, sess, seq, toks, source="src0"):
    return (doc, sess, seq, toks, source)


CASES = {
    # name: (chunk rows, checkpoint rows or None)
    "in_order": ([_chunk("a", 10, 1, [1, 2]), _chunk("a", 10, 2, [3]), _chunk("a", 10, 3, [4, 5])], None),
    "shuffled": ([_chunk("a", 10, 3, [4, 5]), _chunk("a", 10, 1, [1, 2]), _chunk("a", 10, 2, [3])], None),
    "duplicate_seq": (
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2]), _chunk("a", 10, 2, [2]), _chunk("a", 10, 3, [3])],
        None,
    ),
    "duplicate_seq_diff_payload": (
        # survivor among equal seqs = lexicographically-least payload
        # (deterministic; NOT arrival order, which a shuffle
        # destroys). [2,9] loses to [2,10]? no: [2,9] < [2,10] elementwise
        # lexicographic on values → [2,9] wins; [0,7] < [2,9] → [0,7] wins.
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2, 9]), _chunk("a", 10, 2, [0, 7]), _chunk("a", 10, 3, [3])],
        None,
    ),
    "gap_holds_suffix": (
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2]), _chunk("a", 10, 4, [4]), _chunk("a", 10, 5, [5])],
        None,
    ),
    "midstream_init": ([_chunk("a", 10, 7, [7]), _chunk("a", 10, 8, [8])], None),
    "midstream_then_gap": ([_chunk("a", 10, 7, [7]), _chunk("a", 10, 9, [9])], None),
    "multisession": (
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2]), _chunk("a", 20, 1, [10]), _chunk("a", 20, 2, [11])],
        None,
    ),
    "multidoc": (
        [_chunk("a", 10, 1, [1], "s1"), _chunk("b", 10, 1, [2], "s2"), _chunk("b", 10, 3, [9], "s2")],
        None,
    ),
    "seq0_init_quirk": (
        # reference emits seq0 but keeps last==0 → next chunk init-accepted
        [_chunk("a", 10, 0, [0]), _chunk("a", 10, 5, [5]), _chunk("a", 10, 6, [6]), _chunk("a", 10, 9, [9])],
        None,
    ),
    "seq0_then_contiguous": (
        [_chunk("a", 10, 0, [0]), _chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2])],
        None,
    ),
    "resume_ok": (
        [_chunk("a", 10, 3, [3]), _chunk("a", 10, 4, [4])],
        [("a", 10, 2)],
    ),
    "resume_blocked": (
        # checkpoint expects seq 3; only 4.. present → emit nothing
        [_chunk("a", 10, 4, [4]), _chunk("a", 10, 5, [5])],
        [("a", 10, 2)],
    ),
    "resume_skips_consumed": (
        # seqs ≤ last are stale re-deliveries, must be ignored
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2]), _chunk("a", 10, 3, [3])],
        [("a", 10, 2)],
    ),
    "resume_seq0_consumed": (
        # last>0 ⇒ a seq0 chunk is stale, not init
        [_chunk("a", 10, 0, [0]), _chunk("a", 10, 2, [2])],
        [("a", 10, 1)],
    ),
    "resume_new_session_restart": (
        # truncation/rotation semantics (reference LogTail.java:60-82
        # MOVED/TRUNCATED → new session, seq restarts at 1): the OLD
        # session resumes against its checkpoint while the NEW session's
        # seq-1 restart is init-accepted (fresh key ⇒ last==0) — the
        # session component of the stream key is what dissolves the
        # reference's file-state detector into plain keyed state.
        [_chunk("a", 10, 3, [3]), _chunk("a", 20, 1, [10]), _chunk("a", 20, 2, [11])],
        [("a", 10, 2)],
    ),
}


def _ckpt_df(spark, rows):
    if rows is None:
        return None
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "session", "last_seq"]),
        schema="doc_id string, session long, last_seq long",
    )


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["tokens"] = pdf["tokens"].apply(lambda a: [int(x) for x in a])
    return (
        pdf.sort_values(["doc_id", "session"]).reset_index(drop=True)
        [["doc_id", "session", "tokens", "n_tok", "source", "last_seq_out"]]
        .astype({"session": "int64", "n_tok": "int64", "last_seq_out": "int64"})
    )


def _ckpt_pdf(ckpt_rows):
    if not ckpt_rows:
        return None
    return pd.DataFrame(ckpt_rows, columns=["doc_id", "session", "last_seq"])


def _oracle(rows, ckpt_rows):
    return _normalize(reassemble_oracle(make_chunks(rows), _ckpt_pdf(ckpt_rows)))


def _normalize_held(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["chunk_tokens"] = pdf["chunk_tokens"].apply(lambda a: [int(x) for x in a])
    return (
        pdf.sort_values(["doc_id", "session", "seq"]).reset_index(drop=True)
        [["doc_id", "session", "seq", "chunk_tokens", "source"]]
        .astype({"session": "int64", "seq": "int64"})
    )


@pytest.mark.parametrize("name", sorted(CASES))
def test_gate_matches_oracle(spark, name):
    rows, ckpt_rows = CASES[name]
    got = reassemble_sql(chunks_df(spark, rows), _ckpt_df(spark, ckpt_rows))
    pd.testing.assert_frame_equal(_normalize(got.toPandas()), _oracle(rows, ckpt_rows))


def test_union_of_cases_matches_oracle(spark):
    """All cases in one df (doc ids suffixed per case) — many streams per
    partition, each gated independently. Checkpoint-free: a checkpoint row
    would apply to every case sharing its stream key."""
    all_rows = []
    for i, (rows, _) in enumerate(CASES.values()):
        all_rows += [(f"{d}#{i}", s, q, t, src) for (d, s, q, t, src) in rows]
    got = _normalize(reassemble_sql(chunks_df(spark, all_rows)).toPandas())
    pd.testing.assert_frame_equal(got, _oracle(all_rows, None))


def _held(spark, rows, ckpt_rows):
    flags = _gate_flags(chunks_df(spark, rows), _ckpt_df(spark, ckpt_rows))
    return held_from_flags(flags).toPandas().sort_values("seq")


def test_held_back(spark):
    rows, _ = CASES["gap_holds_suffix"]
    held = _held(spark, rows, None)
    assert list(held["seq"]) == [4, 5]
    assert [list(t) for t in held["chunk_tokens"]] == [[4], [5]]


def test_held_back_resume_blocked(spark):
    rows, ckpt_rows = CASES["resume_blocked"]
    assert list(_held(spark, rows, ckpt_rows)["seq"]) == [4, 5]


@pytest.mark.parametrize("name", sorted(CASES))
def test_held_matches_oracle(spark, name):
    rows, ckpt_rows = CASES[name]
    flags = _gate_flags(chunks_df(spark, rows), _ckpt_df(spark, ckpt_rows))
    got = _normalize_held(held_from_flags(flags).toPandas())
    want = _normalize_held(held_oracle(make_chunks(rows), _ckpt_pdf(ckpt_rows)))
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("name", sorted(CASES))
def test_plan_from_flags_matches_oracle(spark, name):
    """The one from-flags builder ``run_pipeline`` and ``run_job`` share:
    reassembled streams and the checkpoint rows of the streams that
    emitted, per case."""
    rows, ckpt_rows = CASES[name]
    routes = spark.createDataFrame(
        [(src, "sinkA", 0) for src in sorted({r[4] for r in rows})],
        schema="source string, sink string, priority int",
    )
    res = plan_from_flags(
        _gate_flags(chunks_df(spark, rows), _ckpt_df(spark, ckpt_rows)), routes
    )
    want = _oracle(rows, ckpt_rows)
    pd.testing.assert_frame_equal(_normalize(res.reassembled.toPandas()), want)
    got_ckpt = (
        res.checkpoint_out.toPandas()
        .sort_values(["doc_id", "session"]).reset_index(drop=True)
        .astype({"session": "int64", "last_seq": "int64"})
    )
    want_ckpt = want[["doc_id", "session", "last_seq_out"]].rename(
        columns={"last_seq_out": "last_seq"}
    )
    pd.testing.assert_frame_equal(got_ckpt, want_ckpt)


@pytest.mark.parametrize("name", sorted(CASES))
def test_stream_gate_matches_oracle(name):
    """The streaming ``applyInPandasWithState`` kernel, driven per stream
    with all of a case's chunks in one micro-batch; a checkpoint row
    becomes the stream's starting state. Emitted segments and the held
    buffer it leaves in state must match the oracles."""
    rows, ckpt_rows = CASES[name]
    chunks = make_chunks(rows)
    ckpt = {(d, s): q for (d, s, q) in ckpt_rows or []}
    gate = _make_gate(None)
    emitted, held = [], []
    for (doc_id, session), g in chunks.groupby(["doc_id", "session"], sort=True):
        last = ckpt.get((doc_id, session))
        st = FakeState(value=None if last is None else (last, [], [], None))
        emitted += list(gate((doc_id, session), iter([g]), st))
        _, held_seqs, held_tokens, source = st.get
        held += [
            (doc_id, session, q, t, source) for q, t in zip(held_seqs, held_tokens)
        ]
    got = (
        pd.concat(emitted, ignore_index=True)
        if emitted
        else pd.DataFrame(columns=["doc_id", "session", "tokens", "n_tok", "source", "last_seq_out"])
    )
    pd.testing.assert_frame_equal(_normalize(got), _oracle(rows, ckpt_rows))
    pd.testing.assert_frame_equal(
        _normalize_held(make_chunks(held)),
        _normalize_held(held_oracle(chunks, _ckpt_pdf(ckpt_rows))),
    )
