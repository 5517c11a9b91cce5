"""The closed-form reference equals the pandas oracle on generated chunks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from log_aggregator_spark import chunker
from log_aggregator_spark.oracle_pandas import reassemble_oracle
from perfbench import expected, inputs

N_DOCS, SEED = 1000, 7


@pytest.fixture(scope="module")
def chunks(spark):
    """The generated chunks with keys parsed by pandas, and the arrival
    index the Spark-side schedule assigned."""
    pdf = inputs.with_arrival(chunker.synth_chunks(spark, N_DOCS, seed=SEED)).toPandas()
    keys = pdf["envelope"].str.extract(r"^(doc\d+)_(\d+)_(\d+)\.pbData$")
    return pdf.assign(doc_id=keys[0], session=keys[1].astype("int64"),
                      seq=keys[2].astype("int64"))


def oracle_streams(chunks: pd.DataFrame) -> pd.DataFrame:
    out = reassemble_oracle(chunks[["doc_id", "session", "seq", "chunk_tokens", "source"]])
    tok = out["tokens"].map(lambda t: np.asarray(t, np.int64))
    return pd.DataFrame({
        "doc_id": out["doc_id"], "session": out["session"],
        "sink": out["source"].map(lambda s: f"sink{int(s[3:]) % expected.N_SINKS}"),
        "n": tok.map(len), "s0": tok.map(np.sum),
        "s1": tok.map(lambda t: int(np.sum(t * np.arange(1, len(t) + 1)))),
    }).sort_values(["doc_id", "session"], ignore_index=True)


def test_corpus_matches_generated_rows(chunks):
    c = expected.Corpus(N_DOCS, SEED)
    assert c.n_chunk_rows() == len(chunks)
    assert len(c.m) == chunks.groupby(["doc_id", "session"]).ngroups
    np.testing.assert_array_equal(
        expected.arrival(chunks["seq"].to_numpy(), chunks["dnum"].to_numpy()),
        chunks["arrival"].to_numpy())


def test_backlog_reference_equals_oracle(chunks):
    c = expected.Corpus(N_DOCS, SEED)
    want = c.segments(np.zeros(len(c.m), np.int64), c.prefix(c.delivered_by(expected.MAX_SEQ)))
    assert expected.compare(want, oracle_streams(chunks)) == []


@pytest.mark.parametrize("last_arrival", [1, 2, 3])
def test_trickle_reference_equals_oracle(chunks, last_arrival):
    """Single-run reassembly of everything delivered by ``last_arrival``
    (all arrivals up to 1 for every doc, later ones for trickle docs)."""
    c = expected.Corpus(N_DOCS, SEED)
    trickle = (c.dnum % inputs.TRICKLE_MOD) < 2
    want = c.segments(np.zeros(len(c.m), np.int64),
                      c.prefix(c.delivered_by(last_arrival, trickle)))
    on = (chunks["dnum"] % inputs.TRICKLE_MOD < 2)
    delivered = chunks[(chunks["arrival"] <= 1) | (on & (chunks["arrival"] <= last_arrival))]
    assert expected.compare(want, oracle_streams(delivered)) == []
    assert len(want) > 0


@pytest.mark.parametrize("n_files", [1, 3, 4, 9])
def test_stream_reference_equals_oracle(chunks, n_files):
    """Single-run reassembly of the chunks in the first ``n_files`` stream
    files (file = cohort + slice of the arrival)."""
    c = expected.Corpus(N_DOCS, SEED)
    limit = inputs.stream_arrival_limit(inputs.stream_cohort(c.dnum, N_DOCS), n_files)
    want = c.segments(np.zeros(len(c.m), np.int64), c.prefix(c.delivered_by(limit)))
    part = np.minimum((chunks["arrival"] + 1) // 2, inputs.STREAM_SLICES - 1)
    delivered = chunks[inputs.stream_cohort(chunks["dnum"], N_DOCS) + part < n_files]
    assert expected.compare(want, oracle_streams(delivered)) == []
    assert len(want) > 0


def test_compare_sees_one_changed_token():
    c = expected.Corpus(50, 1)
    want = c.segments(np.zeros(len(c.m), np.int64), c.prefix(c.delivered_by(expected.MAX_SEQ)))
    bad = want.copy()
    bad.loc[3, "s1"] += 1
    assert expected.compare(bad, want) and expected.compare(want, want) == []
