from __future__ import annotations

import pandas as pd
import pytest

from log_aggregator_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


def make_chunks(rows):
    """rows: (doc_id, session, seq, chunk_tokens, source)."""
    return pd.DataFrame(
        rows, columns=["doc_id", "session", "seq", "chunk_tokens", "source"]
    )


def chunks_df(spark, rows):
    pdf = make_chunks(rows)
    return spark.createDataFrame(
        pdf,
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )


class FakeState:
    """Minimal GroupState double for kernel-level tests."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None and not self.removed

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms
