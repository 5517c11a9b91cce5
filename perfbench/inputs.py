"""Workload inputs, generated with ``chunker.synth_chunks`` from the seed.

The benchmark parses the envelope with its own regex (not the package's
parse operator) to decide when each chunk is delivered; ``expected.arrival``
is the numpy statement of the same schedule."""

from __future__ import annotations

import os
import shutil

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_aggregator_spark import chunker
from log_aggregator_spark.tableio import SnapshotTable

from . import expected

_KEYS = r"^doc(\d+)_(\d+)_(\d+)\.pbData$"
_COLS = ["envelope", "chunk_tokens", "source"]
# trickle: docs whose streams receive one chunk per pass (half of all docs;
# every early-arrival class is among them)
TRICKLE_MOD = 4
# stream: a chunk's slice is its arrival 0, 1-2, 3-4 or 5+.
# Docs are split into STREAM_COHORTS contiguous cohorts; cohort c delivers
# slice s in file c + s, so every file from STREAM_SLICES - 1 to
# STREAM_COHORTS - 1 holds one slice of each kind (from four cohorts) and
# the files in that range are of about equal size.
STREAM_SLICES = 4
STREAM_COHORTS = 40


def routes(spark: SparkSession) -> DataFrame:
    sources = spark.createDataFrame(
        [(f"src{k}",) for k in range(expected.N_SOURCES)], "source string")
    return chunker.routes_table(sources)


def with_arrival(chunks: DataFrame) -> DataFrame:
    dnum = F.regexp_extract("envelope", _KEYS, 1).cast("long")
    seq = F.regexp_extract("envelope", _KEYS, 3).cast("long")
    q = dnum % expected.EARLY_MOD
    u = seq - (q + 3)
    arrival = (
        F.when((q <= 1) & (u >= 0), F.when(u % 2 == 0, seq).otherwise(seq - 2))
        .otherwise(seq - 1)
    )
    return chunks.withColumn("dnum", dnum).withColumn("arrival", arrival)


def backlog_table(spark: SparkSession, root: str, n_docs: int, seed: int) -> SnapshotTable:
    """One snapshot holding the whole corpus."""
    table = SnapshotTable(root)
    table.commit(chunker.synth_chunks(spark, n_docs, seed=seed))
    return table


def trickle_parts(spark: SparkSession, n_docs: int, seed: int) -> list[DataFrame]:
    """Base snapshot (arrivals 0-1 of every doc) and two constant-size
    increments (arrival 2, then 3, of the trickle docs)."""
    c = with_arrival(chunker.synth_chunks(spark, n_docs, seed=seed))
    trickle = (F.col("dnum") % TRICKLE_MOD) < 2
    return [
        c.where(F.col("arrival") <= 1).select(_COLS),
        c.where(trickle & (F.col("arrival") == 2)).select(_COLS),
        c.where(trickle & (F.col("arrival") == 3)).select(_COLS),
    ]


def stream_cohort(dnum, n_docs: int):
    """Cohort of doc number ``dnum`` (numpy array or int)."""
    return dnum * STREAM_COHORTS // n_docs


def stream_arrival_limit(cohort, n_files: int):
    """Latest arrival of a cohort's chunks that is in the first ``n_files``
    files: slice ``s <= n_files - 1 - cohort`` holds arrivals up to ``2s``,
    the last slice all the rest."""
    last = n_files - 1 - cohort
    return np.where(last >= STREAM_SLICES - 1, 2 * expected.MAX_SEQ, 2 * last)


def stream_files(spark: SparkSession, dst: str, n_docs: int, seed: int) -> list[str]:
    """One parquet file per stream delivery, written to ``dst``; returns
    their paths in delivery order (file ``f`` holds slice ``s`` of cohort
    ``f - s`` for every slice)."""
    staged = dst + ".staged"
    c = with_arrival(chunker.synth_chunks(spark, n_docs, seed=seed))
    cohort = F.expr(f"cast(dnum * {STREAM_COHORTS} div {n_docs} as int)")
    part = F.least(F.floor((F.col("arrival") + 1) / 2), F.lit(STREAM_SLICES - 1))
    c = c.withColumn("file", (cohort + part).cast("int"))
    c.repartition("file").select(*_COLS, "file").write.partitionBy("file").parquet(staged)
    os.makedirs(dst)
    files = []
    for k, d in sorted(
        (int(d.split("=")[1]), d) for d in os.listdir(staged) if d.startswith("file=")
    ):
        [f] = [f for f in os.listdir(os.path.join(staged, d)) if f.endswith(".parquet")]
        files.append(os.path.join(dst, f"file-{k:03d}.parquet"))
        os.rename(os.path.join(staged, d, f), files[-1])
    shutil.rmtree(staged)
    return files
