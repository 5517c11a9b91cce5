"""A corrupted copy of committed output is counted in ``fail_frac``."""

from __future__ import annotations

from pyspark.sql import functions as F

from log_aggregator_spark.job import run_job
from perfbench import workloads


def test_dropped_routed_row_counts_as_failed_pass(spark, tmp_path):
    w = workloads.Backlog(spark, str(tmp_path), seed=5, n_docs=200)
    w.setup()
    w.prepare_check()
    w.record(*w.unit())
    assert w.summary()["fail_frac"] == 0 and w.attempted == 1

    state = w.fresh_state()
    res = run_job(spark, w.table, w.routes, state)
    routed = state.routed.read(spark).where(F.col("run_id") == res["run_id"])
    copy = str(tmp_path / "corrupted")
    routed.exceptAll(routed.orderBy("doc_id", "session").limit(1)).write.parquet(copy)
    errors = workloads.check_pass(spark.read.parquet(copy), w.want, res["sink_counts"])
    assert errors
    w.record([1.0], w.unit_chunks, errors)
    assert w.attempted == 2 and w.failed == 1
    assert w.summary()["fail_frac"] == 0.5
