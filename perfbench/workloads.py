"""The three workloads: set-up, the closed measurement loop, the output
check and the traced run.

Every workload has one caller: the next unit of work starts when the
previous one returns. A unit is one ``job.run_job`` call (backlog, trickle)
or one micro-batch of ``streaming.stream_reassemble`` (stream).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
import uuid
from urllib.parse import urlparse

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_aggregator_spark.job import JobState, run_job
from log_aggregator_spark.lineage import lineage_from_files
from log_aggregator_spark.operators.aggregate import sink_counts
from log_aggregator_spark.operators.enrich import enrich
from log_aggregator_spark.operators.parse import split_rejects
from log_aggregator_spark.operators.reassemble import (
    _gate_flags,
    held_from_flags,
    reassemble_from_flags,
)
from log_aggregator_spark.streaming.stream_pipeline import stream_reassemble
from log_aggregator_spark.tableio import SnapshotTable

from . import expected, inputs
from .sparkstats import SparkStats

# Docs per workload at scale 1. On 4 cores a run_job pass costs about 3 s
# however small its input (the fixed cost of its ~20 Spark jobs) and a
# stream micro-batch about the same. The sizes are kept small so that all
# of the benchmark's runs fit its total time limit: a run, set-up included,
# took about 70 s on a 4-core host running well below its best speed.
DOCS = {"backlog": 6_000, "trickle": 10_000, "stream": 8_000}
# fewest units a run measures, whatever --seconds says (a median needs three)
MIN_UNITS = 3
# The first pass of a fresh JVM costs about twice a warm one, and the next
# ones keep getting faster, by 10-20% in all, until about the fifth (the JVM
# is still compiling the hot paths). More warm-up passes do not fit the
# benchmark's total time limit, so backlog measures from the pass after this
# many, and a run short enough to stop at MIN_UNITS takes its median over
# the same passes every time.
WARMUP_PASSES = 2
STREAM_TIMEOUT_S = 120
# files the stream's set-up run delivers: the three smaller first files
STREAM_WARMUP_FILES = 3


def median(xs) -> float:
    return float(statistics.median(xs))


class Workload:
    """Shared loop: ``setup`` (timed into ``setup_s``), then units until the
    window closes. Subclasses define the unit and the check."""

    def __init__(self, spark: SparkSession, work: str, seed: int, n_docs: int) -> None:
        self.spark, self.work, self.seed, self.n_docs = spark, work, seed, n_docs
        self.routes = inputs.routes(spark)
        self.corpus = expected.Corpus(n_docs, seed)
        self.times: list[float] = []
        self.chunks = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, times: list[float], chunks: int, errors: list[str],
               sample: bool = True) -> None:
        """Account one unit of work (``times`` holds its time); an error
        fails it. ``sample=False`` counts the unit without adding its time
        to the samples."""
        self.attempted += len(times)
        if errors:
            self.failed += len(times)
            self.errors.extend(errors)
        elif sample:
            self.times.extend(times)
            self.chunks += chunks

    def loop(self, seconds: float) -> None:
        t0, n = time.perf_counter(), 0
        while self.more() and (time.perf_counter() - t0 < seconds or n < MIN_UNITS):
            n += 1
            try:
                times, chunks, errors = self.unit()
            except Exception as e:  # a raising pass is a failed pass
                traceback.print_exc()
                times, chunks, errors = [0.0], 0, [f"raised {e!r}"]
            self.record(times, chunks, errors)

    def more(self) -> bool:
        """Whether another unit can run."""
        return True

    def summary(self) -> dict:
        return {
            "pass_s": median(self.times) if self.times else 0.0,
            "chunks_per_s": self.chunks / sum(self.times) if self.times else 0.0,
            "fail_frac": self.failed / max(self.attempted, 1),
        }


def output_segments(df: DataFrame, order: str):
    """Per output row: keys, sink, ``order`` column and the ``(n, s0, s1)``
    token summary (see ``expected``) — with ``n_tok`` checked against the
    token array."""
    total = lambda arr: F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)  # noqa: E731
    pdf = df.select(
        "doc_id", "session", "sink", order, "n_tok",
        F.size("tokens").cast("long").alias("n"),
        total("tokens").alias("s0"),
        total(F.transform("tokens", lambda x, i: x.cast("long") * (i + 1))).alias("s1"),
    ).toPandas()
    bad = int((pdf["n_tok"] != pdf["n"]).sum())
    return pdf, ([f"{bad} rows whose n_tok is not their token count"] if bad else [])


def check_pass(routed: DataFrame, want, job_counts: dict | None) -> list[str]:
    """Compare one pass's routed rows with the expected per-stream segments
    and per-sink totals; ``job_counts`` is ``run_job``'s own post-commit
    ``sink_counts`` (n_rows per sink)."""
    segs, errors = output_segments(routed, "run_id")
    got = expected.combine(segs, "run_id")
    if len(got) != len(segs):
        errors.append("a stream has more than one routed row in one pass")
    errors += expected.compare(got, want)
    got_sinks, want_sinks = expected.sink_totals(got), expected.sink_totals(want)
    if got_sinks != want_sinks:
        errors.append(f"per-sink (n_rows, sum_n_tok, n_docs) {got_sinks} != {want_sinks}")
    if job_counts is not None and job_counts != {k: v[0] for k, v in want_sinks.items()}:
        errors.append(f"run_job sink_counts {job_counts} != expected")
    return errors


class BatchWorkload(Workload):
    """Backlog and trickle: units are ``run_job`` calls on a state prepared
    by ``fresh_state``."""

    def fresh_state(self) -> JobState:
        raise NotImplementedError

    def unit(self):
        state = self.fresh_state()
        t0 = time.perf_counter()
        res = run_job(self.spark, self.table, self.routes, state)
        dt = time.perf_counter() - t0
        errors = self.check(state, res)
        return [dt], self.unit_chunks, errors

    def check(self, state: JobState, res: dict) -> list[str]:
        if res.get("status") != "ok":
            return [f"run_job returned {res}"]
        routed = state.routed.read(self.spark).where(F.col("run_id") == res["run_id"])
        return check_pass(routed, self.want, res["sink_counts"])

    # ---- traced run -------------------------------------------------------

    def traced(self, stats: SparkStats, reps: int) -> dict:
        """``reps`` times: one real ``run_job`` pass with its Spark jobs
        attributed by call site, then one span-by-span replay of the same
        pass. Returns per-layer medians."""
        rows = []
        for _ in range(reps):
            row = self.real_pass(stats)
            row.update(self.replay(stats))
            rows.append(row)
        out = {k: median([r[k] for r in rows]) for k in rows[0]}
        spans = [k for k in out if k in SPANS]
        out["trace.overhead_frac"] = sum(out[k] for k in spans) / out["job.s"] - 1
        return out

    def real_pass(self, stats: SparkStats) -> dict:
        state = self.fresh_state()
        lo = stats.mark()
        t0 = time.perf_counter()
        res = run_job(self.spark, self.table, self.routes, state)
        wall = time.perf_counter() - t0
        hi = stats.mark()
        self.record([wall], self.unit_chunks, self.check(state, res))
        tot = stats.totals(lo, hi)
        cores = self.spark.sparkContext.defaultParallelism
        out = {
            "job.s": wall,
            "job.spark_jobs": tot["jobs"],
            "job.stages": tot["stages"],
            "job.exec_busy_frac": tot["exec_s"] / (wall * cores),
            "job.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "job.gc_frac": tot["gc_s"] / max(tot["exec_s"], 1e-9),
            "job.spill_bytes": tot["spill_bytes"],
        }
        out.update({f"job.site.{s}.s": 0.0 for s in SITES})
        members = {}
        for name in ("routed", "checkpoint", "held", "metrics", "rejects"):
            member = getattr(state, name)
            if member.exists():
                for f in member.read(self.spark).inputFiles():
                    members[os.path.dirname(urlparse(f).path)] = name
        seen_commit = False
        for e in stats.executions(lo, hi):
            if e["path"] is None:
                site = "sink_counts" if seen_commit else None
            elif "/staging/" in e["path"]:
                site = "staging_write"
            else:
                site = members.get(e["path"]) and f"commit.{members[e['path']]}"
                seen_commit = seen_commit or site is not None
            if site is not None:
                out[f"job.site.{site}.s"] += e["wall_s"]
        return out

    def replay(self, stats: SparkStats) -> dict:
        """``job._run_job_once`` call by call, each layer in its own span
        and job group; outputs are forced where the job forces them (the
        staging parquet, the commit, the sink-count collect) and by noop
        writes elsewhere. Commits into the state like the real pass, so its
        output is checked the same way."""
        spark, state, out = self.spark, self.fresh_state(), {}
        sc = spark.sparkContext

        def span(name, fn):
            sc.setJobGroup(name, name)
            lo = stats.mark()
            t0 = time.perf_counter()
            result = fn()
            out[f"{name}.s"] = time.perf_counter() - t0
            return result, stats.totals(lo, stats.mark())

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        def read_inputs():
            last = ckpt = prev_held = None
            if state.checkpoint.exists():
                last = state.checkpoint.lineage().get("chunks_snapshot")
                ckpt = state.checkpoint.read(spark)
            if state.held.exists():
                prev_held = state.held.read(spark)
            return last, ckpt, prev_held, self.table.read_incremental(spark, last)

        t_start = time.perf_counter()
        (last, ckpt, prev_held, new), _ = span("tableio.read_incremental", read_inputs)
        current = self.table.current_snapshot()
        ok, rejects = split_rejects(new)
        _, t = span("parse", noop(ok))
        out["parse.exec_s"] = t["exec_s"]
        parsed = ok
        if prev_held is not None:
            parsed = ok.unionByName(
                prev_held.select("doc_id", "session", "seq", "chunk_tokens", "source"))
        lin, _ = span("lineage", lambda: lineage_from_files(
            spark, self.table.incremental_files(last)))

        run_id = current or 0
        pass_id = (state.group.current_snapshot() or 0) + 1
        staging = f"{state.staging_root}/{uuid.uuid4().hex}"
        gc0 = stats.gc_s()
        _, t = span("reassemble.gate", lambda: _gate_flags(parsed, ckpt)
                    .write.mode("overwrite").parquet(staging))
        out["reassemble.gate.gc_s"] = stats.gc_s() - gc0
        for k in ("shuffle_write_bytes", "spill_bytes"):
            out[f"reassemble.gate.{k}"] = t[k]
        flagged = spark.read.parquet(staging)

        reassembled = reassemble_from_flags(flagged)
        _, t = span("reassemble.agg", noop(reassembled))
        out["reassemble.agg.shuffle_write_bytes"] = t["shuffle_write_bytes"]
        out["reassemble.agg.peak_mem_bytes"] = t["peak_mem_bytes"]
        enriched = enrich(reassembled, self.routes).withColumn(
            "run_id", F.lit(run_id).cast("long"))
        span("enrich", noop(enriched))

        held_full = held_from_flags(flagged)
        if prev_held is not None and "first_held_run" in prev_held.columns:
            held_full = held_full.join(
                prev_held.select("doc_id", "session", "seq", "first_held_run"),
                ["doc_id", "session", "seq"], "left",
            ).withColumn(
                "first_held_run",
                F.coalesce(F.col("first_held_run"), F.lit(pass_id)).cast("long"))
        else:
            held_full = held_full.withColumn("first_held_run", F.lit(pass_id).cast("long"))
        span("reassemble.held", noop(held_full))

        new_ckpt = reassembled.selectExpr(
            "doc_id", "session", "cast(last_seq_out as long) as last_seq")
        if ckpt is not None:
            new_ckpt = new_ckpt.unionByName(ckpt.join(
                new_ckpt.select("doc_id", "session"), ["doc_id", "session"], "left_anti"))
        tables = {
            "routed": (enriched, "append"),
            "checkpoint": (new_ckpt, "overwrite"),
            "held": (held_full, "overwrite"),
            "metrics": (lin.withColumn("run_id", F.lit(run_id).cast("long")), "append"),
            "rejects": (rejects.withColumn("run_id", F.lit(run_id).cast("long")), "append"),
        }
        before = _files(state.group.root)
        span("tableio.commit", lambda: state.group.commit(tables, lineage={
            "chunks_snapshot": current, "run_id": run_id, "pass_id": pass_id,
            "wall_sec": time.perf_counter() - t_start}))
        added = _files(state.group.root) - before
        out["tableio.commit.files"] = len(added)
        out["tableio.commit.bytes"] = sum(os.path.getsize(f) for f in added)
        counts, _ = span("aggregate.sink_counts", lambda: sink_counts(enriched).collect())
        sc.setJobGroup("perfbench.counts", "perfbench.counts")

        # counts, outside every span
        live = flagged.count()
        out["reassemble.gate.staging_bytes"] = sum(os.path.getsize(f) for f in _files(staging))
        out["reassemble.gate.accepted_frac"] = flagged.where("accepted").count() / max(live, 1)
        out["reassemble.agg.streams"] = reassembled.count()
        shutil.rmtree(staging, ignore_errors=True)
        out["parse.rows"] = ok.count()
        out["parse.rejects"] = rejects.count()
        out["enrich.rows"] = state.routed.read(spark).where(F.col("run_id") == run_id).count()
        out["reassemble.held.rows"] = state.held.read(spark).count()
        out["tableio.checkpoint_rows"] = state.checkpoint.read(spark).count()
        res = {"status": "ok", "run_id": run_id,
               "sink_counts": {r["sink"]: r["n_rows"] for r in counts}}
        self.record([time.perf_counter() - t_start], self.unit_chunks, self.check(state, res),
                    sample=False)
        sc._jsc.clearJobGroup()
        return out


def _files(root: str) -> set[str]:
    return {
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
        if f.startswith("part-") and not f.endswith(".crc")
    }


SPANS = [
    "tableio.read_incremental.s", "parse.s", "lineage.s", "reassemble.gate.s",
    "reassemble.agg.s", "enrich.s", "reassemble.held.s", "tableio.commit.s",
    "aggregate.sink_counts.s",
]
# call sites of a real pass's SQL executions (other executions, such as a
# schema read before the commit, are not attributed)
SITES = [
    "staging_write", "commit.routed", "commit.checkpoint", "commit.held",
    "commit.metrics", "commit.rejects", "sink_counts",
]


class Backlog(BatchWorkload):
    """Cold pass over one large first snapshot with fresh state: the
    row-bound path (parse, gate exchange and sort, reassembly aggregate,
    routed write) with empty checkpoint and held state."""

    def setup(self) -> None:
        self.table = inputs.backlog_table(
            self.spark, f"{self.work}/chunks", self.n_docs, self.seed)
        self.unit_chunks = self.corpus.n_chunk_rows()
        self._n = 0
        self.warmup_s = []
        for _ in range(WARMUP_PASSES):
            t0 = time.perf_counter()
            run_job(self.spark, self.table, self.routes, self.fresh_state())
            self.warmup_s.append(time.perf_counter() - t0)

    def prepare_check(self) -> None:
        c = self.corpus
        self.want = c.segments(np.zeros(len(c.m), np.int64),
                               c.prefix(c.delivered_by(expected.MAX_SEQ)))

    def fresh_state(self) -> JobState:
        self._n += 1
        shutil.rmtree(f"{self.work}/state-{self._n - 1}", ignore_errors=True)
        return JobState(f"{self.work}/state-{self._n}")


class Trickle(BatchWorkload):
    """Steady-state periodic pass: a resumed state of every stream (restored
    before each pass from a copy made in set-up, so each pass sees the same
    state) ingests one constant-size increment; a fixed share of its chunks
    arrived one pass early and re-gate out of the held cache. The two
    passes that build the state are the warm-up."""

    def setup(self) -> None:
        base, inc1, inc2 = inputs.trickle_parts(self.spark, self.n_docs, self.seed)
        self.table = SnapshotTable(f"{self.work}/chunks")
        self.golden = f"{self.work}/golden"
        golden = JobState(self.golden)
        self.table.commit(base)
        run_job(self.spark, self.table, self.routes, golden)
        self.table.commit(inc1)
        run_job(self.spark, self.table, self.routes, golden)
        self.table.commit(inc2)
        self._n = 0
        self.unit_chunks = 0

    def prepare_check(self) -> None:
        c = self.corpus
        trickle = (c.dnum % inputs.TRICKLE_MOD) < 2
        before = c.prefix(c.delivered_by(2, trickle))
        after = c.prefix(c.delivered_by(3, trickle))
        self.want = c.segments(before, after)
        self.want_total = c.segments(np.zeros(len(c.m), np.int64), after)
        golden = JobState(self.golden)
        self.increment = self.table.read_incremental(
            self.spark, golden.checkpoint.lineage()["chunks_snapshot"]).count()
        self.held_in = golden.held.read(self.spark).count()
        self.unit_chunks = self.increment + self.held_in
        self._invariant_checked = False

    def fresh_state(self) -> JobState:
        self._n += 1
        shutil.rmtree(f"{self.work}/state-{self._n - 1}", ignore_errors=True)
        path = f"{self.work}/state-{self._n}"
        # hard links: committed files are never rewritten in place (new
        # data dirs, O_EXCL manifests, CURRENT replaced by rename)
        shutil.copytree(self.golden, path, copy_function=os.link)
        return JobState(path)

    def check(self, state: JobState, res: dict) -> list[str]:
        errors = super().check(state, res)
        if not errors and not self._invariant_checked:
            # routed segments of every pass, concatenated in run order, equal
            # the single-run reassembly of everything delivered
            segs, errors = output_segments(state.routed.read(self.spark), "run_id")
            errors += expected.compare(expected.combine(segs, "run_id"), self.want_total)
            self._invariant_checked = True
        return errors


class Stream(Workload):
    """The chunks as parquet files read by ``stream_reassemble``
    (applyInPandasWithState gate, per-sink parquet sink), delivered one file
    at a time. A unit is one ``Trigger.AvailableNow`` run of the query over
    the one new file, resuming its state store from the checkpoint: one
    micro-batch, timed by its ``triggerExecution``. Set-up delivers the
    first ``STREAM_WARMUP_FILES`` files in one run; units then use the
    files of equal size (see ``inputs.STREAM_COHORTS``)."""

    def setup(self) -> None:
        self.files = inputs.stream_files(self.spark, f"{self.work}/files", self.n_docs, self.seed)
        self.n_files = len(self.files)
        self.src, self.out = f"{self.work}/src", f"{self.work}/out"
        os.makedirs(self.src)
        self.delivered = 0
        self.warmup = self.run_query(STREAM_WARMUP_FILES)
        self.warmup_s = [p.durationMs["triggerExecution"] / 1e3 for p in self.warmup]

    def prepare_check(self) -> None:
        c = self.corpus
        self.cohort = inputs.stream_cohort(c.dnum, self.n_docs)
        self.progress: list = []
        # the set-up run's output is checked too, as one unit without a time
        errors = [] if len(self.warmup) == STREAM_WARMUP_FILES else [
            f"{len(self.warmup)} micro-batches for {STREAM_WARMUP_FILES} files"]
        errors += self.check(_files(self.out), 0, one_batch=False)
        self.record([0.0], 0, errors, sample=False)

    def prefix(self, n_files: int) -> np.ndarray:
        """Per stream, the last seq emitted once ``n_files`` files are in."""
        c = self.corpus
        return c.prefix(c.delivered_by(inputs.stream_arrival_limit(self.cohort, n_files)))

    def check(self, files: set[str], before: int, one_batch: bool = True) -> list[str]:
        """The sink files of the run that delivered files ``before`` up to
        ``self.delivered``: per stream that moved, exactly its newly
        contiguous seqs (in one row when the run was one micro-batch)."""
        want = self.corpus.segments(self.prefix(before), self.prefix(self.delivered))
        segs, errors = output_segments(
            self.spark.read.option("basePath", self.out).parquet(*sorted(files)), "last_seq_out")
        got = expected.combine(segs, "last_seq_out")
        if one_batch and len(got) != len(segs):
            errors.append("a stream has more than one row in one micro-batch")
        return errors + expected.compare(got, want)

    def more(self) -> bool:
        return self.delivered < inputs.STREAM_COHORTS

    def run_query(self, n_new: int) -> list:
        """Deliver the next ``n_new`` files and run the query until it has
        read them; returns the progress of its micro-batches."""
        for f in self.files[self.delivered:self.delivered + n_new]:
            self.delivered += 1
            dst = os.path.join(self.src, os.path.basename(f))
            os.rename(f, dst)
            os.utime(dst, (1_000_000_000 + self.delivered,) * 2)
        query = (
            stream_reassemble(self.spark, self.src, self.routes, max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("checkpointLocation", f"{self.work}/checkpoint")
            .partitionBy("sink")
            .trigger(availableNow=True)
            .start(self.out)
        )
        try:
            done = query.awaitTermination(STREAM_TIMEOUT_S)
        finally:
            query.stop()
        if not done:
            raise TimeoutError(f"stream run did not drain in {STREAM_TIMEOUT_S} s")
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return [p for p in query.recentProgress if p.numInputRows > 0]

    def unit(self):
        before, files = self.delivered, _files(self.out)
        batches = self.run_query(1)
        errors = [] if len(batches) == 1 else [f"{len(batches)} micro-batches for one file"]
        errors += self.check(_files(self.out) - files, before)
        self.progress.extend(batches)
        return ([sum(p.durationMs["triggerExecution"] for p in batches) / 1e3],
                sum(p.numInputRows for p in batches), errors)

    def traced(self, stats: SparkStats, reps: int) -> dict:
        """``reps`` units; the streaming figures are the ones the query
        reports for each micro-batch."""
        for _ in range(reps):
            self.record(*self.unit())
        return streaming_metrics(self.progress)


def streaming_metrics(batches) -> dict:
    """Per-micro-batch figures from the query's own progress reports."""
    state = [p.stateOperators[0] for p in batches]

    def dur(*keys):
        return median([sum(p.durationMs.get(k, 0) for k in keys) / 1e3 for p in batches])

    return {
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.wal_commit_s": dur("walCommit", "commitOffsets"),
        "streaming.state_rows": max(s.numRowsTotal for s in state),
        "streaming.state_mem_bytes": max(s.memoryUsedBytes for s in state),
        "streaming.state_update_s": median([s.allUpdatesTimeMs / 1e3 for s in state]),
        "streaming.state_commit_s": median([s.commitTimeMs / 1e3 for s in state]),
        "streaming.rows_per_batch": median([p.numInputRows for p in batches]),
    }


WORKLOADS = {"backlog": Backlog, "trickle": Trickle, "stream": Stream}
