"""Benchmark entry point.

    python3 perfbench/run.py --workload backlog --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

Runs one workload in a fresh Spark session on ``local[nproc]`` and prints
one line per metric (name, value, unit), a ``record:`` line with the run's
host shape, versions and input sizes, and, last, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. ``--workload all``
runs each workload in its own process and prints the end-to-end table.

Everything the run writes goes under ``.perfbench_work/`` at the root of
the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("backlog", "trickle", "stream")
TRACE_REPS = 3

END_TO_END = {"pass_s": "s", "chunks_per_s": "chunks/s", "setup_s": "s"}
PER_LAYER = {
    "parse.s": "s", "parse.rows": "count", "parse.rejects": "count", "parse.exec_s": "s",
    "reassemble.gate.s": "s", "reassemble.gate.shuffle_write_bytes": "bytes",
    "reassemble.gate.spill_bytes": "bytes", "reassemble.gate.gc_s": "s",
    "reassemble.gate.staging_bytes": "bytes", "reassemble.gate.accepted_frac": "ratio",
    "reassemble.agg.s": "s", "reassemble.agg.shuffle_write_bytes": "bytes",
    "reassemble.agg.peak_mem_bytes": "bytes", "reassemble.agg.streams": "count",
    "reassemble.held.s": "s", "reassemble.held.rows": "count",
    "enrich.s": "s", "enrich.rows": "count",
    "tableio.read_incremental.s": "s", "tableio.commit.s": "s",
    "tableio.commit.bytes": "bytes", "tableio.commit.files": "count",
    "tableio.checkpoint_rows": "count",
    "lineage.s": "s",
    "aggregate.sink_counts.s": "s",
    "job.s": "s", "job.spark_jobs": "count", "job.stages": "count",
    "job.exec_busy_frac": "ratio", "job.shuffle_write_bytes": "bytes",
    "job.gc_frac": "ratio", "job.spill_bytes": "bytes",
    "job.site.staging_write.s": "s", "job.site.commit.routed.s": "s",
    "job.site.commit.checkpoint.s": "s", "job.site.commit.held.s": "s",
    "job.site.commit.metrics.s": "s", "job.site.commit.rejects.s": "s",
    "job.site.sink_counts.s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "streaming.state_update_s": "s", "streaming.state_commit_s": "s",
    "streaming.rows_per_batch": "count",
    "run.peak_rss_mb": "MB", "run.speedup_1to4": "ratio", "trace.overhead_frac": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(cores: int, work: str):
    from log_aggregator_spark import session

    jvm_opts = f"{session._LOCALE_PIN} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    return session.get_spark("perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.executor.extraJavaOptions": jvm_opts,
    })


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def host() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"nproc": nproc(), "mem_total_mb": mem_kb // 1024, "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def run(name: str, seed: int, seconds: float, trace: bool, scale: float, work: str):
    from perfbench import inputs, workloads
    from perfbench.sparkstats import PeakRss, SparkStats

    n_docs = max(int(workloads.DOCS[name] * scale), 50)
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_spark(nproc(), work)
        try:
            w = workloads.WORKLOADS[name](spark, work, seed, n_docs)
            w.setup()
            setup_s = time.perf_counter() - t0
            w.prepare_check()
            layers = {}
            if not trace:
                w.loop(seconds)
            else:
                layers = w.traced(SparkStats(spark), TRACE_REPS)
                if isinstance(w, workloads.BatchWorkload):
                    # one pass more on one core: the 1 -> N core ratio
                    n_times = len(w.times)
                    spark.stop()
                    spark = w.spark = start_spark(1, work)
                    w.routes = inputs.routes(spark)
                    w.record(*w.unit())
                    one = w.times[n_times:]
                    layers["run.speedup_1to4"] = (
                        workloads.median(one) / workloads.median(w.times[:n_times])
                        if one else 0.0)
        finally:
            stop_spark(spark)
    summary = w.summary()
    metrics = {"pass_s": summary["pass_s"], "chunks_per_s": summary["chunks_per_s"], "setup_s": setup_s}
    if trace:
        metrics = {k: layers.get(k, 0.0) for k in PER_LAYER}
        metrics["run.peak_rss_mb"] = rss.peak_mb
    sizes = {"docs": n_docs, "streams": len(w.corpus.m), "chunks": w.corpus.n_chunk_rows(),
             "chunks_per_unit": getattr(w, "unit_chunks", None)}
    for k in ("increment", "held_in", "n_files"):
        if hasattr(w, k):
            sizes[k] = getattr(w, k)
    record = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
              "host": host(), "sizes": sizes, "unit_s": [round(t, 4) for t in w.times],
              "warmup_s": [round(t, 4) for t in getattr(w, "warmup_s", [])], "attempted": w.attempted,
              "failed": w.failed, "correct": w.failed == 0, "errors": w.errors[:5],
              "peak_rss_mb": round(rss.peak_mb, 1)}
    return w, metrics, summary, record


def run_all(args) -> int:
    """Each workload in its own process; prints the end-to-end table."""
    rows = []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
               "--scale", str(args.scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: failed with exit code {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        fail = next(line for line in lines if line.startswith("fail_frac"))
        rows.append((name, res, float(fail.split()[1])))
    print(f"{'workload':<9} {'pass_s (s)':>11} {'chunks_per_s (chunks/s)':>24} "
          f"{'setup_s (s)':>12} {'fail_frac (ratio)':>18}")
    for name, res, fail in rows:
        m = res["metrics"]
        print(f"{name:<9} {m['pass_s']['value']:>11.4f} {m['chunks_per_s']['value']:>24.1f} "
              f"{m['setup_s']['value']:>12.3f} {fail:>18.4f}")
    return 0 if all(res["correct"] for _, res, _ in rows) else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplies every workload's doc count (tests use a tiny scale)")
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not os.path.isfile(os.path.join(ROOT, "log_aggregator_spark", "job.py")):
        print(f"perfbench: no log_aggregator_spark package in {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file the run (JVM and Python workers included) writes in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no /tmp/hsperfdata_* either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    sys.path.insert(0, ROOT)
    try:
        w, metrics, summary, record = run(
            args.workload, args.seed, args.seconds, bool(args.trace), args.scale, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # when no other run is using it
        except OSError:
            pass

    units = PER_LAYER if args.trace else END_TO_END
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"fail_frac {summary['fail_frac']:.6g} ratio ({w.failed} of {w.attempted} units failed)")
    print(f"pass_s over {len(w.times)} units")
    print("record: " + json.dumps(record))
    print(json.dumps({
        "correct": record["correct"] and w.attempted > 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
