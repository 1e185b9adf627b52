"""Benchmark of the word-count engine: one workload per run.

    python3 perfbench/run.py --workload wc_zipf --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from ``--seed``
under ``.perfbench_work/`` (the program sees only those files), builds the
session with ``get_spark(cpus=os.cpu_count())``, and drives the engine from
one client with nothing concurrent.

``--trace 0`` measures the end-to-end metrics:

* ``setup_s``: ``get_spark`` until one trivial job has run (JVM start); the
  median of a set-up in a child process and the run's own set-up.
* ``cold_job_s``: the first job on the workload input in a fresh session.
* ``job_s``: median wall time of the warm jobs run in ``--seconds`` (at
  least three, after one untimed warm-up job), from input to complete result
  (both listings written, or the cluster map collected).

It also prints, as comment lines, ``failed_frac``, ``throughput_mb_s`` (input
MB / ``job_s``) and ``peak_rss_mb`` (peak RSS, VmHWM, of the driver JVM read
from /proc).

Every job's output is checked against the generator's ground truth; a job
that raises or fails its check counts in ``failed``.

``--trace 1`` runs traced iterations of prefix plans (see spans.py) between
untraced jobs and reports the per-layer metrics; the spans are written to
``.perfbench_work/<workload>-<seed>/spans.jsonl``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "parallel_map_reduce_word_counter_for_one_machine_spark"
CHILD_TIMEOUT_S = 120
MAX_FAILURES = 3
# The first warm jobs still get faster as the JIT compiles (dedup: 6.7, 5.4,
# 5.1 s). One untimed warm-up job skips the steepest step, and a floor on the
# count keeps job_s at the same point of the curve when the machine is
# slower and fewer jobs fit in the window.
WARMUP_JOBS = 1
MIN_WARM_JOBS = 3


def _isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and keep the console free of progress bars."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _start_session():
    """``get_spark`` on all cores plus one trivial job; (session, seconds)."""
    from parallel_map_reduce_word_counter_for_one_machine_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(cpus=os.cpu_count())
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _setup_in_child() -> float:
    """Time one set-up in a fresh interpreter and JVM."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-only"],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        timeout=CHILD_TIMEOUT_S,
        check=True,
        text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["setup_s"]


class Ledger:
    """Counts attempted and failed jobs; keeps the first failure's reason."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.first_error = None

    def run(self, job, check):
        """Run ``job()`` and ``check`` its result; (wall time, result), or
        None if the job raised or failed its check."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            result = job()
            elapsed = time.perf_counter() - t0
            errors = check(result)
        except Exception:  # a failed job is a measurement, not a crash
            errors = [traceback.format_exc()]
        if errors:
            self.failed += 1
            self.first_error = self.first_error or "; ".join(errors)
            if self.failed > MAX_FAILURES:
                raise RuntimeError(f"{self.failed} jobs failed: {self.first_error}")
            return None
        return elapsed, result


def _measure(workload, seconds: float, ledger: Ledger) -> dict:
    setups = [_setup_in_child()]
    spark, setup = _start_session()
    setups.append(setup)
    job = lambda: workload.run_job(spark)  # noqa: E731
    try:
        cold = ledger.run(job, workload.check)
        for _ in range(WARMUP_JOBS):
            ledger.run(job, workload.check)
        times = []
        deadline = time.perf_counter() + seconds
        while len(times) < MIN_WARM_JOBS or time.perf_counter() < deadline:
            done = ledger.run(job, workload.check)
            if done:
                times.append(done[0])
        rss = _peak_rss_mb(spark)
    finally:
        _stop_session(spark)
    if cold is None:
        raise RuntimeError(f"the cold job failed: {ledger.first_error}")
    job_s = statistics.median(times)
    print(f"# setups {_fmt(setups)} s; warm jobs {_fmt(times)} s")
    # Printed, not gated. Throughput is input MB / job_s, so the job_s gate
    # already bounds it. Whether G1 grows the heap during a run depends on
    # GC timing, so the peak RSS is bimodal from run to run.
    print(f"# throughput_mb_s {workload.input_mb / job_s:.6g} MB/s "
          f"({workload.input_mb:.2f} MB input)")
    print(f"# peak_rss_mb {rss:.1f} MB (driver JVM VmHWM)")
    return {
        "setup_s": statistics.median(setups),
        "cold_job_s": cold[0],
        "job_s": job_s,
    }


def _fmt(values) -> str:
    return ", ".join(f"{v:.3f}" for v in values)


# Metric names and units, in BENCHMARK.json's order.
E2E_UNITS = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.read_amplification": "ratio",
    "wordcount.tokenize_s": "s",
    "wordcount.tokens": "count",
    "wordcount.aggregate_s": "s",
    "wordcount.distinct_words": "count",
    "wordcount.listing_s": "s",
    "exchange.shuffle_write_mb": "MB",
    "exchange.spill_mb": "MB",
    "dedup.lsh_pairs_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_frac": "ratio",
    "graphdedup.closure_s": "s",
    "graphdedup.spark_jobs": "count",
    "executor.busy_frac": "ratio",
    "executor.gc_s": "s",
    "driver.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.unspanned_frac": "ratio",
}


def _trace(workload, seconds: float, ledger: Ledger, spans_path: str) -> dict:
    from spans import Tracer

    spark, setup = _start_session()
    job = lambda: workload.run_job(spark)  # noqa: E731
    try:
        ledger.run(job, workload.check)  # warm-up
        tracer = Tracer(spark)
        untraced, roots = [], []
        loop_start = time.perf_counter()
        deadline = loop_start + seconds
        while not (roots and untraced) or time.perf_counter() < deadline:
            # Untraced right after traced, so both see about the same JIT
            # warm-up when their times are compared.
            done = ledger.run(
                lambda: workload.trace(spark, tracer),
                lambda traced: workload.check(traced[1]),
            )
            if done:
                roots.append(done[1][0])
            done = ledger.run(job, workload.check)
            if done:
                untraced.append(done[0])
        loop_wall = time.perf_counter() - loop_start
        metrics = dict.fromkeys(LAYER_UNITS, 0.0)
        metrics.update(workload.layer_metrics(spark, tracer, roots))
        cores = spark.sparkContext.defaultParallelism
        rss = _peak_rss_mb(spark)
    finally:
        _stop_session(spark)
    tracer.dump(spans_path)

    metrics["session.start_s"] = setup
    root_spans = [tracer.spans[r] for r in roots]
    traced_job = statistics.median(s.duration for s in root_spans)
    c = root_spans[0].counters
    metrics["exchange.shuffle_write_mb"] = c["shuffle_write_bytes"] / 1e6
    metrics["exchange.spill_mb"] = c["spill_bytes"] / 1e6
    metrics["executor.busy_frac"] = statistics.median(
        s.counters["run_time_ms"] / 1000.0 / (s.duration * cores) for s in root_spans
    )
    metrics["executor.gc_s"] = statistics.median(
        s.counters["gc_time_ms"] / 1000.0 for s in root_spans
    )
    metrics["driver.peak_rss_mb"] = rss
    metrics["trace.overhead_s"] = traced_job - statistics.median(untraced)
    mult = tracer.multiplicity(roots[0])
    layer_self = {
        name: statistics.median(v) for name, v in tracer.self_times_by_name(roots).items()
    }
    accounted = sum(mult[n] * layer_self[n] for n in mult)
    spanned = sum(s.duration for s in tracer.spans)
    unspanned = loop_wall - spanned - sum(untraced)
    metrics["trace.unspanned_frac"] = unspanned / loop_wall

    print(f"# traced job (median of {len(roots)}): {traced_job:.3f} s; "
          f"untraced job (median of {len(untraced)}): "
          f"{statistics.median(untraced):.3f} s")
    for name in sorted(mult, key=lambda n: mult[n]):
        print(f"#   {name:<22} self {layer_self[name]:8.3f} s  x{mult[name]}  "
              f"= {mult[name] * layer_self[name] / traced_job:6.1%} of the job")
    print(f"#   sum of weighted self times: {accounted:.3f} s")
    print(f"# traced loop wall {loop_wall:.3f} s = spans {spanned:.3f} s "
          f"+ untraced jobs {sum(untraced):.3f} s "
          f"+ output checks and counter reads {unspanned:.3f} s")
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    _isolate_environment()

    if args.setup_only:
        spark, setup = _start_session()
        _stop_session(spark)
        print(json.dumps({"setup_s": setup}))
        return 0

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: --workload must be one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.perf_counter()
    workload.generate(run_dir, args.seed)
    print(f"# {args.workload} seed {args.seed}: {workload.describe()}; "
          f"generated in {time.perf_counter() - t0:.1f} s")

    ledger = Ledger()
    if args.trace:
        spans = os.path.join(run_dir, "spans.jsonl")
        metrics = _trace(workload, args.seconds, ledger, spans)
        units = LAYER_UNITS
        print(f"# spans written to {os.path.relpath(spans, ROOT)}")
    else:
        metrics = _measure(workload, args.seconds, ledger)
        units = E2E_UNITS
    print(f"# failed_frac {ledger.failed / ledger.attempted:.4f} ratio "
          f"({ledger.failed} of {ledger.attempted} jobs)")
    if ledger.first_error:
        print(f"# first failure: {ledger.first_error}", file=sys.stderr)
    for name, value in metrics.items():
        print(f"# {name} {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
