#!/usr/bin/env python3
"""The repository benchmark: end-to-end and per-layer metrics of the
extraction engine on three seeded workloads (see README.md here).

    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

``--workload`` is one of the workloads in ``workloads.py`` or ``all``
(each workload then runs in its own process, one after another).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes the
traced run and prints the per-layer metrics. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. Any output that differs from the oracle exits non-zero.
``--smoke`` shrinks every input for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name → unit; the keys of BENCHMARK.json's end_to_end and per_layer
END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "py_worker_peak_rss_mb": "MB",
    "batch_latency_p50_s": "s",
    "batch_latency_p75_s": "s",
}
PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "session.first_setup_s": "s",
    "pipeline.python_run_s": "s",
    "pipeline.worker_init_s": "s",
    "pipeline.bytes_to_python_per_page": "B/page",
    "pipeline.bytes_from_python_per_page": "B/page",
    "pipeline.arrow_batches": "count",
    "pipeline.task_s.p50": "s",
    "pipeline.task_s.max": "s",
    "pipeline.task_skew": "ratio",
    "kernel.page_us.p50": "us",
    "kernel.page_us.p99": "us",
    "kernel.page_us.max": "us",
    "kernel.parse_s": "s",
    "kernel.plausibilize_s": "s",
    "kernel.rest_s": "s",
    "kernel.tail.parse_s": "s",
    "kernel.tail.plausibilize_s": "s",
    "kernel.candidates.max": "count",
    "kernel.pairs_examined": "count",
    "operators.langid.doc_us": "us",
    "operators.textstats.python_run_s": "s",
    "operators.textstats.bytes_to_python_per_row": "B/row",
    "operators.dedup.shuffle_write_bytes": "bytes",
    "operators.dedup.audit_s": "s",
    "jobs.corpus_job.exact_dedup_shuffle_bytes": "bytes",
    "jobs.corpus_job.write_s": "s",
    "jobs.corpus_job.output_bytes_per_input_byte": "ratio",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.peak_execution_memory_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.kernel_overhead_s": "s",
}
_PROGRESS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
}

SETUPS = 3  # session set-ups per run; setup_s is their median


def parallelism() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_gb() -> int:
    """A quarter of the box's RAM, at most 4 GB: the box is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


class Run:
    """One workload, one seed: set-ups, timed samples, checks, metrics."""

    def __init__(self, args) -> None:
        from probes import ExternalLoad
        from workloads import WORKLOADS

        self.args = args
        self.par = parallelism()
        self.dir = os.path.join(HERE, ".out", f"{args.workload}-s{args.seed}-t{args.trace}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.work = os.path.join(self.dir, "work")
        os.makedirs(os.path.join(self.work, "tmp"))
        # every file Spark, the JVM and Python workers create stays in here
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # the launcher JVM that spark-submit starts first: no /tmp/hsperfdata
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.wl = WORKLOADS[args.workload](self.work, self.par, args.smoke)
        self.ext = ExternalLoad()
        self.tracer = None
        if args.trace:
            from tracing import Tracer

            self.tracer = Tracer(f"{args.workload}-s{args.seed}")

    def session(self, traced: bool = False):
        from ocrd_segment_spark.session import build_session

        extra = {
            "spark.driver.memory": f"{driver_memory_gb()}g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if traced:
            self.eventlog = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = build_session(app=f"perfbench-{self.args.workload}",
                              master=f"local[{self.par}]", extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        self.arrow_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        return spark

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def setup(self) -> list[tuple[float, float]]:
        """SETUPS fresh sessions, each timed through its warm-up action.
        The first also launches the JVM; the last one stays open."""
        setups = []
        spark = None
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            with self.span("session.setup"):
                t0 = time.perf_counter()
                with self.span("session.build"):
                    spark = self.session()
                t1 = time.perf_counter()
                with self.span("session.warmup"):
                    self.wl.warmup(spark, k)
                setups.append((t1 - t0, time.perf_counter() - t1))
        self.spark = spark
        return setups

    def measure(self, seconds: float) -> tuple[list[dict], int]:
        """Timed samples for ``seconds`` (at least ``min_samples``), each
        checked right after; returns them and the failures found at end."""
        spark, wl = self.spark, self.wl
        wl.begin(spark)
        samples = []
        deadline = time.monotonic() + seconds
        while time.monotonic() < deadline or len(samples) < wl.min_samples:
            i = len(samples)
            wl.before(spark, i)
            self.ext.start()
            with self.span("sample"):
                w0 = time.time()
                t0 = time.perf_counter()
                pages = wl.sample(spark, i)
                dt = time.perf_counter() - t0
                w1 = time.time()
            avg, peak = self.ext.stop()
            with self.span("check"):
                bad = wl.check(i)
            samples.append({"s": dt, "pages": pages, "failed": bad, "ext_cores": avg,
                            "ext_peak_1s": peak, "t0_ms": w0 * 1e3, "t1_ms": w1 * 1e3})
        with self.span("check.end"):
            return samples, wl.end(spark)


def end_to_end(setups, samples, rss_mb, stream: bool):
    """The metrics, and for each the (IQR/median, n) of what it summarises."""
    from probes import quantile, spread

    times = [s["s"] for s in samples]
    setup = [b + w for b, w in setups]
    pages = sum(s["pages"] for s in samples)
    metrics = {
        "setup_s": statistics.median(setup),
        # a batch sample is the whole input; the stream's rate is pages
        # over the time the system spent on them
        "pages_per_s": pages / sum(times) if stream else samples[0]["pages"] / statistics.median(times),
        "py_worker_peak_rss_mb": rss_mb,
        "batch_latency_p50_s": statistics.median(times),
        "batch_latency_p75_s": quantile(times, 0.75),
    }
    of_times = (spread(times), len(times))
    spreads = {"setup_s": (spread(setup), len(setup)), "pages_per_s": of_times,
               "py_worker_peak_rss_mb": (0.0, 1), "batch_latency_p50_s": of_times,
               "batch_latency_p75_s": of_times}
    return metrics, spreads


def per_layer(run: Run, setups, untraced, traced) -> dict[str, float]:
    """The traced run's layer metrics: Spark accumulators of the traced
    samples (medians), the kernel replay, and the stream's progress."""
    from tracing import EventLog, kernel_metrics, kernel_replay, langid_doc_us, spark_sample_metrics

    import inputs as I

    wl = run.wl
    out = {name: 0.0 for name in PER_LAYER}
    out["session.build_s"] = statistics.median(b for b, _ in setups)
    out["session.warmup_s"] = statistics.median(w for _, w in setups)
    out["session.first_setup_s"] = sum(setups[0])
    logs = os.listdir(run.eventlog)
    log = EventLog(os.path.join(run.eventlog, logs[0]))
    per_sample = [spark_sample_metrics(log, s["t0_ms"], s["t1_ms"], run.arrow_batch, wl.corpus_path)
                  for s in traced]
    for key in per_sample[0]:
        out[key] = statistics.median(m[key] for m in per_sample)
    if wl.corpus_path:
        out["jobs.corpus_job.output_bytes_per_input_byte"] = (
            I.dir_bytes(os.path.dirname(wl.corpus_path)) / wl.input.input_bytes())
    if wl.progress is not None:
        for key, phase in _PROGRESS.items():
            out[key] = statistics.median(p.get(phase, 0) for p in wl.progress)
    out["trace.overhead_s"] = (statistics.median(s["s"] for s in traced)
                               - statistics.median(s["s"] for s in untraced))
    htmls = wl.htmls()
    kernel_replay(htmls[:200])  # first calls pay imports and regex compiles
    plain, _ = kernel_replay(htmls)
    with run.span("kernel.replay"):
        wrapped, texts = kernel_replay(htmls, run.tracer)
    out.update(kernel_metrics(run.tracer))
    out["trace.kernel_overhead_s"] = wrapped - plain
    out["operators.langid.doc_us"] = langid_doc_us(texts)
    return out


def run_one(args) -> int:
    from probes import WorkerRSS

    run = Run(args)
    wl = run.wl
    load_1m = os.getloadavg()[0]
    wl.prepare(args.seed)
    with WorkerRSS() as rss:
        setups = run.setup()
        seconds = args.seconds / 2 if args.trace else args.seconds
        samples, end_failed = run.measure(seconds)
        traced = []
        if args.trace:
            run.spark.stop()
            run.spark = run.session(traced=True)
            wl.warmup(run.spark, SETUPS)
            traced, more = run.measure(seconds)
            end_failed += more
    run.spark.stop()
    _stop_jvm()
    everything = samples + traced
    attempted = sum(s["pages"] for s in everything) + wl.untimed_pages
    failed = sum(s["failed"] for s in everything) + end_failed + wl.untimed_failed
    spreads = {}
    if args.trace:
        metrics = per_layer(run, setups, samples, traced)
        units = PER_LAYER
    else:
        metrics, spreads = end_to_end(setups, samples, rss.peak_mb, stream=wl.progress is not None)
        units = END_TO_END

    print(f"perfbench {wl.name} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"local[{run.par}] driver={driver_memory_gb()}g load_1m_start={load_1m:.2f}")
    for k, (b, w) in enumerate(setups):
        print(f"  setup {k}: build {b:.3f} s  warmup {w:.3f} s")
    for i, s in enumerate(everything):
        tag = "traced " if i >= len(samples) else ""
        print(f"  {tag}sample {i}: {s['s']:.4f} s  pages {s['pages']}  failed {s['failed']}  "
              f"ext_cores {s['ext_cores']}  ext_peak_1s {s['ext_peak_1s']}")
    for name, value in metrics.items():
        extra = ""
        if name in spreads:
            extra = "  IQR/median {:.3f}  n={}".format(*spreads[name])
        print(f"  {name:48s} {value:14.6g} {units[name]}{extra}")
    for note in wl.notes:
        print(f"  note: {note}")
    print(f"  output_digest {wl.digest}")
    print(f"  failed_share {failed / attempted:.6f} ({failed}/{attempted})")
    if run.tracer:
        run.tracer.write(os.path.join(run.dir, "spans.jsonl"))
    with open(os.path.join(run.dir, "report.json"), "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed, "trace": args.trace,
                   "load_1m_start": load_1m, "setups": setups, "samples": everything,
                   "digest": wl.digest, "metrics": metrics}, f, indent=1)
    shutil.rmtree(run.work, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


def _stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it, so no process outlives
    the benchmark."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_all(args) -> int:
    """Every workload in its own process, so none inherits another's
    Python workers, JVM heap or JIT state."""
    from workloads import WORKLOADS

    worst = 0
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        worst = worst or proc.returncode
        if proc.returncode not in (0, 1) or not lines:
            summary["correct"] = False
            continue
        result = json.loads(lines[-1])
        summary["correct"] &= result["correct"]
        summary["attempted"] += result["attempted"]
        summary["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            summary["metrics"][f"{name}.{k}"] = v
    print(json.dumps(summary), flush=True)
    return worst


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ocrd_segment_spark")):
        print(f"perfbench: no ocrd_segment_spark package in {ROOT}", file=sys.stderr)
        return 2
    # the Python workers Spark starts import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of: all, {', '.join(WORKLOADS)}")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
