"""Tracing for the benchmark's traced run (``--trace 1``).

Two sources, both read from the benchmark's own files:

- spans recorded in memory around calls into the kernel's public
  functions, during a single-process replay of the workload's pages
  (``kernel_replay``), written out as JSON lines at the end;
- Spark's own per-task and per-plan-node accumulators, read back from
  the uncompressed event log of the traced session (``EventLog``). The
  event log carries the raw values (the REST endpoint formats them,
  e.g. ``3.7 s``), and the same accumulators the SQL tab shows.
"""

from __future__ import annotations

import contextlib
import json
import math
import statistics
import time

from probes import quantile


class Tracer:
    """Spans (id, name, start, end, parent, run id, attrs), kept in memory."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[list] = []
        self._stack: list[int] = []

    def begin(self, name: str) -> list:
        span = [len(self.spans), name, time.perf_counter(), None,
                self._stack[-1] if self._stack else None, {}]
        self.spans.append(span)
        self._stack.append(span[0])
        return span

    def end(self, span: list) -> None:
        span[3] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, start, end, parent, attrs in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "run_id": self.run_id, **attrs,
                }) + "\n")


# ---- kernel replay ---------------------------------------------------------


@contextlib.contextmanager
def _kernel_wrappers(tracer: Tracer):
    """Wrap the module attributes the kernel calls through, so each call
    records a span; the originals come back on exit."""
    from ocrd_segment_spark.kernel import extract as kx, intervals

    orig = (kx.parse_html, intervals.plausibilize, kx.extract_document)

    def parse_html(html):
        with tracer.span("kernel.parse_html"):
            return orig[0](html)

    def plausibilize(starts, *args, **kwargs):
        with tracer.span("kernel.plausibilize") as s:
            s[5]["n"] = len(starts)
            return orig[1](starts, *args, **kwargs)

    def extract_document(html, *args, **kwargs):
        with tracer.span("kernel.extract_document") as s:
            out = orig[2](html, *args, **kwargs)
            s[5]["n_candidates"] = out[2]["n_candidates"]
            return out

    kx.parse_html, intervals.plausibilize, kx.extract_document = (
        parse_html, plausibilize, extract_document)
    try:
        yield
    finally:
        kx.parse_html, intervals.plausibilize, kx.extract_document = orig


def kernel_replay(htmls: list, tracer: Tracer | None = None) -> tuple[float, list[str]]:
    """Run the kernel over every page in this process. Returns the wall
    time and the extracted texts; with a tracer, spans are recorded."""
    from ocrd_segment_spark.kernel import extract as kx

    with _kernel_wrappers(tracer) if tracer else contextlib.nullcontext():
        t0 = time.perf_counter()
        texts = [kx.extract_document(h)[0] for h in htmls]
        return time.perf_counter() - t0, texts


def kernel_metrics(tracer: Tracer) -> dict[str, float]:
    pages = []  # (duration, parse, plausibilize) per extract_document span
    by_id = {}
    pairs = 0
    max_cand = 0
    for sid, name, start, end, parent, attrs in tracer.spans:
        if name == "kernel.extract_document":
            by_id[sid] = [end - start, 0.0, 0.0]
            pages.append(by_id[sid])
            max_cand = max(max_cand, attrs["n_candidates"])
        elif name in ("kernel.parse_html", "kernel.plausibilize") and parent in by_id:
            by_id[parent][1 if name == "kernel.parse_html" else 2] += end - start
            if name == "kernel.plausibilize":
                pairs += attrs["n"] * (attrs["n"] - 1) // 2
    durs = [p[0] * 1e6 for p in pages]
    slowest = sorted(pages, reverse=True)[: max(1, len(pages) // 100)]
    return {
        "kernel.page_us.p50": statistics.median(durs),
        "kernel.page_us.p99": quantile(durs, 0.99),
        "kernel.page_us.max": max(durs),
        "kernel.parse_s": sum(p[1] for p in pages),
        "kernel.plausibilize_s": sum(p[2] for p in pages),
        "kernel.rest_s": sum(p[0] - p[1] - p[2] for p in pages),
        "kernel.tail.parse_s": sum(p[1] for p in slowest),
        "kernel.tail.plausibilize_s": sum(p[2] for p in slowest),
        "kernel.candidates.max": max_cand,
        "kernel.pairs_examined": pairs,
    }


def langid_doc_us(texts: list[str]) -> float:
    """Mean per-document cost of the language-id scorer, in process."""
    from ocrd_segment_spark.operators.langid import score_document

    t0 = time.perf_counter()
    for t in texts:
        score_document(t)
    return (time.perf_counter() - t0) / max(1, len(texts)) * 1e6


# ---- Spark event log -------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _num(v) -> float:
    return float(v) if isinstance(v, (int, float)) else float(str(v).replace(",", ""))


class EventLog:
    """The parts of an uncompressed Spark event log the layer metrics
    need: SQL plan nodes with their accumulator ids, jobs, and tasks."""

    def __init__(self, path: str) -> None:
        self.acc = {}      # accumulator id → (node name, metric, type, exec id)
        self.execs = {}    # exec id → {"start", "end", "plan"}
        self.jobs = []     # (submit ms, stage ids)
        self.tasks = {}    # stage id → list of task dicts
        self.driver_acc = {}  # accumulator id → value posted by the driver
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, info: dict, exec_id: int) -> None:
        for m in info.get("metrics", []):
            self.acc[m["accumulatorId"]] = (
                info["nodeName"], m["name"], m["metricType"], exec_id)
        for child in info.get("children", []):
            self._plan(child, exec_id)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            self.execs[e["executionId"]] = {
                "start": e["time"], "end": None, "plan": e["physicalPlanDescription"]}
            self._plan(e["sparkPlanInfo"], e["executionId"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["sparkPlanInfo"], e["executionId"])
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            self.execs[e["executionId"]]["end"] = e["time"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.driver_acc[acc_id] = self.driver_acc.get(acc_id, 0) + value
        elif kind == "SparkListenerJobStart":
            self.jobs.append((e["Submission Time"], e["Stage IDs"]))
        elif kind == "SparkListenerTaskEnd":
            info, metrics = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.setdefault(e["Stage ID"], []).append({
                "s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "gc": metrics.get("JVM GC Time", 0),
                "spill": metrics.get("Memory Bytes Spilled", 0),
                "peak_mem": metrics.get("Peak Execution Memory", 0),
                "fetch_wait": (metrics.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0),
                "shuffle_write": (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "acc": {a["ID"]: _num(a["Update"]) for a in info.get("Accumulables", [])
                        if "Update" in a and a["ID"] in self.acc},
            })

    def window(self, t0_ms: float, t1_ms: float, t_split_ms: float | None = None):
        """Tasks of the jobs submitted in [t0, t1), split in two lists at
        ``t_split_ms`` when given (before, after)."""
        before, after = [], []
        for submit, stages in self.jobs:
            if t0_ms <= submit < t1_ms:
                dest = after if t_split_ms is not None and submit >= t_split_ms else before
                for s in stages:
                    dest.extend(self.tasks.get(s, []))
        return before, after

    def value(self, acc_id: int, tasks: list[dict]) -> float:
        """Accumulator total over ``tasks`` plus its driver-side update,
        in seconds for timings, raw otherwise."""
        total = sum(t["acc"].get(acc_id, 0.0) for t in tasks) + self.driver_acc.get(acc_id, 0)
        kind = self.acc[acc_id][2]
        return total / 1e3 if kind == "timing" else total / 1e9 if kind == "nsTiming" else total

    def node_metric(self, tasks, execs, node: str, metric: str) -> float:
        """Total of one plan-node metric over the executions ``execs``."""
        return sum(self.value(a, tasks) for a, (n, m, _, ex) in self.acc.items()
                   if ex in execs and n == node and m == metric)

    def execs_in(self, t0_ms: float, t1_ms: float) -> set:
        return {i for i, ex in self.execs.items() if t0_ms <= ex["start"] < t1_ms}

    def exec_writing(self, path: str, t0_ms: float, t1_ms: float):
        """(id, execution) of the parquet write to ``path`` in the window."""
        for i, ex in self.execs.items():
            if t0_ms <= ex["start"] < t1_ms and "InsertIntoHadoopFsRelationCommand" in ex["plan"] \
                    and path in ex["plan"]:
                return i, ex
        return None, None


def _per(total: float, count: float) -> float:
    return total / count if count else 0.0


def spark_sample_metrics(log: EventLog, t0_ms: float, t1_ms: float, arrow_batch: int,
                         corpus_path: str | None = None) -> dict[str, float]:
    """Per-layer Spark metrics of one timed sample (wall window). The
    extraction kernel runs in the MapInPandas node; the corpus job's
    LM and compression UDFs run in ArrowEvalPython nodes."""
    main_id, main = log.exec_writing(corpus_path, t0_ms, t1_ms) if corpus_path else (None, None)
    tasks, audit = log.window(t0_ms, t1_ms, main["end"] if main else None)
    every = tasks + audit
    execs = log.execs_in(t0_ms, t1_ms)

    def m(node: str, metric: str) -> float:
        return log.node_metric(every, execs, node, metric)

    py_acc = {a for a, v in log.acc.items() if v[0] == "MapInPandas"}
    py_tasks = [t for t in every if py_acc & t["acc"].keys()]
    rows_acc = [a for a in py_acc if log.acc[a][1] == "number of output rows"]
    durs = [t["s"] for t in py_tasks] or [0.0]
    med = statistics.median(durs)
    pages = m("MapInPandas", "number of output rows")
    udf_rows = m("ArrowEvalPython", "number of output rows")
    out = {
        "pipeline.python_run_s": m("MapInPandas", "time to run Python workers"),
        "pipeline.worker_init_s": m("MapInPandas", "time to initialize Python workers"),
        "pipeline.bytes_to_python_per_page": _per(m("MapInPandas", "data sent to Python workers"), pages),
        "pipeline.bytes_from_python_per_page": _per(
            m("MapInPandas", "data returned from Python workers"), pages),
        "pipeline.arrow_batches": sum(
            math.ceil(sum(t["acc"].get(a, 0) for a in rows_acc) / arrow_batch) for t in py_tasks),
        "pipeline.task_s.p50": med,
        "pipeline.task_s.max": max(durs),
        "pipeline.task_skew": _per(max(durs), med),
        "operators.textstats.python_run_s": m("ArrowEvalPython", "time to run Python workers"),
        "operators.textstats.bytes_to_python_per_row": _per(
            m("ArrowEvalPython", "data sent to Python workers"), udf_rows),
        "spark.gc_s": sum(t["gc"] for t in every) / 1e3,
        "spark.spill_bytes": sum(t["spill"] for t in every),
        "spark.shuffle_fetch_wait_s": sum(t["fetch_wait"] for t in every) / 1e3,
        "spark.peak_execution_memory_bytes": max((t["peak_mem"] for t in every), default=0),
    }
    if main is not None:
        out["operators.dedup.shuffle_write_bytes"] = sum(t["shuffle_write"] for t in audit)
        out["operators.dedup.audit_s"] = (t1_ms - main["end"]) / 1e3
        # the corpus write's only shuffle is the exact-dedup window on
        # md5(text); the LM tables reach it as broadcasts
        out["jobs.corpus_job.exact_dedup_shuffle_bytes"] = log.node_metric(
            tasks, {main_id}, "Exchange", "shuffle bytes written")
        out["jobs.corpus_job.write_s"] = sum(
            m("Execute InsertIntoHadoopFsRelationCommand", name)
            for name in ("task commit time", "job commit time"))
    return out
