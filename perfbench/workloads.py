"""The workloads. Each one calls the program only through its
public entry points (``pipeline.run_extract``, ``jobs.corpus_job.
build_corpus``, ``jobs.stream_job.run_stream``) and checks every output
against the single-process oracle.

A workload object has these steps, all called by ``run.py``:

- ``prepare(seed)``: make (or load cached) inputs and oracle digests;
- ``warmup(spark, k)``: the first action of a fresh session, timed as
  part of ``setup_s``;
- ``begin(spark)`` / ``end(spark)``: untimed set-up and tear-down around
  the timed samples (warm-up runs; the stream query's start and stop,
  and its end-of-run check);
- ``before(spark, i)``: untimed preparation of one sample;
  ``sample(spark, i)``: one timed unit of work, returning the pages it
  attempted; ``check(i)``: the untimed check of that sample, returning
  the pages that failed it.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import inputs as I


def _read_texts(path: str) -> list[tuple[str, str]]:
    """(url, md5(extracted_text)) rows of a written parquet table."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table(columns=["url", "extracted_text"])
    return [(u, I.md5_text(x)) for u, x in zip(t.column("url").to_pylist(),
                                                t.column("extracted_text").to_pylist())]


def digest(rows) -> str:
    h = hashlib.sha256()
    for url, md5 in sorted(rows):
        h.update(f"{url}\t{md5}\n".encode())
    return h.hexdigest()


def compare(rows, oracle: dict[str, str], expect_all: bool) -> int:
    """Pages whose output is missing (when ``expect_all``), repeated, or
    differs from the oracle digest."""
    seen: dict[str, int] = {}
    bad = 0
    for url, md5 in rows:
        seen[url] = seen.get(url, 0) + 1
        if oracle.get(url) != md5:
            bad += 1
    bad += sum(n - 1 for n in seen.values())
    if expect_all:
        bad += sum(1 for u in oracle if u not in seen)
    return bad


class Workload:
    name = ""
    min_samples = 3
    # checked full-size runs before the timed ones: the first few runs
    # after the small warm-up still compile (measured)
    warm_samples = 0
    # pages run and failed outside the timed samples (still checked)
    untimed_pages = 0
    untimed_failed = 0
    # set by the workloads whose layers need them in the traced run
    corpus_path = None
    progress = None

    def __init__(self, out_dir: str, parallelism: int, smoke: bool) -> None:
        self.out = out_dir
        self.par = parallelism
        self.smoke = smoke
        self.digest = ""
        self.notes: list[str] = []

    def fresh(self, name: str) -> str:
        path = os.path.join(self.out, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def begin(self, spark) -> None:
        for _ in range(self.warm_samples):
            self.before(spark, -1)
            self.untimed_pages += self.sample(spark, -1)
            self.untimed_failed += self.check(-1)

    def end(self, spark) -> int:
        return 0

    def htmls(self) -> list:
        """Every page's html, for the traced run's kernel replay."""
        return [r["html"] for r in self.input.rows()]

    def gc(self, spark) -> None:
        # collect the JVM heap before each batch sample, so a sample
        # does not pay for garbage the previous one left behind
        spark._jvm.System.gc()


class ExtractHeavytail(Workload):
    """run_extract into a fresh directory, then every url's text is
    compared with the oracle."""

    name = "extract_heavytail"
    # the first full-size sample ran 8 % slower than the rest (measured)
    warm_samples = 1

    def prepare(self, seed: int) -> None:
        n = 300 if self.smoke else 3000
        self.input = I.CachedInput(self.name, n, seed)
        if not self.input.ready:
            # 0.2 % many-block pages; one file per core, so Spark scans
            # each file as one task whatever the page sizes of this seed
            rows = I.heavytail_pages(n, seed, n_heavy=max(2, n // 500), n_files=self.par)
            self.input.build(rows, I.gen_pages(200, seed + 7), n_files=self.par)
        self.oracle = self.input.oracle()

    def warmup(self, spark, k: int) -> None:
        from ocrd_segment_spark.pipeline import run_extract

        run_extract(spark, self.input.warmup, self.fresh(f"warmup{k}"),
                    python_parallelism=self.par)

    def before(self, spark, i: int) -> None:
        self._dest = self.fresh("extract")
        self.gc(spark)

    def sample(self, spark, i: int) -> int:
        from ocrd_segment_spark.pipeline import run_extract

        run_extract(spark, self.input.pages, self._dest, python_parallelism=self.par)
        return len(self.oracle)

    def check(self, i: int) -> int:
        rows = _read_texts(self._dest)
        self.digest = digest(rows)
        return compare(rows, self.oracle, expect_all=True)


class CorpusFull(Workload):
    name = "corpus_full"
    # samples still fell from 2.5 s to 1.7 s over the first five
    # full-size runs after the warm-up (measured)
    warm_samples = 3

    FLAGS = dict(gopher=True, entropy_min=1.0, lm_max_bits=20.0, max_compression=0.995)

    def prepare(self, seed: int) -> None:
        n = 300 if self.smoke else 1000
        self.input = I.CachedInput(self.name, n, seed)
        if not self.input.ready:
            self.input.build(
                I.corpus_pages(n, seed, dup_share=0.05),
                I.corpus_pages(150, seed + 7, dup_share=0.05),
                n_files=self.par,
                ref_rows=I.lm_reference(seed + 13, 200 if self.smoke else 1500),
            )
        self.oracle = self.input.oracle()

    def _run(self, spark, src: str, dest: str) -> dict:
        from jobs.corpus_job import build_corpus

        return build_corpus(
            spark, src, os.path.join(dest, "corpus"),
            near_dup_audit=os.path.join(dest, "neardup"),
            lm_ref_path=self.input.ref, python_parallelism=self.par, **self.FLAGS)

    def warmup(self, spark, k: int) -> None:
        self._run(spark, self.input.warmup, self.fresh(f"warmup{k}"))

    def before(self, spark, i: int) -> None:
        self._dest = self.fresh("corpus")
        self.corpus_path = os.path.join(self._dest, "corpus")
        self.gc(spark)

    def sample(self, spark, i: int) -> int:
        self._funnel = self._run(spark, self.input.pages, self._dest)
        return len(self.oracle)

    def check(self, i: int) -> int:
        rows = _read_texts(self.corpus_path)
        self.digest = digest(rows)
        f = self._funnel
        stages = sum(v for k, v in f.items() if k.startswith("dropped_") and v >= 0
                     and k != "dropped_exact_dup")
        texts = {md5 for _, md5 in rows}
        ok = (f["pages"] == len(self.oracle)
              and stages + f["kept_after_filters"] == f["pages"]
              and f["corpus_docs"] == len(rows) == len(texts)
              and f["near_dup_candidates"] >= 0
              and os.path.isdir(os.path.join(self._dest, "neardup")))
        if not ok:
            self.notes.append(f"sample {i}: funnel does not reconcile: {f}")
            return f["pages"]
        return compare(rows, self.oracle, expect_all=False)


class StreamClosed(Workload):
    name = "stream_closed"

    # only the first files enter the printed digest, so that runs of
    # different speed still compare like for like
    DIGEST_FILES = 16
    # ten samples beyond the reported p75
    min_samples = 40

    def prepare(self, seed: int) -> None:
        self.seed = seed
        self.per_file = 20 if self.smoke else 50
        self.prime = 1 if self.smoke else 60

    def _query(self, spark, tag: str):
        from jobs.stream_job import run_stream

        src = self.fresh(f"{tag}_in")
        os.makedirs(src)
        # the job's default python_parallelism (none): one task per file
        q = run_stream(spark, src, self.fresh(f"{tag}_out"), self.fresh(f"{tag}_ckpt"),
                       available_now=False)
        return q, src

    def _stage(self, index: int) -> str:
        """Write the index-th file outside the watched directory (untimed)."""
        staged = os.path.join(self.out, f".f{index:05d}.parquet")
        I.write_parquet(I.stream_file(self.seed, index, self.per_file), staged)
        return staged

    @staticmethod
    def _land(staged: str, src: str) -> None:
        os.rename(staged, os.path.join(src, os.path.basename(staged)[1:]))

    def warmup(self, spark, k: int) -> None:
        q, src = self._query(spark, f"warmup{k}")
        try:
            self._land(self._stage(10**5 - 1 - k), src)
            q.processAllAvailable()
        finally:
            q.stop()

    def begin(self, spark) -> None:
        self.q, self.src = self._query(spark, "stream")
        self.progress = []
        # a long-running query pays the JIT of its per-batch planning
        # once: batch latency fell from 0.29 s to 0.22 s somewhere in the
        # first 15-70 batches (measured), so a fresh JVM primes 60; a
        # later query in the same JVM only pays its own first batch
        for k in range(self.prime):
            self._land(self._stage(k), self.src)
            self.q.processAllAvailable()
        self.landed = self.prime
        self.untimed_pages += self.prime * self.per_file
        self.prime = 1

    def before(self, spark, i: int) -> None:
        self._staged = self._stage(self.landed)

    def sample(self, spark, i: int) -> int:
        self._land(self._staged, self.src)
        self.q.processAllAvailable()
        self.landed += 1
        return self.per_file

    def check(self, i: int) -> int:
        self.progress.append(self.q.lastProgress["durationMs"])
        return 0

    def end(self, spark) -> int:
        """The stream's output must equal a batch run of the same chain
        over the same files, and every text must match the oracle."""
        from pyspark.sql import functions as F

        from ocrd_segment_spark.operators.corpus_filters import keep_all, with_keep_flags
        from ocrd_segment_spark.pipeline import extract_pages

        self.q.stop()
        sink = os.path.join(self.out, "stream_out")
        stream_rows = _read_texts(sink)
        batch = with_keep_flags(extract_pages(spark.read.parquet(self.src), lang_id=True))
        batch_rows = [(r[0], r[1]) for r in batch.filter(keep_all()).select(
            "url", F.md5("extracted_text")).collect()]
        oracle = I.oracle_digests([r for k in range(self.landed)
                                   for r in I.stream_file(self.seed, k, self.per_file)])
        first = {f"/f{k:05d}p" for k in range(self.DIGEST_FILES)}
        self.digest = digest(r for r in stream_rows if any(m in r[0] for m in first))
        differ = set(stream_rows) ^ set(batch_rows)
        if differ:
            self.notes.append(f"{len(differ)} rows differ between the stream and the batch run")
        return len(differ) + compare(stream_rows, oracle, expect_all=False)

    def htmls(self) -> list:
        return [r["html"] for k in range(self.landed)
                for r in I.stream_file(self.seed, k, self.per_file)]


WORKLOADS = {w.name: w for w in (ExtractHeavytail, CorpusFull, StreamClosed)}
