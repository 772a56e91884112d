"""Seeded inputs for the benchmark workloads, and their oracle digests.

Everything here runs in the one benchmark process: no process pool and
no threads. Inputs are cached under ``perfbench/.cache`` keyed by
workload, seed and ``GEN_VERSION``; the Spark program only ever sees the
parquet files written here.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

from ocrd_segment_spark.fixtures import gen_pages
from ocrd_segment_spark.oracle import extract_corpus

# bump when any generator below changes its output (cache-busts .cache)
GEN_VERSION = 1
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
# the newest entries per workload survive pruning; a seed rerun hits them
CACHE_KEEP = 10

_WORDS = (
    "market river window garden letter station history table number "
    "system morning picture problem service student evening company "
    "language country product question village mountain account member "
    "process interest result support teacher reason office change family"
).split()


def derive_seed(*parts) -> int:
    """Stable integer seed from any parts (no PYTHONHASHSEED dependence)."""
    h = hashlib.sha256("/".join(map(str, parts)).encode()).digest()
    return int.from_bytes(h[:8], "big")


def md5_text(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def write_parquet(rows: list[dict], path: str) -> None:
    import pandas as pd

    # Spark's parquet reader rejects pandas' default nanosecond stamps
    pd.DataFrame(rows).to_parquet(
        path, coerce_timestamps="us", allow_truncated_timestamps=True
    )


def write_files(rows: list[dict], directory: str, n_files: int) -> None:
    """Row i goes to file i mod n_files."""
    os.makedirs(directory, exist_ok=True)
    for i in range(n_files):
        write_parquet(rows[i::n_files], os.path.join(directory, f"part-{i:03d}.parquet"))


def oracle_digests(rows: list[dict]) -> dict[str, str]:
    """url → md5 of the single-process oracle's extracted_text."""
    return {r["url"]: md5_text(r["extracted_text"]) for r in extract_corpus(rows)}


# ---- page generators -------------------------------------------------------


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _regular_page(rng: random.Random, target_bytes: int) -> str:
    body = [
        f"<header><h1>{_sentence(rng, 4)}</h1><nav><ul>"
        + "".join(f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(_WORDS, 6))
        + "</ul></nav></header><main><article>"
    ]
    size = len(body[0])
    while size < target_bytes:
        kind = rng.random()
        if kind < 0.7:
            block = f"<p>{_sentence(rng, rng.randint(20, 80))}</p>"
        elif kind < 0.85:
            block = f"<h2>{_sentence(rng, rng.randint(3, 7))}</h2>"
        elif kind < 0.95:
            block = "<ul>" + "".join(
                f"<li>{_sentence(rng, rng.randint(3, 9))}</li>" for _ in range(rng.randint(2, 6))
            ) + "</ul>"
        else:
            block = f'<p><a href="/more">{_sentence(rng, 3)}</a> {_sentence(rng, 12)}</p>'
        body.append(block)
        size += len(block)
    body.append(f"</article></main><footer><p>{_sentence(rng, 8)}</p></footer>")
    return "<html><head><title>page</title></head><body>" + "".join(body) + "</body></html>"


def _heavy_page(rng: random.Random, blocks: int, shape: int) -> str:
    """The many-block shapes whose kernel cost grows quadratically:
    0 = a flat run of short <p>, 1 = nested <div><p> (candidate pairs),
    2 = nested <div> with a stray end tag per level (parser stack scans)."""
    if shape == 0:
        inner = "".join(f"<p>{_sentence(rng, 6)}</p>" for _ in range(blocks))
    elif shape == 1:
        inner = "".join(f"<div><p>{_sentence(rng, 6)}</p>" for _ in range(blocks))
        inner += "</div>" * blocks
    else:
        inner = "".join(f"<div>{_sentence(rng, 6)}</font>" for _ in range(blocks))
        inner += "</div>" * blocks
    return f"<html><body><main>{inner}</main></body></html>"


def heavytail_pages(n: int, seed: int, n_heavy: int, n_files: int) -> list[dict]:
    """``n`` pages: log-uniform 1-20 KB regular pages plus ``n_heavy``
    many-block pages. The heavy block counts form a fixed ladder from
    500 to 2000 and cycle through the three shapes, and heavy page k
    lands in file k mod ``n_files`` (see ``write_files``), so the seed
    moves content and positions but not the kernel work per file."""
    rng = random.Random(seed)
    slots = rng.sample(range(n // n_files), n_heavy)
    heavy_at = {slot * n_files + k % n_files: k for k, slot in enumerate(slots)}
    ladder = [500 + (1500 * k) // max(1, n_heavy - 1) for k in range(n_heavy)]
    rows = []
    for i in range(n):
        if i in heavy_at:
            k = heavy_at[i]
            html = _heavy_page(rng, ladder[k], k % 3)
            url = f"https://heavy{k % 7}.example.net/long/page{i:06d}.html"
        else:
            html = _regular_page(rng, int(1000 * 20 ** rng.random()))
            url = f"https://site{rng.randint(0, 49):02d}.example.net/a/page{i:06d}.html"
        rows.append({"url": url, "html": html.encode("utf-8")})
    return rows


def corpus_pages(n: int, seed: int, dup_share: float) -> list[dict]:
    """Fixture pages plus exact copies and near-duplicate copies (one
    sentence appended to the last paragraph), each ``dup_share`` of n."""
    rows = gen_pages(n, seed)
    rng = random.Random(seed + 1)
    n_dup = int(n * dup_share)
    extra = []
    for j, r in enumerate(rng.sample(rows, 2 * n_dup)):
        d = dict(r)
        if j < n_dup:
            d["url"] = r["url"].replace(".html", f"-copy{j}.html")
        else:
            head, sep, tail = r["html"].rpartition(b"</p>")
            d["html"] = head + b" " + _sentence(rng, 5).encode() + sep + tail
            d["url"] = r["url"].replace(".html", f"-near{j}.html")
        extra.append(d)
    out = rows + extra
    rng.shuffle(out)
    return out


def lm_reference(seed: int, n: int) -> list[dict]:
    """(text, lang) reference documents for the per-language LM stage:
    oracle text of separately seeded fixture pages, labelled with the
    engine's own language id so every predicted language has a model."""
    from ocrd_segment_spark.operators.langid import score_document

    out = []
    for r in extract_corpus(gen_pages(n, seed)):
        if r["extracted_text"]:
            out.append({"text": r["extracted_text"], "lang": score_document(r["extracted_text"])[0]})
    return out


def stream_file(seed: int, index: int, n: int) -> list[dict]:
    """The ``index``-th file a stream client lands: fresh fixture pages
    whose urls carry the file index, so every url is unique."""
    rows = gen_pages(n, derive_seed("stream", seed, index))
    for r in rows:
        r["url"] = r["url"].replace("/page", f"/f{index:05d}p")
    return rows


# ---- cache -----------------------------------------------------------------


class CachedInput:
    """One workload's generated inputs for one seed, on disk:
    ``pages/`` (the timed input), ``warmup/`` (a small slice for the
    untimed warm-up action), optional ``ref/``, and ``oracle.json``."""

    def __init__(self, workload: str, n_pages: int, seed: int) -> None:
        self.dir = os.path.join(CACHE_DIR, f"{workload}-n{n_pages}-s{seed}-g{GEN_VERSION}")
        self.pages = os.path.join(self.dir, "pages")
        self.warmup = os.path.join(self.dir, "warmup")
        self.ref = os.path.join(self.dir, "ref")
        self._oracle_path = os.path.join(self.dir, "oracle.json")

    @property
    def ready(self) -> bool:
        return os.path.exists(os.path.join(self.dir, "_DONE"))

    def build(self, rows, warmup_rows, n_files: int, ref_rows=None) -> None:
        """Write everything into a temporary directory, then rename it
        into place, so an interrupted build never looks ready."""
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write_files(rows, os.path.join(tmp, "pages"), n_files)
        write_files(warmup_rows, os.path.join(tmp, "warmup"), 1)
        if ref_rows is not None:
            write_files(ref_rows, os.path.join(tmp, "ref"), 1)
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(oracle_digests(rows), f)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(self.dir, ignore_errors=True)
        os.rename(tmp, self.dir)
        _prune(os.path.basename(self.dir).rsplit("-s", 1)[0])

    def oracle(self) -> dict[str, str]:
        with open(self._oracle_path) as f:
            return json.load(f)

    def rows(self) -> list[dict]:
        import pyarrow.parquet as pq

        return pq.read_table(self.pages, columns=["url", "html"]).to_pylist()

    def input_bytes(self) -> int:
        return dir_bytes(self.pages)


def _prune(prefix: str) -> None:
    entries = sorted(
        (e for e in os.scandir(CACHE_DIR) if e.name.startswith(prefix + "-s")),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[:-CACHE_KEEP]:
        shutil.rmtree(e.path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total
