"""Per-page kernel cost grows about linearly with page size.

For each many-block page shape of the benchmark, ``extract_document``
on 4000 blocks may cost at most 8× what it costs on 1000 blocks:
linear growth is 4×, quadratic growth 16×. The bound is a ratio of two
best-of-three timings taken back to back, not a wall-clock limit, so
load from other processes moves both sides of it.
"""

import gc
import random
import time

import pytest

from ocrd_segment_spark.kernel.extract import extract_document
from perfbench.inputs import _heavy_page


def _best_s(html: str, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        gc.collect()
        t = time.perf_counter()
        extract_document(html)
        best = min(best, time.perf_counter() - t)
    return best


@pytest.mark.parametrize("shape", [0, 1, 2])
def test_extract_cost_grows_linearly_with_blocks(shape):
    small, large = (
        _heavy_page(random.Random(shape), blocks, shape) for blocks in (1000, 4000)
    )
    ratio = _best_s(large) / _best_s(small)
    assert ratio < 8, f"shape {shape}: 4x the blocks cost {ratio:.1f}x the time"
