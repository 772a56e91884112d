"""``intervals.plausibilize`` against the pair loop it grew out of.

``_reference_plausibilize`` below is the pair loop exactly as the kernel
ran it before the laminar sort-and-sweep existed — kept verbatim, do not
edit it. Every case compares the full (actions, starts, ends) triple:

- laminar span trees with duplicate spans and depth ties (sweep path);
- random sets with partial overlaps (pair-loop fallback, merge and
  split branches);
- touching spans, zero-length and reversed spans (both paths);
- ``extract_document`` on the benchmark's many-block page shapes.
"""

import random

import numpy as np

from ocrd_segment_spark.fixtures import gen_pages
from ocrd_segment_spark.kernel import intervals as iv
from ocrd_segment_spark.kernel.extract import extract_document
from perfbench.inputs import _heavy_page

KEEP, DELETE, MERGE_INTO = iv.KEEP, iv.DELETE, iv.MERGE_INTO


def _reference_plausibilize(
    starts: np.ndarray,
    ends: np.ndarray,
    depths: np.ndarray,
    merge_min_overlap: float = 0.90,
):
    """Plausibilize analysis pass — the reference's analyse-then-apply
    worklist build (repair.py:213-270) over one page's candidate spans.

    Decision table (reference _compare_segments repair.py:310-365,
    re-derived for exact 1-D intervals):

    - equal spans            → DELETE the shallower node (the wrapper);
      the deeper node is the more specific segment. Ties on depth break
      by document order: keep the earlier.
    - strict containment     → DELETE the contained (smaller) span —
      redundant with its container (reference deletes the contained
      region after the ascending-area sort, repair.py:221-237).
    - overlap > merge_min_overlap of the smaller span → MERGE the
      smaller into the larger (extent absorbed, reference
      repair.py:405-417); with midpoint of the smaller inside the
      larger, merge regardless of threshold (G14 centroid rule,
      repair.py:251-266); otherwise SPLIT: subtract the overlap from
      the smaller span (G15, repair.py:505-513).

    Spans from a real DOM are laminar (equality/containment only); the
    overlap branches exist for perturbed/synthetic inputs and the
    evaluate analog, and are unit-tested directly.

    Processing follows the reference's ascending-area total order
    (W3, repair.py:221-227): sort by length ascending, document order as
    tiebreak, and resolve each pair once with the earlier-sorted span as
    the "smaller" side.

    Returns (actions, out_starts, out_ends) aligned with the input;
    actions[i] ∈ {KEEP, DELETE, MERGE_INTO}; out spans reflect merges
    and splits for surviving spans.
    """
    n = len(starts)
    s = np.asarray(starts, dtype=np.int64).copy()
    e = np.asarray(ends, dtype=np.int64).copy()
    depths = np.asarray(depths, dtype=np.int64)
    actions = np.zeros(n, dtype=np.int64)
    if n <= 1:
        return actions, s, e

    length = e - s
    # ascending area (length), document order tiebreak — W3 total order
    order = np.lexsort((np.arange(n), length))

    for oi in range(n):
        i = order[oi]
        if actions[i] != KEEP:
            continue
        for oj in range(oi + 1, n):
            j = order[oj]
            if actions[j] != KEEP or actions[i] != KEEP:
                continue
            inter = min(e[i], e[j]) - max(s[i], s[j])
            if inter <= 0:
                continue
            len_i = e[i] - s[i]
            len_j = e[j] - s[j]
            if s[i] == s[j] and e[i] == e[j]:
                # equal: delete the shallower (wrapper); depth tie →
                # delete the later in document order
                if depths[i] < depths[j] or (depths[i] == depths[j] and i > j):
                    actions[i] = DELETE
                else:
                    actions[j] = DELETE
                continue
            if s[j] <= s[i] and e[i] <= e[j]:
                actions[i] = DELETE  # i contained in j
                continue
            if s[i] <= s[j] and e[j] <= e[i]:
                actions[j] = DELETE  # j contained in i (possible after splits)
                continue
            # partial overlap: i is the smaller side by sort order
            frac = inter / min(len_i, len_j)
            mid_i = (s[i] + e[i]) // 2
            midpoint_inside = s[j] <= mid_i < e[j]
            if frac > merge_min_overlap or midpoint_inside:
                # merge smaller into larger: larger absorbs extent
                s[j] = min(s[i], s[j])
                e[j] = max(e[i], e[j])
                actions[i] = MERGE_INTO
            else:
                # split: subtract the overlap from the smaller span
                if s[i] < s[j]:
                    e[i] = s[j]
                else:
                    s[i] = e[j]
                if e[i] <= s[i]:
                    actions[i] = DELETE
    return actions, s, e


def _laminar(rng: random.Random, n_max: int):
    """A random span tree: children are disjoint (gapped or touching)
    sub-spans of their parent, possibly the parent span itself; a span
    may repeat with an equal, lower or higher depth."""
    spans = []

    def grow(lo, hi, depth):
        if len(spans) >= n_max:
            return
        spans.append((lo, hi, depth))
        while rng.random() < 0.3 and len(spans) < n_max:
            spans.append((lo, hi, depth + rng.choice((-1, 0, 0, 1))))
        cut = lo
        while cut < hi and len(spans) < n_max:
            a = rng.randint(cut, hi - 1)
            b = rng.randint(a + 1, hi)
            if rng.random() < 0.7:
                grow(a, b, depth + 1)
            cut = b + rng.choice((0, 0, 1, 2))

    grow(0, rng.randint(1, 60), rng.randint(0, 3))
    return spans


def _with_degenerate(rng: random.Random, spans):
    """Add zero-length and reversed spans, then shuffle document order."""
    spans = list(spans)
    for _ in range(rng.choice((0, 0, 1, 3))):
        a = rng.randint(0, 60)
        spans.append((a, a - rng.choice((0, 0, 1, 5)), rng.randint(0, 6)))
    rng.shuffle(spans)
    return spans


def _random_spans(rng: random.Random, n_max: int, grid=None):
    """Unconstrained spans: partial overlaps, touching, reversed."""
    out = []
    for _ in range(rng.randint(0, n_max)):
        if grid:
            a, b = rng.choice(grid), rng.choice(grid)
        else:
            a = rng.randint(0, 40)
            b = a + rng.randint(-3, 25)
        out.append((a, b, rng.randint(0, 4)))
    return out


def _check(spans, threshold=0.90):
    s = np.array([x[0] for x in spans], dtype=np.int64)
    e = np.array([x[1] for x in spans], dtype=np.int64)
    d = np.array([x[2] for x in spans], dtype=np.int64)
    want = _reference_plausibilize(s, e, d, threshold)
    got = iv.plausibilize(s, e, d, threshold)
    for w, g in zip(want, got):
        assert w.dtype == g.dtype and np.array_equal(w, g), (spans, want, got)
    return s, e, want


def test_laminar_trees_match_pair_loop_on_the_sweep_path():
    rng = random.Random(20261017)
    deleted_dups = 0
    for _ in range(1500):
        spans = _with_degenerate(rng, _laminar(rng, rng.randint(1, 30)))
        s, e, (acts, _, _) = _check(spans)
        assert iv._laminar_deletes(s, e, np.array([x[2] for x in spans])) is not None
        assert MERGE_INTO not in acts
        deleted_dups += len(set(spans)) < len(spans) and DELETE in acts
    assert deleted_dups > 100  # duplicate classes were really exercised


def test_partial_overlaps_match_pair_loop_on_the_fallback():
    rng = random.Random(7)
    merges = splits = 0
    for k in range(1500):
        spans = _random_spans(rng, 14)
        s, e, (acts, out_s, out_e) = _check(spans, (0.0, 0.5, 0.9, 1.0)[k % 4])
        merges += MERGE_INTO in acts
        splits += bool(((out_e - out_s) < (e - s)).any())  # merges only grow
    assert merges > 100 and splits > 100


def test_touching_and_degenerate_spans_match_pair_loop():
    rng = random.Random(3)
    for _ in range(1500):
        _check(_with_degenerate(rng, _random_spans(rng, 10, grid=(0, 5, 10, 15, 20))))
    for spans in (
        [(0, 5, 1), (5, 10, 1)],                      # touching only
        [(0, 5, 1), (5, 5, 2), (5, 10, 1)],           # zero-length between
        [(4, 2, 0), (0, 10, 1), (3, 3, 5)],           # reversed + zero-length inside
        [(0, 10, 2), (0, 10, 2), (0, 10, 3), (0, 10, 3)],  # depth ties
        [(0, 0, 0), (0, 0, 0)],
        [(0, 10, 0), (5, 15, 0)],                     # one partial overlap
        [],
        [(1, 2, 0)],
    ):
        _check(spans)


def _extract_with(plausibilize, html):
    orig = iv.plausibilize
    iv.plausibilize = plausibilize
    try:
        return extract_document(html)
    finally:
        iv.plausibilize = orig


def test_extract_document_identical_under_both_implementations():
    pages = [_heavy_page(random.Random(shape), 300, shape) for shape in range(3)]
    pages += [r["html"] for r in gen_pages(200, seed=5)]
    for html in pages:
        assert _extract_with(_reference_plausibilize, html) == extract_document(html)
