"""1-D character-interval algebra — the geometry kernel of the graft.

The reference's shapely polygon operations (SURVEY.md §2.7 G-series,
reference repair.py:310-365, 592-664, 736-757) become interval
arithmetic over ``[start, end)`` character spans. Intervals are exact
where polygons needed buffering/validity repair, so several reference
ops degenerate (documented per function). All functions are pure and
deterministic. Pairwise helpers broadcast over one page's spans;
``plausibilize`` resolves the laminar spans a DOM produces with one
O(n log n) sort-and-sweep and keeps the reference's per-page O(n²) pair
loop (repair.py:219-237) only for sets with a partial overlap.
"""

from __future__ import annotations

import numpy as np

# Plausibilize actions (reference repair.py decision table, _compare_segments
# repair.py:310-365). In 1-D: equality and containment are exact.
KEEP = 0
DELETE = 1
MERGE_INTO = 2  # merged into another span (its extent absorbed)


def ensure_valid(starts: np.ndarray, ends: np.ndarray, doc_len: int):
    """G8 analog (reference repair.py:736-757 ``ensure_valid``): clamp
    negative starts to 0, ends to ``doc_len``, and reorder reversed
    spans. Returns (starts, ends, valid_mask); zero-length spans are
    flagged invalid (P8 analog, reference extract_regions.py:154-156)."""
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    lo = np.minimum(starts, ends)
    hi = np.maximum(starts, ends)
    lo = np.clip(lo, 0, doc_len)
    hi = np.clip(hi, 0, doc_len)
    return lo, hi, hi > lo


def ensure_consistent(starts, ends, parent_starts, parent_ends):
    """G7 analog (reference repair.py:667-734 ``ensure_consistent``,
    child-clipped-to-parent branch): clamp each child span to its
    parent's span. The enlarge-parent branch is the elementwise
    min/max dual, done by the caller when ``at_parent``."""
    s = np.maximum(np.asarray(starts), np.asarray(parent_starts))
    e = np.minimum(np.asarray(ends), np.asarray(parent_ends))
    return s, np.maximum(e, s)


def intersection_len(s1, e1, s2, e2):
    """G5/G6 analog: exact interval intersection length (pairwise or
    broadcast). In 1-D no GeometryCollection filtering is needed."""
    return np.maximum(
        0, np.minimum(np.asarray(e1), np.asarray(e2)) - np.maximum(np.asarray(s1), np.asarray(s2))
    )


def iou(s1, e1, s2, e2):
    """G23 analog (reference evaluate.py:390-397): interval IoU.
    Returns 0.0 where the union is empty."""
    inter = intersection_len(s1, e1, s2, e2).astype(np.float64)
    union = (
        np.asarray(e1) - np.asarray(s1) + np.asarray(e2) - np.asarray(s2) - inter
    ).astype(np.float64)
    return np.where(union > 0, inter / np.where(union > 0, union, 1.0), 0.0)


def overlap_matrix(starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Pairwise intersection-length matrix for one page's spans —
    the J2 self-join kernel (reference repair.py:219-237), computed as
    one numpy broadcast instead of a Python pair loop."""
    s = np.asarray(starts)[:, None]
    e = np.asarray(ends)[:, None]
    return np.maximum(0, np.minimum(e, e.T) - np.maximum(s, s.T))


def plausibilize(
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

    Processing follows the reference's ascending-area total order
    (W3, repair.py:221-227): sort by length ascending, document order as
    tiebreak, and resolve each pair once with the earlier-sorted span as
    the "smaller" side (``_pair_loop``).

    Spans from a real DOM are laminar: any two are disjoint, equal or
    nested. There the pair loop only ever deletes, and its result is
    one survivor per outermost class of equal spans — the first in
    document order among those of maximal depth. ``_laminar_deletes``
    finds that result with one sort-and-sweep in O(n log n); the pair
    loop runs only when some two spans partially overlap (perturbed or
    synthetic input, the repair operator, the evaluate analog).
    Equality with the pair loop is fuzz-pinned by
    tests/test_plausibilize_sweep.py.

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
    doomed = _laminar_deletes(s, e, depths)
    if doomed is not None:
        actions[doomed] = DELETE
    else:
        _pair_loop(s, e, depths, actions, merge_min_overlap)
    return actions, s, e


def _laminar_deletes(s: np.ndarray, e: np.ndarray, depths: np.ndarray):
    """Indices the pair loop deletes when the spans are laminar, or
    None when two of them partially overlap.

    Spans with ``end <= start`` intersect nothing in the pair loop, so
    they stay KEEP and take no part in the sweep. The rest are sorted
    by (start asc, end desc, depth desc, index asc): a container comes
    before its contents and each class of equal spans is contiguous,
    its first member being the pair loop's winner. One stack sweep
    checks laminarity; then a span survives iff its end exceeds the
    running maximum end of every span sorted before it — that rules out
    both a strict container and an equal span ahead of it."""
    idx = np.nonzero(e > s)[0]
    ps, pe = s[idx], e[idx]
    order = np.lexsort((idx, -depths[idx], -pe, ps))
    ss, se = ps[order], pe[order]
    open_ends: list[int] = []
    for a, b in zip(ss.tolist(), se.tolist()):
        while open_ends and open_ends[-1] <= a:
            open_ends.pop()
        if open_ends and open_ends[-1] < b:
            return None  # partial overlap
        open_ends.append(b)
    survives = np.ones(len(se), dtype=bool)
    survives[1:] = se[1:] > np.maximum.accumulate(se)[:-1]
    return idx[order[~survives]]


def _pair_loop(s, e, depths, actions, merge_min_overlap):
    """The reference's O(n²) pair loop over the W3 order; resolves
    partial overlaps by merge or split. Updates ``s``, ``e`` and
    ``actions`` in place."""
    n = len(s)
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


def simplify_gap_merge(starts: np.ndarray, ends: np.ndarray, tolerance: int):
    """G9 analog (reference repair.py:603-630 ``simplify``): merge
    adjacent surviving spans whose gap is <= ``tolerance`` chars.
    Input must be sorted by start and non-overlapping. Returns
    (group_id per span, merged_starts, merged_ends) where group_id maps
    each input span to its output span index."""
    n = len(starts)
    group = np.zeros(n, dtype=np.int64)
    if n == 0:
        return group, np.asarray(starts), np.asarray(ends)
    s = np.asarray(starts, dtype=np.int64)
    e = np.asarray(ends, dtype=np.int64)
    gap = s[1:] - e[:-1]
    new_group = np.concatenate(([False], gap > tolerance))
    group = np.cumsum(new_group)
    # first/last per group (spans are sorted): first index where group changes
    first = np.concatenate(([0], np.nonzero(new_group)[0]))
    last = np.concatenate((np.nonzero(new_group)[0] - 1, [n - 1]))
    out_s = s[first]
    out_e = e[last]
    return group, out_s, out_e


def spread(starts: np.ndarray, ends: np.ndarray, distance: int, doc_len: int):
    """G10 analog (reference repair.py:592-601 ``spread_segments``):
    grow each span by up to ``distance`` chars on each side. The
    reference subtracts only the union of others' ORIGINAL outlines,
    which lets two buffered segments overlap inside a shared gap; the
    frozen 1-D rule is stricter: each side may grow at most to the
    gap's midpoint, so output is always non-overlapping (touching
    allowed). Input sorted by start, non-overlapping."""
    s = np.asarray(starts, dtype=np.int64).copy()
    e = np.asarray(ends, dtype=np.int64).copy()
    n = len(s)
    if n == 0:
        return s, e
    mid = (e[:-1] + s[1:] + 1) // 2  # gap midpoints (right-biased)
    left_bound = np.concatenate(([0], mid))
    right_bound = np.concatenate((mid, [doc_len]))
    s = np.maximum(s - distance, left_bound)
    e = np.minimum(e + distance, right_bound)
    return s, e
