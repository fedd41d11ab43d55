"""Projection profiles, zero-run cuts, span merging, interval assignment.

These are the reference's numpy hot loops, re-expressed as fully vectorized
array passes.  The reference has FIVE slightly different profile call sites
and several distance metrics; each difference is kept behind explicit
parameters (see callers in layouts.py / professional.py).

Citations: columns.py:23-70, rows.py:22-52, grid_builder.py:31-63,
column_model.py:13-45, assign_financial.py:20-39, assign.py:16-24.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

import numpy as np


# --------------------------------------------------------------------------
# Coverage profile + zero-run valley cuts
# --------------------------------------------------------------------------


def coverage_profile(lo: np.ndarray, hi: np.ndarray, origin: int, extent: int) -> np.ndarray:
    """Histogram of interval coverage: profile[p] = #tokens with lo<=p<hi.

    Equivalent to the reference's ``profile[start:end] += 1`` loop
    (columns.py:23-27) but built with a difference array + cumsum — one
    vector pass regardless of token count.
    """
    diff = np.zeros(extent + 1, dtype=np.int64)
    np.add.at(diff, lo - origin, 1)
    np.add.at(diff, hi - origin, -1)
    return np.cumsum(diff)[:-1]


def zero_run_cuts(profile: np.ndarray, origin: int, min_run: int) -> List[int]:
    """Centers of zero-valleys longer than ``min_run`` (strict >).

    Matches columns.py:29-41 / rows.py:33-47: a run of consecutive zero
    indices ``g`` yields a cut at ``origin + int(g.mean())`` iff
    ``len(g) > min_run``.  For a run spanning [s, e) of ints the mean is
    (s + e - 1) / 2; int() truncates (all coordinates are >= 0).
    """
    zero = profile == 0
    if not zero.any():
        return []
    # run starts/ends via edge detection
    padded = np.concatenate(([False], zero, [False]))
    edges = np.diff(padded.astype(np.int8))
    starts = np.flatnonzero(edges == 1)
    ends = np.flatnonzero(edges == -1)  # exclusive
    cuts: List[int] = []
    for s, e in zip(starts.tolist(), ends.tolist()):
        if e - s > min_run:
            cuts.append(origin + int((s + e - 1) / 2))
    return cuts


def profile_intervals(
    lo: np.ndarray,
    hi: np.ndarray,
    *,
    min_run: int,
    min_width: int,
    strict_width: bool,
    chained: bool = False,
) -> List[Tuple[int, int]]:
    """Full valley-split: coords -> sorted disjoint intervals.

    * ``chained=False`` (columns.py:42-48, rows.py:46-52): consecutive cut
      pairs ``(l, r)`` kept iff width >= / > ``min_width``; dropped pairs
      vanish entirely.
    * ``chained=True`` (grid_builder.py:54-63): the left edge only advances
      when an interval is emitted, so short gaps merge into the next
      interval; comparison is strict ``>``.

    Returns [] for empty input; single full-extent interval when the profile
    has no zeros (columns.py:31-33).
    """
    if len(lo) == 0:
        return []
    origin = int(lo.min())
    top = int(hi.max())
    extent = top - origin
    if extent <= 0:
        # degenerate zero-width extent: reference builds an empty profile,
        # finds no zeros, and returns the single full-extent interval
        # (columns.py:31-33)
        return [(origin, top)]
    profile = coverage_profile(lo, hi, origin, extent)
    if not (profile == 0).any():
        return [(origin, top)]
    cuts = [origin] + zero_run_cuts(profile, origin, min_run) + [top]
    cuts = sorted(set(cuts))
    out: List[Tuple[int, int]] = []
    if chained:
        left = cuts[0]
        for right in cuts[1:]:
            if right - left > min_width:
                out.append((left, right))
                left = right
        return out
    for left, right in zip(cuts, cuts[1:]):
        w = right - left
        if (w > min_width) if strict_width else (w >= min_width):
            out.append((left, right))
    return out


# --------------------------------------------------------------------------
# Column-count coercion (columns.py:51-70)
# --------------------------------------------------------------------------


def coerce_interval_count(
    intervals: List[Tuple[int, int]], expected: Optional[int]
) -> List[Tuple[int, int]]:
    if not expected or expected <= 0 or len(intervals) == expected:
        return intervals
    ivs = list(intervals)
    while len(ivs) > expected:
        gaps = [ivs[i + 1][0] - ivs[i][1] for i in range(len(ivs) - 1)]
        if not gaps:
            break
        j = int(np.argmin(gaps))  # ties -> first (np.argmin)
        ivs = ivs[:j] + [(ivs[j][0], ivs[j + 1][1])] + ivs[j + 2 :]
    while len(ivs) < expected:
        widths = [r - l for l, r in ivs]
        if not widths:
            break
        j = int(np.argmax(widths))
        l, r = ivs[j]
        mid = l + widths[j] // 2
        ivs = ivs[:j] + [(l, mid), (mid, r)] + ivs[j + 1 :]
    return ivs


# --------------------------------------------------------------------------
# Span merge: 1-D gap sessionization within a line
# --------------------------------------------------------------------------


def percentile_linear(sorted_vals: np.ndarray, q: float) -> float:
    """np.percentile(..., method='linear') on an ALREADY SORTED 1-D array.

    Direct lerp — identical result to np.percentile (same formula:
    idx = q/100 * (n-1); v = a[floor] + frac * (a[ceil] - a[floor])) without
    its ~90us generic dispatch.  merge_line_spans evaluates the same formula
    for every line at once.
    """
    n = sorted_vals.shape[0]
    idx = (q / 100.0) * (n - 1)
    lo = int(idx)
    hi = min(lo + 1, n - 1)
    frac = idx - lo
    a = float(sorted_vals[lo])
    return a + frac * (float(sorted_vals[hi]) - a)


def line_gap_quantile(x1: np.ndarray, x2: np.ndarray, q: float = 95.0) -> int:
    """P95 of positive inter-token gaps; max(12, int(p)); 18 when no gaps.

    column_model.py:18-27 — gaps measured on the x1-sorted token sequence
    against the *previous token's own x2* (not a running max).
    """
    order = np.argsort(x1, kind="stable")
    xs1, xs2 = x1[order], x2[order]
    gaps = xs1[1:] - xs2[:-1]
    gaps = gaps[gaps > 0]
    if gaps.size == 0:
        return 18
    return max(12, int(percentile_linear(np.sort(gaps.astype(np.float64)), q)))


def merge_spans(
    text: np.ndarray, x1: np.ndarray, x2: np.ndarray, max_gap_px: int
) -> List[Tuple[int, int, str]]:
    """Merge x1-sorted adjacent tokens into spans (column_model.py:29-45).

    The session's right edge is the running max of member x2 — a session
    break needs ``t.x1 - running_x2 > max_gap_px``.  Output spans are
    ``(x1, running_x2, " ".join(texts).strip())``.
    """
    n = len(text)
    if n == 0:
        return []
    order = np.argsort(x1, kind="stable")
    # list-ified once: the loop is over tokens-in-line (tiny), where python
    # list indexing beats per-element numpy scalar extraction ~3x
    xs1l = x1[order].tolist()
    xs2l = x2[order].tolist()
    textl = text[order].tolist()
    # running-max right edge per session; merge_line_spans is the segmented
    # form and falls back here when its x2 >= x1 invariant does not hold
    spans: List[Tuple[int, int, str]] = []
    s_x1 = int(xs1l[0])
    s_x2 = int(xs2l[0])
    buf = [textl[0]]
    for k in range(1, n):
        t_x1 = int(xs1l[k])
        if t_x1 - s_x2 <= max_gap_px:
            buf.append(textl[k])
            x2k = int(xs2l[k])
            if x2k > s_x2:
                s_x2 = x2k
        else:
            spans.append((s_x1, s_x2, " ".join(buf).strip()))
            s_x1, s_x2 = t_x1, int(xs2l[k])
            buf = [textl[k]]
    spans.append((s_x1, s_x2, " ".join(buf).strip()))
    return spans


def _line_gap_quantiles(
    x1: np.ndarray, x2: np.ndarray, line_of: np.ndarray, line_start: np.ndarray,
    n_lines: int, q: float = 95.0,
) -> np.ndarray:
    """line_gap_quantile of every line at once over x1-sorted, concatenated
    lines: positive in-line gaps sorted per line, then percentile_linear's
    float64 formula and int() truncation per line."""
    gaps = x1[1:] - x2[:-1]
    ok = (gaps > 0) & ~line_start[1:]
    gl = line_of[1:][ok]
    gv = gaps[ok].astype(np.float64)
    gv = gv[np.lexsort((gv, gl))]
    cnt = np.bincount(gl, minlength=n_lines)
    out = np.full(n_lines, 18, dtype=np.int64)
    has = cnt > 0
    if has.any():
        m = cnt[has]
        idx = (q / 100.0) * (m - 1)
        lo = idx.astype(np.int64)
        hi = np.minimum(lo + 1, m - 1)
        frac = idx - lo
        base = (np.cumsum(cnt) - cnt)[has]
        a = gv[base + lo]
        p = a + frac * (gv[base + hi] - a)
        out[has] = np.maximum(12, p.astype(np.int64))
    return out


def merge_line_spans(
    text: np.ndarray,
    x1: np.ndarray,
    x2: np.ndarray,
    counts: Sequence[int],
    max_gap_px: Optional[int] = None,
) -> List[List[Tuple[int, int, str]]]:
    """Span-merge many lines in one segmented pass: per line, exactly
    ``merge_spans(text, x1, x2, gap)`` with ``gap = max_gap_px``, or the
    line's own ``line_gap_quantile(x1, x2)`` when ``max_gap_px`` is None.

    Input is the lines' tokens concatenated, ``counts[i]`` tokens for line i,
    each line already x1-sorted (stable).

    Invariant: the session edge used here is the running max of x2 over the
    whole line (``np.maximum.accumulate``, offset by line index so it resets
    per line), while merge_spans resets it per session.  The two agree when
    every token has x2 >= x1 (and gap >= 0; the quantile gap is >= 12, the
    financial one 18): a break needs ``t.x1 > edge + gap`` and the new
    session's first x2 >= t.x1 then already exceeds the old edge.  A document
    with any x2 < x1 token, or whose offset (coordinate span x lines) would
    overflow int64, takes the scalar per-line path instead."""
    n_lines = len(counts)
    n = len(x1)
    if n == 0:
        return [[] for _ in range(n_lines)]
    lo = int(x1.min())
    width = int(x2.max()) - lo + 1  # bounds every coordinate when x2 >= x1
    if (x2 < x1).any() or width * (n_lines + 1) >= 2**63:
        out, pos = [], 0
        for c in counts:
            s1, s2 = x1[pos : pos + c], x2[pos : pos + c]
            gap = line_gap_quantile(s1, s2) if max_gap_px is None else max_gap_px
            out.append(merge_spans(text[pos : pos + c], s1, s2, gap))
            pos += c
        return out

    counts = np.asarray(counts, dtype=np.int64)
    line_of = np.repeat(np.arange(n_lines), counts)
    line_start = np.cumsum(counts) - counts
    brk = np.zeros(n, dtype=bool)
    brk[line_start[counts > 0]] = True
    if max_gap_px is None:
        gap = _line_gap_quantiles(x1, x2, line_of, brk, n_lines)[line_of[1:]]
    else:
        gap = max_gap_px
    off = line_of * width
    edge = np.maximum.accumulate(x2 - lo + off) - off + lo
    brk[1:] |= x1[1:] - edge[:-1] > gap
    starts = np.flatnonzero(brk)
    ends = np.append(starts[1:], n)
    textl = text.tolist()
    spans = [
        (a, b, " ".join(textl[s:e]).strip())
        for a, b, s, e in zip(
            x1[starts].tolist(), edge[ends - 1].tolist(), starts.tolist(), ends.tolist()
        )
    ]
    # every line start is a span start: each line's first span by search
    bounds = np.searchsorted(starts, line_start).tolist() + [len(spans)]
    return [spans[b0:b1] for b0, b1 in zip(bounds, bounds[1:])]


# --------------------------------------------------------------------------
# Interval assignment (inside-first, nearest-edge fallback)
# --------------------------------------------------------------------------


def assign_to_interval_first_inside(
    xc: float, intervals: Sequence[Tuple[int, int]]
) -> Optional[int]:
    """First interval with L <= xc <= R, else None (assign.py:18-21)."""
    for i, (L, R) in enumerate(intervals):
        if L <= xc <= R:
            return i
    return None


def nearest_interval_by_edges(xc: float, intervals: Sequence[Tuple[int, int]]) -> int:
    """argmin of min(|xc-L|, |xc-R|); ties -> lowest index (assign.py:22-24)."""
    dists = [min(abs(xc - L), abs(xc - R)) for (L, R) in intervals]
    return int(np.argmin(dists))


def nearest_interval_inside_zero(xc: float, intervals: Sequence[Tuple[int, int]]) -> int:
    """Distance 0 when inside else min edge distance; argmin
    (assign_dynamic.py:63-67, column_model.py:66-67)."""
    dists = [
        0 if (L <= xc <= R) else min(abs(xc - L), abs(xc - R)) for (L, R) in intervals
    ]
    return int(np.argmin(dists))
