"""Table reconstruction layouts: generic, dynamic, financial.

Each function re-states the observable contract of the corresponding
reference routine (citations are file:line into the reference src).  The
reference deliberately uses FOUR distinct numeric regexes — they are kept
verbatim and separately because their accept-sets differ (e.g. the dynamic
NUM_RE accepts "1234" and "$", the financial NUM_TOKEN_RE rejects "1234"
but accepts "-").
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field
from statistics import median
from typing import List, Optional, Sequence, Tuple

import numpy as np

from .geometry import (
    Spans,
    coerce_interval_count,
    merge_line_spans,
    nearest_interval_inside_zero,
    profile_intervals,
    zero_run_cuts,
    coverage_profile,
)
from .lines import Line, Lines
from .hocr import TokenArrays

# ---- numeric / text predicates (kept verbatim per call site) --------------

# column_model.py:8-11 & assign_dynamic.py:7-10 (identical there):
# matched against span text with spaces removed; all groups optional, so it
# also accepts "", "$", "()" and bare multi-digit runs via the "|\d+" arm.
NUM_SPAN_RE = re.compile(
    r"""^
    [\$\(]?\s* -?
    (?:\d{1,3}(?:[,\s]\d{3})+|\d+)? (?:\.\d+)? \s*[\)]?
    $""",
    re.VERBOSE,
)

# assign_financial.py:8-12: needs a digit or a solitary dash; NB the digit
# arm has NO "|\d+" alternative, so an unseparated "1234" does NOT match.
NUM_FINANCIAL_RE = re.compile(
    r"""^(
    -
    |
    \$?\(?-?\d{1,3}(?:[,\s]\d{3})*(?:\.\d+)?\)?
    )$""",
    re.VERBOSE,
)

# postprocess.py:9-16
NUM_LIKE_RE = re.compile(r"^\$?\(?-?\d{1,3}(?:[,\s]\d{3})*(?:\.\d+)?\)?$")

SECTION_RE = re.compile(r":\s*$")  # postprocess.py:6
FOOTER_RE = re.compile(r"las notas adjuntas", re.IGNORECASE)  # postprocess.py:7
YEAR_RE = re.compile(r"\b(19|20)\d{2}\b")  # column_model.py:7


def is_numeric_span_dynamic(txt: str) -> bool:
    return NUM_SPAN_RE.match(txt.replace(" ", "")) is not None


def is_numeric_span_financial(txt: str) -> bool:
    return NUM_FINANCIAL_RE.match(txt.strip().replace(" ", "")) is not None


def is_number_like(s: str) -> bool:
    if not s:
        return False
    z = s.strip().replace(" ", "")
    if z == "-":
        return True
    return NUM_LIKE_RE.match(z) is not None


@dataclass
class Rec:
    """One per source line: cell assignment + merge metadata
    (assign.py:27, assign_dynamic.py:69-71, assign_financial.py:88-92)."""

    page: int
    y_top: int
    y_bot: int
    cells: List[str]
    num_count: int = 0
    has_label: bool = False


# ===========================================================================
# GENERIC layout (columns.py, assign.py, rows.py:6-80, rows.py:137-162)
# ===========================================================================


def estimate_columns(
    tok: TokenArrays,
    lines: List[Line],
    min_col_width: int = 25,
    expected_n_cols: Optional[int] = None,
) -> List[Tuple[int, int]]:
    """Vertical projection profile -> column intervals (columns.py:6-70)."""
    idx = np.concatenate([ln.idx for ln in lines]) if lines else np.empty(0, np.int64)
    if idx.size == 0:
        return []
    intervals = profile_intervals(
        tok.x1[idx], tok.x2[idx], min_run=5, min_width=min_col_width, strict_width=False
    )
    return coerce_interval_count(intervals, expected_n_cols)


def assign_words_to_columns(
    tok: TokenArrays, lines: List[Line], columns: List[Tuple[int, int]]
) -> List[Rec]:
    """Per token: first containing interval, else nearest-edge argmin;
    cell text joined with spaces in x order (assign.py:6-28)."""
    if not columns:
        return []
    # vectorized first-inside-else-nearest assignment: identical to the
    # reference's per-token scan (assign.py:18-24) because intervals are
    # sorted; "first inside" = lowest interval index with L<=xc<=R, and the
    # fallback argmin keeps np.argmin's first-min tie rule.
    if not lines:
        return []
    L = np.asarray([c[0] for c in columns], dtype=np.float64)
    R = np.asarray([c[1] for c in columns], dtype=np.float64)
    # one batched numpy pass over ALL lines' tokens (lines are short — tens
    # of tokens — so per-line numpy dispatch overhead dominated the math;
    # same per-token expressions, same order, just concatenated)
    all_idx = np.concatenate([ln.idx for ln in lines])
    xcs = (tok.x1[all_idx] + tok.x2[all_idx]) / 2.0
    inside = (L[None, :] <= xcs[:, None]) & (xcs[:, None] <= R[None, :])
    any_inside = inside.any(axis=1)
    first_inside = inside.argmax(axis=1)
    dists = np.minimum(np.abs(xcs[:, None] - L[None, :]), np.abs(xcs[:, None] - R[None, :]))
    nearest = dists.argmin(axis=1)
    target = np.where(any_inside, first_inside, nearest).tolist()
    texts = tok.text[all_idx].tolist()
    ncol = len(columns)
    recs: List[Rec] = []
    pos = 0
    for ln in lines:
        end = pos + len(ln.idx)
        buckets: List[List[str]] = [[] for _ in range(ncol)]
        for k in range(pos, end):
            buckets[target[k]].append(texts[k])
        pos = end
        recs.append(
            Rec(
                page=ln.page,
                y_top=ln.y1,
                y_bot=ln.y2,
                cells=[" ".join(b).strip() for b in buckets],
            )
        )
    return recs


def _combine_cells(acc: List[str], cells: Sequence[str]) -> List[str]:
    """rows.py:38 / rows.py:76-78 cell union: space-join when both non-empty."""
    return [
        (" ".join([a, b]).strip() if a and b else (a or b)) for a, b in zip(acc, cells)
    ]


def merge_lines_into_rows(
    recs: List[Rec], tok: TokenArrays, lines: List[Line]
) -> List[List[str]]:
    """Horizontal projection profile -> row intervals -> per-row cell union
    (rows.py:8-80).  Quirks kept: records whose y-center misses every row
    interval are DROPPED; a gap-free profile collapses everything into ONE
    row; rows are padded in place to the widest member."""
    if not recs:
        return []
    idx = np.concatenate([ln.idx for ln in lines]) if lines else np.empty(0, np.int64)
    if idx.size == 0:
        return [r.cells for r in recs]

    lo, hi = tok.y1[idx], tok.y2[idx]
    origin, top = int(lo.min()), int(hi.max())
    extent = top - origin
    profile = coverage_profile(lo, hi, origin, extent) if extent > 0 else np.ones(1)
    if not (profile == 0).any():
        acc = ["" for _ in recs[0].cells]
        for r in recs:
            acc = _combine_cells(acc, r.cells)
        return [acc]

    cuts = sorted(set([origin] + zero_run_cuts(profile, origin, 2) + [top]))
    row_iv = [(t, b) for t, b in zip(cuts, cuts[1:]) if b - t > 5]

    # vectorized interval lookup — exact because intervals are sorted,
    # disjoint, and half-open (top <= yc < bot, rows.py:55-61); records in
    # dropped short intervals (or past the last bot) stay unassigned
    grouped: List[List[List[str]]] = [[] for _ in row_iv]
    if row_iv:
        tops = np.asarray([t for t, _ in row_iv], dtype=np.float64)
        bots = np.asarray([b for _, b in row_iv], dtype=np.float64)
        ycs = np.asarray([(r.y_top + r.y_bot) / 2 for r in recs], dtype=np.float64)
        pos = np.searchsorted(tops, ycs, side="right") - 1
        for k, r in enumerate(recs):
            i = int(pos[k])
            if i >= 0 and ycs[k] < bots[i]:
                grouped[i].append(r.cells)

    out: List[List[str]] = []
    for members in grouped:
        if not members:
            continue
        width = max(len(c) for c in members)
        members = [list(c) + [""] * (width - len(c)) for c in members]
        acc = [""] * width
        for c in members:
            acc = _combine_cells(acc, c)
        out.append(acc)
    return out


def detect_header_row(
    rows: List[List[str]], header_regexes: Optional[Sequence[str]] = None
) -> Tuple[Optional[List[str]], List[List[str]]]:
    """rows.py:137-162: default header = first row; regexes search a
    lowered ' | '-joined row within the first three rows."""
    if not rows:
        return None, []
    if header_regexes:
        patterns = [re.compile(rx) for rx in header_regexes]

        def hit(row: List[str]) -> bool:
            joined = " | ".join((c or "").lower() for c in row)
            return any(p.search(joined) for p in patterns)

        if hit(rows[0]):
            return rows[0], rows[1:]
        for i in range(1, min(3, len(rows))):
            if hit(rows[i]):
                return rows[i], rows[:i] + rows[i + 1 :]
    return rows[0], rows[1:]


# ===========================================================================
# FINANCIAL layout (assign_financial.py, rows.py:83-134, postprocess.py)
# ===========================================================================


def assign_financial_three_columns(lines: Lines, spans: Spans) -> List[Rec]:
    """Two rightmost numeric spans -> value columns; every text span joins
    the label (assign_financial.py:41-93).  One Rec per line of ``lines``,
    whose ``spans`` were merged with the FIXED 18px gap."""
    recs: List[Rec] = []
    for ln, line_spans in zip(lines.views(), spans.lists()):
        if not line_spans:
            recs.append(Rec(ln.page, ln.y1, ln.y2, ["", "", ""]))
            continue
        numeric = [s for s in line_spans if is_numeric_span_financial(s[2])]
        textual = [s for s in line_spans if not is_numeric_span_financial(s[2])]
        numeric.sort(key=lambda s: s[0])
        col_a = col_b = ""
        if len(numeric) >= 2:
            col_a, col_b = numeric[-2][2], numeric[-1][2]  # newest_on_right
        elif len(numeric) == 1:
            col_a = numeric[0][2]
        label = " ".join(s[2] for s in sorted(textual, key=lambda s: s[0])).strip()
        recs.append(
            Rec(
                ln.page,
                ln.y1,
                ln.y2,
                [label, col_a, col_b],
                num_count=len(numeric),
                has_label=bool(label),
            )
        )
    return recs


def merge_financial_rows(recs: List[Rec], row_merge_factor: float = 1.30) -> List[List[str]]:
    """Adjacent-line fusion (rows.py:83-134): merge when the y-gap is within
    1.30 x median line height AND the pair is label-wrap (next has no
    numbers) or label-then-values (current has none, next has some); never
    merge two value-bearing lines.  Numeric cells fill first-wins."""
    if not recs:
        return []
    h_med = median([r.y_bot - r.y_top for r in recs])
    max_gap = int(row_merge_factor * h_med)

    rows: List[List[str]] = []
    cur = list(recs[0].cells)
    cur_num = recs[0].num_count
    prev_bot = recs[0].y_bot
    for r in recs[1:]:
        gap = r.y_top - prev_bot
        merge = gap <= max_gap and (r.num_count == 0 or (cur_num == 0 and r.num_count > 0))
        if merge:
            fused: List[str] = []
            for i, (a, b) in enumerate(zip(cur, r.cells)):
                if i == 0:
                    fused.append(" ".join([a, b]).strip() if a and b else (a or b))
                else:
                    fused.append(a if a else b)
            cur = fused
            cur_num = max(cur_num, r.num_count)
            prev_bot = max(prev_bot, r.y_bot)
        else:
            rows.append(cur)
            cur = list(r.cells)
            cur_num = r.num_count
            prev_bot = r.y_bot
    rows.append(cur)
    return rows


def postprocess_financial(
    rows: List[List[str]],
    label_for_subtotals: bool = True,
    normalize_dash_zero: bool = True,
) -> List[List[str]]:
    """postprocess.py:18-61: footer drop, section carry, subtotal labeling,
    dash->0, and silent truncation to exactly 3 columns."""
    out: List[List[str]] = []
    section = ""
    for cells in rows:
        a, v1, v2 = (list(cells) + ["", "", ""])[:3]
        label = (a or "").strip()
        if FOOTER_RE.search(label):
            continue
        if SECTION_RE.search(label):
            section = label.rstrip(":").strip()
            out.append([label, "", ""])
            continue
        if label_for_subtotals and not label and is_number_like(v1) and is_number_like(v2):
            a = f"Total {section}" if section else "Subtotal"
        if normalize_dash_zero:
            if v1 and v1.strip() == "-":
                v1 = "0"
            if v2 and v2.strip() == "-":
                v2 = "0"
        out.append([a, v1, v2])
    return out


# ===========================================================================
# DYNAMIC layout (column_model.py, assign_dynamic.py)
# ===========================================================================


def compute_line_spans(tok: TokenArrays, lines: Lines, max_gap_px: Optional[int] = None) -> Spans:
    """Span merge of every line of the batch in one segmented pass
    (geometry.merge_line_spans).  With the default per-line quantile gap it
    runs ONCE and is shared by the whole dynamic path (the reference
    recomputes it in three places with identical inputs: column_model.py:104,
    :62, assign_dynamic.py:55); the financial path passes its fixed gap."""
    m = lines.members
    return merge_line_spans(
        tok.text[m], tok.x1[m], tok.x2[m], lines.counts, max_gap_px, lines.doc
    )


def numeric_span_flags(spans: Spans) -> np.ndarray:
    """is_numeric_span_dynamic of every span, evaluated once and shared by
    infer_numeric_columns and assign_dynamic."""
    return np.fromiter(map(is_numeric_span_dynamic, spans.text), dtype=bool, count=len(spans.text))


def _half_sum_floor(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``(a + b) // 2`` of non-negative int64 arrays, exact past int64."""
    return a // 2 + b // 2 + (a % 2 + b % 2) // 2


def _at_least(y: np.ndarray, thr: np.ndarray) -> np.ndarray:
    """``y >= thr`` for int64 ``y`` and float ``thr >= 0`` compared exactly,
    as Python compares int with float (numpy would round y to float)."""
    c = np.ceil(thr)
    fits = c < 2.0**63
    return (y >= np.where(fits, c, 0).astype(np.int64)) & fits


def _at_most(y: np.ndarray, thr: np.ndarray) -> np.ndarray:
    """``y <= thr``, exactly as :func:`_at_least`."""
    f = np.floor(thr)
    fits = f < 2.0**63
    return (y <= np.where(fits, f, 0).astype(np.int64)) | ~fits


def _first_per_group(group: np.ndarray) -> np.ndarray:
    """Offsets where a sorted key array starts a new run."""
    return np.flatnonzero(np.concatenate(([True], group[1:] != group[:-1])))


def infer_numeric_columns(
    lines: Lines,
    spans: Spans,
    numeric: np.ndarray,
    n_docs: int,
    min_sep_px: int = 35,
    cut_quantile: float = 90.0,
    pad_px: int = 24,
) -> Tuple[List[List[Tuple[int, int]]], List[Optional[List[str]]]]:
    """Hybrid column model (column_model.py:84-201), per document of the
    batch: modal numeric-span count over the bottom 70% picks K<=4 columns;
    per-position (rightmost, 2nd-rightmost, ...) bucket medians become
    centers; midpoint edges +/- pad form intervals.  Thin buckets (<max(5, 5%
    of lines)) force the global-gap fallback; year strings in the top 20%
    band name columns.

    The modal count, the bucket medians (np.median's float64 mean of the
    middle values, then int()) and the fallback's gap quantile are segmented
    passes over the batch; the interval arithmetic on <= 4 centers stays
    per document in Python ints.  Returns (intervals, names) per document."""
    intervals: List[List[Tuple[int, int]]] = [[] for _ in range(n_docs)]
    names: List[Optional[List[str]]] = [None] * n_docs
    n_lines = len(lines)
    if n_lines == 0:
        return intervals, names
    ldoc = lines.doc
    bounds = np.searchsorted(ldoc, np.arange(n_docs + 1))
    n_of = np.diff(bounds)
    has = np.flatnonzero(n_of)
    ymin = np.zeros(n_docs, dtype=np.int64)
    ymax = np.zeros(n_docs, dtype=np.int64)
    ymin[has] = np.minimum.reduceat(lines.y1, bounds[has])
    ymax[has] = np.maximum.reduceat(lines.y1, bounds[has])

    # sorted centers of each line's numeric spans
    num = np.flatnonzero(numeric)
    span_line = np.repeat(np.arange(n_lines), np.diff(spans.start))
    nline = span_line[num]
    center = _half_sum_floor(spans.x1[num], spans.x2[num])
    center = center[np.lexsort((center, nline))]
    cnt = np.bincount(nline, minlength=n_lines)
    cend = np.cumsum(cnt)

    # modal count over the body lines with any numeric span; ties -> smallest
    body = _at_least(lines.y1, (ymin + 0.30 * (ymax - ymin))[ldoc]) & (cnt > 0)
    k = np.zeros(n_docs, dtype=np.int64)
    if body.any():
        bd, bc = ldoc[body], cnt[body]
        o = np.lexsort((bc, bd))
        bd, bc = bd[o], bc[o]
        runs = np.flatnonzero(np.concatenate(([True], (bd[1:] != bd[:-1]) | (bc[1:] != bc[:-1]))))
        rdoc, rval = bd[runs], bc[runs]
        rcnt = np.diff(np.append(runs, len(bd)))
        o = np.lexsort((rval, -rcnt, rdoc))
        best = o[_first_per_group(rdoc[o])]
        k[rdoc[best]] = np.minimum(rval[best], 4)

    # bucket p holds each line's (p+1)-th rightmost center; the smallest
    # bucket (p = k-1) decides thinness
    kl = k[ldoc]
    full = np.bincount(ldoc[(kl >= 2) & (cnt >= kl)], minlength=n_docs)
    model = (k >= 2) & ~(full < np.maximum(5, 0.05 * n_of))
    medians: List[List[int]] = [[] for _ in range(n_docs)]
    if model.any():
        take = np.where(model[ldoc], np.minimum(cnt, kl), 0)
        line = np.repeat(np.arange(n_lines), take)
        pos = np.arange(len(line)) - np.repeat(np.cumsum(take) - take, take)
        bkey = ldoc[line] * 4 + pos
        bval = center[cend[line] - 1 - pos]
        o = np.lexsort((bval, bkey))
        bkey, bval = bkey[o], bval[o].astype(np.float64)
        first = _first_per_group(bkey)
        size = np.diff(np.append(first, len(bkey)))
        med = (bval[first + (size - 1) // 2] + bval[first + size // 2]) / 2
        for d, v in zip((bkey[first] // 4).tolist(), med.tolist()):
            medians[d].append(int(v))

    # fallback: cuts at wide gaps between the document's sorted centers
    cdoc = ldoc[nline]
    rest = ~model[cdoc]
    allc, cdoc = center[rest], cdoc[rest]
    o = np.lexsort((allc, cdoc))
    allc, cdoc = allc[o], cdoc[o]
    p = np.zeros(n_docs)
    same = cdoc[1:] == cdoc[:-1]
    if same.any():
        gdoc = cdoc[1:][same]
        gaps = (allc[1:] - allc[:-1])[same].astype(np.float64)
        gaps = gaps[np.lexsort((gaps, gdoc))]
        g_n = np.bincount(gdoc, minlength=n_docs)
        gh = np.flatnonzero(g_n)
        m = g_n[gh]
        idx = (cut_quantile / 100.0) * (m - 1)
        lo = idx.astype(np.int64)
        hi = np.minimum(lo + 1, m - 1)
        base = (np.cumsum(g_n) - g_n)[gh]
        a = gaps[base + lo]
        p[gh] = a + (idx - lo) * (gaps[base + hi] - a)
    c_bounds = np.searchsorted(cdoc, np.arange(n_docs + 1)).tolist()
    allc = allc.tolist()

    for d in has.tolist():
        if medians[d]:
            ordered = sorted(medians[d])
            edges = [(a + b) // 2 for a, b in zip(ordered, ordered[1:])]
            L = ordered[0] - pad_px
            for mid in edges:
                intervals[d].append((int(L), int(mid + pad_px)))
                L = int(mid - pad_px)
            intervals[d].append((int(L), int(ordered[-1] + pad_px)))
            continue
        cs = allc[c_bounds[d] : c_bounds[d + 1]]
        if not cs:
            continue
        thr = max(min_sep_px, int(p[d]))
        cuts = [cs[0]]
        cuts += [(a + b) // 2 for a, b in zip(cs, cs[1:]) if (b - a) >= thr]
        cuts.append(cs[-1])
        raw = [(int(L), int(R)) for L, R in zip(cuts, cuts[1:]) if R - L >= 10]
        merged: List[Tuple[int, int]] = []
        for iv in raw:
            if not merged or iv[0] - merged[-1][1] > 8:
                merged.append(iv)
            else:
                merged[-1] = (merged[-1][0], max(merged[-1][1], iv[1]))
        intervals[d] = [(int(L - pad_px), int(R + pad_px)) for (L, R) in merged][:4]

    # column names from the spans of each document's top 20% band
    named = [d for d in has.tolist() if intervals[d]]
    if named:
        top = np.flatnonzero(_at_most(lines.y1, (ymin + 0.20 * (ymax - ymin))[ldoc]))
        t_at = np.searchsorted(ldoc[top], np.arange(n_docs + 1)).tolist()
        top, starts = top.tolist(), spans.start.tolist()
        sx1, sx2 = spans.x1.tolist(), spans.x2.tolist()
        for d in named:
            top_spans = [
                (sx1[i], sx2[i], spans.text[i])
                for ln in top[t_at[d] : t_at[d + 1]]
                for i in range(starts[ln], starts[ln + 1])
            ]
            names[d] = _year_names_from_top(top_spans, intervals[d])
    return intervals, names


def _year_names_from_top(
    top_spans: List[Tuple[int, int, str]], intervals: List[Tuple[int, int]]
) -> Optional[List[str]]:
    """column_model.py:47-82 (wrapped in a blanket try/except there), over
    the spans of the document's top-band lines."""
    try:
        votes: List[Tuple[int, str]] = []
        for (x1, x2, txt) in top_spans:
            m = YEAR_RE.search(txt)
            if m:
                xc = (x1 + x2) // 2
                votes.append((nearest_interval_inside_zero(xc, intervals), m.group(0)))
        if not votes:
            return None
        names = [""] * len(intervals)
        for j in range(len(intervals)):
            got = [yr for (idx, yr) in votes if idx == j]
            if got:
                # np.unique + argmax: the most frequent, ties -> smallest
                counts = Counter(got)
                most = max(counts.values())
                names[j] = min(yr for yr, c in counts.items() if c == most)
        if any(names):
            return [nm if nm else f"Valor_{i + 1}" for i, nm in enumerate(names)]
        return None
    except Exception:
        return None


def assign_dynamic(
    lines: Lines,
    spans: Spans,
    numeric: np.ndarray,
    columns: List[List[Tuple[int, int]]],
    line_texts: List[str],
) -> List[Rec]:
    """assign_dynamic.py:38-72, one Rec per line of the batch: label = text
    spans left of the document's first numeric column only; numeric spans
    fill the nearest column FIRST-WINS.  A document without columns keeps
    each line's text (``line_texts``) as its label.

    Nearest column of every numeric span at once: one float64 distance
    matrix over the <= 4 columns padded with +inf, first-min argmin.  It
    equals nearest_interval_inside_zero's exact comparisons: where
    ``L <= xc`` differs from ``float(L) <= xc``, float(L) == xc and the edge
    distance is 0 as well."""
    n_docs = len(columns)
    cols = [sorted(c, key=lambda ab: ab[0]) for c in columns]
    L = np.zeros((n_docs, 4))
    R = np.zeros((n_docs, 4))
    pad = np.ones((n_docs, 4), dtype=bool)
    for d, c in enumerate(cols):
        if c:
            L[d, : len(c)] = [a for a, _ in c]
            R[d, : len(c)] = [b for _, b in c]
            pad[d, : len(c)] = False
    span_line = np.repeat(np.arange(len(lines)), np.diff(spans.start))
    num = np.flatnonzero(numeric)
    sd = lines.doc[span_line[num]]
    xc = (spans.x1[num].astype(np.uint64) + spans.x2[num].astype(np.uint64)).astype(np.float64)
    xc = (xc / 2.0)[:, None]
    Ls, Rs = L[sd], R[sd]
    dist = np.where(
        (Ls <= xc) & (xc <= Rs), 0.0, np.minimum(np.abs(xc - Ls), np.abs(xc - Rs))
    )
    dist[pad[sd]] = np.inf
    target = np.full(len(numeric), -1, dtype=np.int64)
    target[num] = dist.argmin(axis=1)

    texts = spans.text
    sx1, target = spans.x1.tolist(), target.tolist()
    starts = spans.start.tolist()
    recs: List[Rec] = []
    for k, (d, page, y1, y2) in enumerate(
        zip(lines.doc.tolist(), lines.page.tolist(), lines.y1.tolist(), lines.y2.tolist())
    ):
        c = cols[d]
        if not c:
            recs.append(Rec(page, y1, y2, [line_texts[k]], num_count=0))
            continue
        first_L = c[0][0]
        label = []
        values = [""] * len(c)
        for i in range(starts[k], starts[k + 1]):
            j = target[i]
            if j < 0:
                if sx1[i] < first_L:
                    label.append(texts[i])
            else:
                values[j] = values[j] or texts[i].strip()
        recs.append(
            Rec(
                page,
                y1,
                y2,
                [" ".join(label).strip()] + values,
                num_count=sum(1 for v in values if v),
            )
        )
    return recs


def resolve_dynamic_header(
    num_columns: int, names: Optional[Sequence[str]]
) -> List[str]:
    """main.py:46-54."""
    out = ["Cuenta"]
    for i in range(num_columns):
        if names and i < len(names) and names[i]:
            out.append(str(names[i]))
        else:
            out.append(f"Valor_{i + 1}")
    return out
