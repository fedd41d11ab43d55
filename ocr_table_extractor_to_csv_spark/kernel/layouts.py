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
from dataclasses import dataclass, field
from statistics import median
from typing import List, Optional, Sequence, Tuple

import numpy as np

from .geometry import (
    coerce_interval_count,
    merge_line_spans,
    nearest_interval_by_edges,
    nearest_interval_inside_zero,
    percentile_linear,
    profile_intervals,
    zero_run_cuts,
    coverage_profile,
)
from .lines import Line
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


def assign_financial_three_columns(tok: TokenArrays, lines: List[Line]) -> List[Rec]:
    """Two rightmost numeric spans -> value columns; every text span joins
    the label (assign_financial.py:41-93).  Span gap is FIXED at 18px."""
    recs: List[Rec] = []
    for ln, spans in zip(lines, compute_line_spans(tok, lines, max_gap_px=18)):
        if not spans:
            recs.append(Rec(ln.page, ln.y1, ln.y2, ["", "", ""]))
            continue
        numeric = [s for s in spans if is_numeric_span_financial(s[2])]
        textual = [s for s in spans if not is_numeric_span_financial(s[2])]
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


def compute_line_spans(
    tok: TokenArrays, lines: List[Line], max_gap_px: Optional[int] = None
) -> List[List[Tuple[int, int, str]]]:
    """Span merge of every line in one segmented pass
    (geometry.merge_line_spans).  With the default per-line quantile gap it
    runs ONCE and is shared by the whole dynamic path (the reference
    recomputes it in three places with identical inputs: column_model.py:104,
    :62, assign_dynamic.py:55); the financial path passes its fixed gap."""
    if not lines:
        return []
    idx = np.concatenate([ln.idx for ln in lines])  # each line x1-sorted
    return merge_line_spans(
        tok.text[idx], tok.x1[idx], tok.x2[idx], [len(ln.idx) for ln in lines], max_gap_px
    )


def numeric_span_flags(spans_per_line) -> List[List[bool]]:
    """is_numeric_span_dynamic of every span, evaluated once and shared by
    infer_numeric_columns and assign_dynamic."""
    return [[is_numeric_span_dynamic(s[2]) for s in spans] for spans in spans_per_line]


def infer_numeric_columns(
    tok: TokenArrays,
    lines: List[Line],
    min_sep_px: int = 35,
    cut_quantile: float = 90.0,
    pad_px: int = 24,
    spans_per_line=None,
    numeric=None,
) -> Tuple[List[Tuple[int, int]], Optional[List[str]]]:
    """Hybrid column model (column_model.py:84-201): modal numeric-span
    count over the bottom 70% picks K<=4 columns; per-position (rightmost,
    2nd-rightmost, ...) bucket medians become centers; midpoint edges +/-
    pad form intervals.  Thin buckets (<max(5, 5% of lines)) force the
    global-gap fallback; year strings in the top 20% band name columns."""
    if not lines:
        return [], None

    if spans_per_line is None:
        spans_per_line = compute_line_spans(tok, lines)
    if numeric is None:
        numeric = numeric_span_flags(spans_per_line)
    per_line: List[List[int]] = []
    for spans, flags in zip(spans_per_line, numeric):
        centers = [int((x1 + x2) // 2) for (x1, x2, _t), f in zip(spans, flags) if f]
        centers.sort()
        per_line.append(centers)
    ys = [ln.y1 for ln in lines]
    y_body = min(ys) + 0.30 * (max(ys) - min(ys))
    body_counts = [len(c) for ln, c in zip(lines, per_line) if ln.y1 >= y_body]

    k = 0
    if body_counts:
        vals, cnts = np.unique(np.asarray(body_counts), return_counts=True)
        pos = vals > 0
        if pos.any():
            k = int(vals[pos][int(np.argmax(cnts[pos]))])
    k = min(k, 4)

    intervals: List[Tuple[int, int]] = []
    if k >= 2:
        buckets: List[List[int]] = [[] for _ in range(k)]
        for centers in per_line:
            for pos in range(k):
                if len(centers) >= pos + 1:
                    buckets[pos].append(centers[-(pos + 1)])
        if not any(len(b) < max(5, 0.05 * len(per_line)) for b in buckets):
            ordered = sorted(int(np.median(b)) for b in buckets)
            edges = [(a + b) // 2 for a, b in zip(ordered, ordered[1:])]
            L = ordered[0] - pad_px
            for mid in edges:
                intervals.append((int(L), int(mid + pad_px)))
                L = int(mid - pad_px)
            intervals.append((int(L), int(ordered[-1] + pad_px)))

    if not intervals:
        allc = sorted(c for centers in per_line for c in centers)
        if not allc:
            return [], None
        gaps = [b - a for a, b in zip(allc, allc[1:])]
        p = (
            percentile_linear(np.sort(np.asarray(gaps, dtype=np.float64)), cut_quantile)
            if gaps
            else 0.0
        )
        thr = max(min_sep_px, int(p))
        cuts = [allc[0]]
        cuts += [(a + b) // 2 for a, b in zip(allc, allc[1:]) if (b - a) >= thr]
        cuts.append(allc[-1])
        raw = [(int(L), int(R)) for L, R in zip(cuts, cuts[1:]) if R - L >= 10]
        merged: List[Tuple[int, int]] = []
        for iv in raw:
            if not merged or iv[0] - merged[-1][1] > 8:
                merged.append(iv)
            else:
                merged[-1] = (merged[-1][0], max(merged[-1][1], iv[1]))
        intervals = [(int(L - pad_px), int(R + pad_px)) for (L, R) in merged][:4]

    names = (
        _year_names_from_top(tok, lines, intervals, spans_per_line)
        if intervals
        else None
    )
    return intervals, names


def _year_names_from_top(
    tok: TokenArrays,
    lines: List[Line],
    intervals: List[Tuple[int, int]],
    spans_per_line=None,
) -> Optional[List[str]]:
    """column_model.py:47-82 (wrapped in a blanket try/except there)."""
    if not intervals:
        return None
    if spans_per_line is None:
        spans_per_line = compute_line_spans(tok, lines)
    try:
        ys = [ln.y1 for ln in lines]
        if not ys:
            return None
        y_thr = min(ys) + 0.20 * (max(ys) - min(ys))
        votes: List[Tuple[int, str]] = []
        for ln, spans in zip(lines, spans_per_line):
            if ln.y1 <= y_thr:
                for (x1, x2, txt) in spans:
                    m = YEAR_RE.search(txt)
                    if m:
                        xc = (x1 + x2) // 2
                        votes.append(
                            (nearest_interval_inside_zero(xc, intervals), m.group(0))
                        )
        if not votes:
            return None
        names = [""] * len(intervals)
        for j in range(len(intervals)):
            got = [yr for (idx, yr) in votes if idx == j]
            if got:
                vals, cnts = np.unique(np.asarray(got), return_counts=True)
                names[j] = str(vals[int(np.argmax(cnts))])
        if any(names):
            return [nm if nm else f"Valor_{i + 1}" for i, nm in enumerate(names)]
        return None
    except Exception:
        return None


def assign_dynamic(
    tok: TokenArrays,
    lines: List[Line],
    numeric_columns: List[Tuple[int, int]],
    spans_per_line=None,
    numeric=None,
) -> List[Rec]:
    """assign_dynamic.py:38-72: label = text spans left of the first numeric
    column only; numeric spans fill nearest column FIRST-WINS."""
    recs: List[Rec] = []
    if not numeric_columns:
        for ln in lines:
            label = " ".join(tok.text[ln.idx].tolist())  # idx already x1-sorted
            recs.append(Rec(ln.page, ln.y1, ln.y2, [label], num_count=0))
        return recs

    if spans_per_line is None:
        spans_per_line = compute_line_spans(tok, lines)
    if numeric is None:
        numeric = numeric_span_flags(spans_per_line)
    cols = sorted(numeric_columns, key=lambda ab: ab[0])
    first_L = cols[0][0]
    for ln, spans, flags in zip(lines, spans_per_line, numeric):
        nums = [s for s, f in zip(spans, flags) if f]
        texts = [s for s, f in zip(spans, flags) if not f]
        label = " ".join(txt for (x1, _x2, txt) in texts if x1 < first_L).strip()
        values = [""] * len(cols)
        for (x1, x2, txt) in nums:
            j = nearest_interval_inside_zero((x1 + x2) / 2.0, cols)
            values[j] = values[j] or txt.strip()
        recs.append(
            Rec(
                ln.page,
                ln.y1,
                ln.y2,
                [label] + values,
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
