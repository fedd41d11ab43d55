"""LayoutLM training-example construction (reference entry point 2).

Reimplements dataset_builder.py:19-265 with its DELIBERATE divergences from
the extraction path (SURVEY.md §2: J4, J5-variant, A2-variant):
  * row profile guarantees >= 1px coverage per token
    (``end = max(start+1, y2-y_min)``, dataset_builder.py:58-62) and falls
    back to one full-extent row interval;
  * line->row assignment uses a nearest-CENTER fallback instead of dropping
    unmatched lines (dataset_builder.py:96-104);
  * token->column fallback measures distance to interval CENTERS, not edges
    (dataset_builder.py:108-119 — a different metric from assign.py:22-24);
  * labels: HEADER_COL_i / BODY_COL_i, OTHER for col_idx >= max_columns.

The reference reads bbox-normalization dimensions from the page IMAGE
(PIL); pages here have no image, so dimensions come from the ``ocr_page``
title bbox (falling back to the token extent) — documented substitution.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from .geometry import coverage_profile, zero_run_cuts
from .hocr import TokenArrays, parse_dom, parse_title_bbox, scan_tokens_from_dom, _has_class
from .layouts import detect_header_row, estimate_columns
from .lines import Line, build_lines


def page_dims(root) -> Tuple[int, int]:
    for n in root.iter():
        if _has_class(n, "ocr_page"):
            bb = parse_title_bbox(n.get("title", ""))
            if bb:
                return bb[2], bb[3]
    return 0, 0


def normalize_box(box: Sequence[int], width: int, height: int) -> List[int]:
    """dataset_builder.py:37-46."""
    w, h = max(width, 1), max(height, 1)
    x1, y1, x2, y2 = box
    return [
        int(max(0, min(1000, round(1000 * x1 / w)))),
        int(max(0, min(1000, round(1000 * y1 / h)))),
        int(max(0, min(1000, round(1000 * x2 / w)))),
        int(max(0, min(1000, round(1000 * y2 / h)))),
    ]


def _row_intervals(tok: TokenArrays, lines: List[Line]) -> List[Tuple[int, int]]:
    idx = np.concatenate([ln.idx for ln in lines]) if lines else np.empty(0, np.int64)
    if idx.size == 0:
        return []
    y1 = tok.y1[idx]
    y2 = tok.y2[idx]
    y_min, y_max = int(y1.min()), int(y2.max())
    height = max(1, y_max - y_min)
    # per-token minimum 1px coverage (dataset_builder.py:58-62)
    lo = np.maximum(0, y1 - y_min)
    hi = np.maximum(lo + 1, y2 - y_min)
    profile = coverage_profile(lo, hi, 0, height)
    if not (profile == 0).any():
        return [(y_min, y_max)]
    cuts = sorted(dict.fromkeys([y_min] + zero_run_cuts(profile, y_min, 2) + [y_max]))
    out = [(t, b) for t, b in zip(cuts, cuts[1:]) if b - t > 5]
    return out or [(y_min, y_max)]


def _line_rows(lines: List[Line], row_iv: List[Tuple[int, int]]) -> List[int]:
    if not row_iv:
        return [0 for _ in lines]
    centers = [(t + b) / 2.0 for (t, b) in row_iv]
    out = []
    for ln in lines:
        yc = (ln.y1 + ln.y2) / 2.0
        hit = None
        for i, (t, b) in enumerate(row_iv):
            if t <= yc < b:
                hit = i
                break
        if hit is None:
            hit = int(np.argmin([abs(c - yc) for c in centers])) if centers else 0
        out.append(hit)
    return out


def _token_col(xc: float, intervals: List[Tuple[int, int]]) -> Optional[int]:
    if not intervals:
        return None
    for i, (a, b) in enumerate(intervals):
        if a <= xc <= b:
            return i
    centers = [(a + b) / 2.0 for (a, b) in intervals]
    return int(np.argmin([abs(c - xc) for c in centers]))


def build_layoutlm_example(
    html: bytes,
    url: str = "",
    table_bbox: Optional[Tuple[int, int, int, int]] = None,
    expected_n_cols: Optional[int] = None,
    header_regexes: Optional[Sequence[str]] = None,
    max_columns: int = 6,
) -> Dict[str, object]:
    root, is_hocr = parse_dom(html)
    if not is_hocr:
        raise ValueError(f"not an hOCR document: {url}")
    tok = scan_tokens_from_dom([(root, table_bbox)])
    if len(tok) == 0:
        raise ValueError(f"no tokens in {url}")
    lines = build_lines(tok)
    if not lines:
        raise ValueError("no lines built")
    columns = estimate_columns(tok, lines, expected_n_cols=expected_n_cols)
    if not columns:
        raise ValueError("no columns detected")

    row_iv = _row_intervals(tok, lines)
    line_rows = _line_rows(lines, row_iv)

    # aggregate grid + per-token records (dataset_builder.py:122-146)
    n_rows = max(line_rows) + 1 if line_rows else 0
    cells: List[List[List[str]]] = [
        [[] for _ in columns] for _ in range(n_rows)
    ]
    records: List[Tuple[int, int, Optional[int]]] = []  # (token_idx, row, col)
    for ln, row_idx in zip(lines, line_rows):
        xcs = (tok.x1[ln.idx] + tok.x2[ln.idx]) / 2.0
        for k, ti in enumerate(ln.idx):
            col_idx = _token_col(float(xcs[k]), columns)
            records.append((int(ti), row_idx, col_idx))
            if col_idx is not None and col_idx < len(columns):
                cells[row_idx][col_idx].append(tok.text[int(ti)])
    grid = [
        [" ".join(filter(None, c)).strip() for c in row_cells] for row_cells in cells
    ]

    header_row, body_rows = detect_header_row(
        grid, list(header_regexes) if header_regexes else None
    )
    header_idx = None
    if header_row:
        for i, row in enumerate(grid):
            if row == header_row:
                header_idx = i
                break

    width, height = page_dims(root)
    if width <= 0 or height <= 0:
        width, height = int(tok.x2.max()), int(tok.y2.max())

    words, boxes, labels, row_ids, col_ids, is_header = [], [], [], [], [], []
    for ti, row_idx, col_idx in records:
        words.append(tok.text[ti])
        boxes.append(
            normalize_box(
                (int(tok.x1[ti]), int(tok.y1[ti]), int(tok.x2[ti]), int(tok.y2[ti])),
                width,
                height,
            )
        )
        row_ids.append(row_idx if row_idx is not None else -1)
        col_ids.append(col_idx if col_idx is not None else -1)
        hdr = header_idx is not None and row_idx == header_idx
        is_header.append(hdr)
        if col_idx is None or col_idx < 0 or col_idx >= max_columns:
            labels.append("OTHER")
        else:
            labels.append(f"{'HEADER' if hdr else 'BODY'}_COL_{col_idx}")

    return {
        "url": url,
        "words": words,
        "bboxes": boxes,
        "labels": labels,
        "row_ids": row_ids,
        "col_ids": col_ids,
        "is_header": is_header,
        "table_header": list(header_row or []),
        "table_rows": body_rows,
        "n_columns": len(columns),
        "header_index": header_idx,
    }
