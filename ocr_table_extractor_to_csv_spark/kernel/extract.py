"""Per-document orchestrator: html bytes -> ExtractResult.

Mirrors the reference dispatch (main.py:57-163) with one addition: a
``html`` path for regular (non-hOCR) web pages (boilerplate strip + plain
<table> reconstruction), since Common-Crawl input is mostly not hOCR.

Empty-output byte semantics (verified; SURVEY §2.1 S8):
  * no tokens / no lines on an hOCR layout -> 3-byte BOM-only csv
    (main.py:100-109);
  * an empty grid written through the csv writer -> 0-byte csv.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Sequence, Tuple

import numpy as np

from . import boilerplate
from .export import csv_bytes, csv_bytes_numeric, empty_csv_bytes
from .hocr import TokenArrays, parse_dom, scan_tokens_from_dom
from .lines import Line, build_lines
from .layouts import (
    assign_dynamic,
    assign_financial_three_columns,
    assign_words_to_columns,
    detect_header_row,
    estimate_columns,
    infer_numeric_columns,
    merge_financial_rows,
    merge_lines_into_rows,
    numeric_span_flags,
    postprocess_financial,
    resolve_dynamic_header,
)
from .professional import build_professional_grid

HOCR_LAYOUTS = ("generic", "dynamic", "financial", "professional", "transformers")

# layout_transformers.py:26 — the heuristic reconstruction's default target
# column count when neither expected_n_cols nor max_columns is given
MAX_MODEL_COLUMNS = 6


@dataclass
class ExtractResult:
    url: str = ""
    layout: str = ""
    csv: bytes = b""
    csv_numeric: Optional[bytes] = None
    main_text: str = ""
    n_rows: int = 0
    n_cols: int = 0
    header: List[str] = field(default_factory=list)
    n_tokens: int = 0
    n_lines: int = 0
    is_hocr: bool = False
    error: Optional[str] = None


def _hocr_main_text(tok: TokenArrays, lines: List[Line]) -> str:
    """Engine spec: one physical line per detected line, tokens space-joined
    in x order (deterministic; the reference emits no main text)."""
    words = tok.text[np.concatenate([ln.idx for ln in lines])].tolist()
    out, pos = [], 0
    for ln in lines:
        end = pos + len(ln.idx)
        out.append(" ".join(words[pos:end]))
        pos = end
    return "\n".join(out)


def extract_document(
    html: bytes,
    layout: str = "auto",
    table_bbox: Optional[Tuple[int, int, int, int]] = None,
    expected_n_cols: Optional[int] = None,
    header_regexes: Optional[Sequence[str]] = None,
    max_columns: Optional[int] = None,
) -> ExtractResult:
    layout = (layout or "auto").lower()
    root, is_hocr = parse_dom(html)

    if layout == "auto":
        layout = "dynamic" if is_hocr else "html"  # run.py default layout

    if layout == "html" or (layout in HOCR_LAYOUTS and not is_hocr):
        # regular web page: boilerplate strip + first-table reconstruction
        main_text, csv, header, body = boilerplate.extract_html_document(root)
        return ExtractResult(
            layout="html",
            csv=csv,
            main_text=main_text,
            n_rows=len(body),
            n_cols=len(header),
            header=list(header),
            is_hocr=False,
        )

    if layout not in HOCR_LAYOUTS:
        raise ValueError(f"unknown layout: {layout!r}")

    tok = scan_tokens_from_dom(root, table_bbox)
    if len(tok) == 0:
        # main.py:100-103 -> BOM-only file
        return ExtractResult(layout=layout, csv=empty_csv_bytes(), is_hocr=True)
    lines = build_lines(tok)
    if not lines:
        return ExtractResult(
            layout=layout, csv=empty_csv_bytes(), n_tokens=len(tok), is_hocr=True
        )

    main_text = _hocr_main_text(tok, lines)
    base = dict(
        layout=layout,
        main_text=main_text,
        n_tokens=len(tok),
        n_lines=len(lines),
        is_hocr=True,
    )

    if layout == "financial":
        recs = assign_financial_three_columns(tok, lines)
        rows = merge_financial_rows(recs)
        rows = postprocess_financial(rows)
        header = ["Cuenta", "Valor_1", "Valor_2"]
        return ExtractResult(
            csv=csv_bytes(rows, header),
            n_rows=len(rows),
            n_cols=len(header),
            header=header,
            **base,
        )

    if layout == "dynamic":
        from .layouts import compute_line_spans

        spans_per_line = compute_line_spans(tok, lines)
        numeric = numeric_span_flags(spans_per_line)
        intervals, names = infer_numeric_columns(
            tok, lines, spans_per_line=spans_per_line, numeric=numeric
        )
        recs = assign_dynamic(
            tok, lines, intervals, spans_per_line=spans_per_line, numeric=numeric
        )
        rows = merge_financial_rows(recs)
        if not rows:
            return ExtractResult(csv=empty_csv_bytes(), **base)
        num_cols = max(len(r) for r in rows) - 1
        header = resolve_dynamic_header(max(num_cols, 0), names)
        return ExtractResult(
            csv=csv_bytes(rows, header),
            csv_numeric=csv_bytes_numeric(rows, header),
            n_rows=len(rows),
            n_cols=len(header),
            header=header,
            **base,
        )

    if layout == "generic":
        intervals = estimate_columns(tok, lines, expected_n_cols=expected_n_cols)
        recs = assign_words_to_columns(tok, lines, intervals)
        grid = merge_lines_into_rows(recs, tok, lines)
        header_row, body = detect_header_row(
            grid, list(header_regexes) if header_regexes else None
        )
        header = header_row or []
        return ExtractResult(
            csv=csv_bytes(body, header),
            n_rows=len(body),
            n_cols=len(header),
            header=list(header),
            **base,
        )

    if layout == "transformers":
        # The reference's 4th CLI layout (layout_transformers.py:446-565).
        # Its FIRST reconstruction attempt is purely geometric — the generic
        # pipeline with target_cols = expected_n_cols or max_columns or
        # MAX_MODEL_COLUMNS (:516-537; max_columns = run.py's
        # --transformer-max-cols) and a cell strip over the BODY rows only
        # (the reference passes header_row to rows_to_csv unstripped,
        # :532-537; process_grid_data = cleaners.py:13-27) — replicated
        # exactly.
        # The LayoutLMv3-label compose
        # (:548-560) requires torch (out of scope in this engine; documented
        # divergence), so an empty heuristic grid falls through directly to
        # the reference's LAST fallback: the spatial grid
        # (build_grid_from_words == the professional grid builder, :551-559).
        intervals = estimate_columns(
            tok, lines, expected_n_cols=expected_n_cols or max_columns or MAX_MODEL_COLUMNS
        )
        recs = assign_words_to_columns(tok, lines, intervals)
        grid = merge_lines_into_rows(recs, tok, lines) if intervals else []
        if grid:
            header_row, body = detect_header_row(
                grid, list(header_regexes) if header_regexes else None
            )
            header = header_row or []
            body = [[c.strip() for c in r] for r in body]
        else:
            body, header = build_professional_grid(tok)
        return ExtractResult(
            csv=csv_bytes(body, header),
            n_rows=len(body),
            n_cols=len(header),
            header=list(header),
            **base,
        )

    # professional
    body, header = build_professional_grid(tok)
    return ExtractResult(
        csv=csv_bytes(body, header),
        n_rows=len(body),
        n_cols=len(header),
        header=list(header),
        **base,
    )
