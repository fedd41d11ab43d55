"""Batch orchestrator: html bytes of an Arrow batch -> ExtractResults.

Mirrors the reference dispatch (main.py:57-163) with one addition: a
``html`` path for regular (non-hOCR) web pages (boilerplate strip + plain
<table> reconstruction), since Common-Crawl input is mostly not hOCR.

The batch is the unit of vectorized work.  Only the DOM parse and the node
walk run per document (each tree is dropped before the next parse); the
bbox parse, the crop, the word->line containment, line building, span
merging, the numeric span flags, column inference and column assignment
run once over the concatenated columns of all documents of a layout,
keyed by (doc, page) / (doc, line) segments.  Row merge, header resolution
and CSV export stay per document, in plain Python.  ``extract_document``
is the one-document batch.

Empty-output byte semantics (verified; SURVEY §2.1 S8):
  * no tokens / no lines on an hOCR layout -> 3-byte BOM-only csv
    (main.py:100-109);
  * an empty grid written through the csv writer -> 0-byte csv.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, NamedTuple, Optional, Sequence, Tuple, Union

import numpy as np

from . import boilerplate, layouts
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


class Request(NamedTuple):
    html: bytes
    layout: Optional[str] = "auto"
    table_bbox: Optional[Tuple[int, int, int, int]] = None
    expected_n_cols: Optional[int] = None
    header_regexes: Optional[Sequence[str]] = None
    max_columns: Optional[int] = None


def extract_document(
    html: bytes,
    layout: Optional[str] = "auto",
    table_bbox: Optional[Tuple[int, int, int, int]] = None,
    expected_n_cols: Optional[int] = None,
    header_regexes: Optional[Sequence[str]] = None,
    max_columns: Optional[int] = None,
) -> ExtractResult:
    """One document, as a batch of one; raises the exception its row would
    carry as ``error``."""
    (res,) = _extract(
        [Request(html, layout, table_bbox, expected_n_cols, header_regexes, max_columns)]
    )
    if isinstance(res, Exception):
        raise res
    return res


def extract_documents(docs: Sequence[Tuple[bytes, Optional[str], dict]]) -> List[ExtractResult]:
    """A batch of (html, layout, keyword arguments of extract_document) ->
    one result per document, in order.  A failing document, and only that
    one, gets a result holding its layout and ``error`` ("Type: message")."""
    reqs: List[Union[Request, Exception]] = []
    for html, layout, args in docs:
        try:
            reqs.append(Request(html, layout, **args))
        except TypeError as exc:
            reqs.append(exc)
    done = iter(_extract([r for r in reqs if isinstance(r, Request)]))
    out = []
    for (_html, layout, _args), req in zip(docs, reqs):
        res = next(done) if isinstance(req, Request) else req
        if isinstance(res, Exception):
            res = ExtractResult(layout=str(layout), error=f"{type(res).__name__}: {res}")
        out.append(res)
    return out


def _extract(reqs: List[Request]) -> List[Union[ExtractResult, Exception]]:
    try:
        return _extract_batch(reqs)
    except Exception as exc:
        if len(reqs) == 1:
            return [exc]
    # a pass over the whole batch raised: one document at a time, so the
    # failure lands on its own row only
    return [_extract([r])[0] for r in reqs]


def _extract_batch(reqs: List[Request]) -> List[Union[ExtractResult, Exception]]:
    out: List[Union[ExtractResult, Exception, None]] = [None] * len(reqs)
    groups: Dict[str, List[int]] = {}
    for i, r in enumerate(reqs):
        try:
            layout = (r.layout or "auto").lower()
            if layout not in ("auto", "html") + HOCR_LAYOUTS:
                raise ValueError(f"unknown layout: {layout!r}")
        except Exception as exc:
            out[i] = exc
            continue
        groups.setdefault(layout, []).append(i)
    for layout, idx in groups.items():
        for i, res in zip(idx, _extract_layout(layout, [reqs[i] for i in idx])):
            out[i] = res
    return out


def _extract_layout(layout: str, reqs: List[Request]) -> List[Union[ExtractResult, Exception]]:
    """Documents requested under one layout."""
    out: List[Union[ExtractResult, Exception, None]] = [None] * len(reqs)
    scanned: List[int] = []  # request index of each hOCR document

    def trees():
        for i, r in enumerate(reqs):
            root, is_hocr = parse_dom(r.html)
            if layout == "html" or not is_hocr:
                # regular web page: boilerplate strip + first-table reconstruction
                main_text, csv, header, body = boilerplate.extract_html_document(root)
                out[i] = ExtractResult(
                    layout="html",
                    csv=csv,
                    main_text=main_text,
                    n_rows=len(body),
                    n_cols=len(header),
                    header=list(header),
                    is_hocr=False,
                )
            else:
                scanned.append(i)
                yield root, r.table_bbox
            del root  # before the next document is parsed

    tok = scan_tokens_from_dom(trees())
    if not scanned:
        return out
    layout = "dynamic" if layout == "auto" else layout  # run.py default layout
    n_docs = len(scanned)
    t_at = np.searchsorted(tok.doc, np.arange(n_docs + 1)).tolist()
    lines = build_lines(tok)
    l_at = np.searchsorted(lines.doc, np.arange(n_docs + 1)).tolist()
    # engine spec main text: one physical line per detected line, tokens
    # space-joined in x order (deterministic; the reference emits none)
    words = tok.text[lines.members].tolist()
    m_at = lines.start.tolist()
    line_texts = [" ".join(words[a:b]) for a, b in zip(m_at, m_at[1:])]

    live: List[Tuple[int, int, dict]] = []  # (doc, request index, result base)
    for d, i in enumerate(scanned):
        n_tokens = t_at[d + 1] - t_at[d]
        if n_tokens == 0:
            # main.py:100-103 -> BOM-only file
            out[i] = ExtractResult(layout=layout, csv=empty_csv_bytes(), is_hocr=True)
        elif l_at[d + 1] == l_at[d]:
            out[i] = ExtractResult(
                layout=layout, csv=empty_csv_bytes(), n_tokens=n_tokens, is_hocr=True
            )
        else:
            live.append((d, i, dict(
                layout=layout,
                main_text="\n".join(line_texts[l_at[d] : l_at[d + 1]]),
                n_tokens=n_tokens,
                n_lines=l_at[d + 1] - l_at[d],
                is_hocr=True,
            )))
    if not live:
        return out

    if layout == "dynamic":
        spans = layouts.compute_line_spans(tok, lines)
        numeric = numeric_span_flags(spans)
        intervals, names = infer_numeric_columns(lines, spans, numeric, n_docs)
        recs = assign_dynamic(lines, spans, numeric, intervals, line_texts)
        for d, i, base in live:
            rows = merge_financial_rows(recs[l_at[d] : l_at[d + 1]])
            if not rows:
                out[i] = ExtractResult(csv=empty_csv_bytes(), **base)
                continue
            num_cols = max(len(r) for r in rows) - 1
            header = resolve_dynamic_header(max(num_cols, 0), names[d])
            out[i] = ExtractResult(
                csv=csv_bytes(rows, header),
                csv_numeric=csv_bytes_numeric(rows, header),
                n_rows=len(rows),
                n_cols=len(header),
                header=header,
                **base,
            )
        return out

    if layout == "financial":
        recs = assign_financial_three_columns(
            lines, layouts.compute_line_spans(tok, lines, max_gap_px=18)
        )
        header = ["Cuenta", "Valor_1", "Valor_2"]
        for d, i, base in live:
            rows = merge_financial_rows(recs[l_at[d] : l_at[d + 1]])
            rows = postprocess_financial(rows)
            out[i] = ExtractResult(
                csv=csv_bytes(rows, header),
                n_rows=len(rows),
                n_cols=len(header),
                header=list(header),
                **base,
            )
        return out

    for d, i, base in live:
        body, header = _grid_layout(
            layout, reqs[i], tok, lines.views(l_at[d], l_at[d + 1]), t_at[d], t_at[d + 1]
        )
        out[i] = ExtractResult(
            csv=csv_bytes(body, header),
            n_rows=len(body),
            n_cols=len(header),
            header=list(header),
            **base,
        )
    return out


def _grid_layout(
    layout: str, r: Request, tok: TokenArrays, lines: List[Line], lo: int, hi: int
) -> Tuple[List[List[str]], List[str]]:
    """(body, header) of one document under the generic, transformers or
    professional layout: its ``lines`` index the batch's ``tok``, where its
    own tokens are rows ``lo:hi``."""
    if layout == "generic":
        intervals = estimate_columns(tok, lines, expected_n_cols=r.expected_n_cols)
        recs = assign_words_to_columns(tok, lines, intervals)
        grid = merge_lines_into_rows(recs, tok, lines)
        header_row, body = detect_header_row(
            grid, list(r.header_regexes) if r.header_regexes else None
        )
        return body, header_row or []

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
            tok, lines, expected_n_cols=r.expected_n_cols or r.max_columns or MAX_MODEL_COLUMNS
        )
        recs = assign_words_to_columns(tok, lines, intervals)
        grid = merge_lines_into_rows(recs, tok, lines) if intervals else []
        if grid:
            header_row, body = detect_header_row(
                grid, list(r.header_regexes) if r.header_regexes else None
            )
            return [[c.strip() for c in row] for row in body], header_row or []

    # professional, and the transformers layout's spatial-grid fallback
    return build_professional_grid(tok.rows(lo, hi))
