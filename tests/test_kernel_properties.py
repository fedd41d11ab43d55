"""Property-based kernel tests (SURVEY.md §5.2.3): random token layouts ->
structural invariants + determinism, across every layout."""

import hypothesis.strategies as st
import numpy as np
from hypothesis import example, given, settings

from ocr_table_extractor_to_csv_spark.kernel import extract_document, geometry
from ocr_table_extractor_to_csv_spark.kernel.geometry import (
    line_gap_quantile,
    merge_line_spans,
    merge_spans,
)
from ocr_table_extractor_to_csv_spark.kernel.hocr import TokenArrays
from ocr_table_extractor_to_csv_spark.kernel.layouts import compute_line_spans
from ocr_table_extractor_to_csv_spark.kernel.lines import build_lines

token_st = st.tuples(
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x024F),
        min_size=0,
        max_size=8,
    ),
    st.integers(0, 1600),   # x1
    st.integers(0, 2100),   # y1
    st.integers(1, 90),     # width
    st.integers(1, 40),     # height
)


def _doc(tokens) -> bytes:
    words = "".join(
        f'<span class="ocrx_word" title="bbox {x} {y} {x + w} {y + h}">{t}</span>'
        for (t, x, y, w, h) in tokens
    )
    return (
        '<?xml version="1.0"?><html><body>'
        f'<div class="ocr_page" title="bbox 0 0 1700 2200">{words}</div>'
        "</body></html>"
    ).encode()


@settings(max_examples=60, deadline=None)
@given(st.lists(token_st, min_size=0, max_size=40))
def test_every_layout_total_and_deterministic(tokens):
    html = _doc(tokens)
    for layout in ("generic", "dynamic", "financial", "professional"):
        a = extract_document(html, layout=layout)
        b = extract_document(html, layout=layout)
        # deterministic byte-for-byte (task-retry safety)
        assert a.csv == b.csv and a.csv_numeric == b.csv_numeric
        assert a.main_text == b.main_text
        # structural invariants
        assert a.csv.startswith(b"\xef\xbb\xbf") or a.csv == b""
        if a.n_tokens == 0:
            assert a.csv == b"\xef\xbb\xbf"  # empty-doc byte rule
        assert a.n_lines <= max(a.n_tokens, 1)
        if layout == "financial" and a.n_tokens > 0:
            assert a.header == ["Cuenta", "Valor_1", "Valor_2"]
            # every body row has exactly 3 cells after postprocess
            text = a.csv.decode("utf-8-sig")
            for line in text.split("\r\n")[1:-1]:
                # naive comma count only valid without quoted cells
                if '"' not in line:
                    assert line.count(",") == 2


@settings(max_examples=30, deadline=None)
@given(st.lists(token_st, min_size=1, max_size=30), st.integers(1, 6))
def test_generic_expected_cols_coercion(tokens, k):
    res = extract_document(_doc(tokens), layout="generic", expected_n_cols=k)
    if res.n_tokens and res.n_cols:
        # coercion drives the grid to exactly k columns whenever any
        # interval survives (columns.py:51-70)
        assert res.n_cols == k


def test_scan_bbox_language_equals_parse_title_bbox():
    """The scan parses titles in bulk and falls back to parse_title_bbox
    for any title off the bulk path; this pins the accepted language to the
    function so the two cannot silently drift (adversarial titles: bulk
    hits, bulk misses that the regex accepts, and rejects)."""
    from ocr_table_extractor_to_csv_spark.kernel.hocr import (
        parse_title_bbox,
        scan_tokens,
    )

    titles = [
        "bbox 1 2 3 4",                      # fast path
        "bbox 10 20 30 40; x_wconf 96",      # suffix -> regex
        "image p.png; bbox 5 6 7 8",         # prefix -> regex
        "bbox  1 2 3 4",                     # double space -> regex
        "bbox 1 2 3",                        # too few -> None
        "bbox -1 2 3 4",                     # negative -> None
        "bbox 1 2 3 ²",                 # superscript two: isdecimal False -> None
        "bbox 01 002 3 4",                   # leading zeros -> ints
        "x_size 12",                         # no bbox -> None
        "bbox 1 2 3 4",                 # nbsp: split(' ') misses, java \s? regex decides
    ]
    words = "".join(
        f'<span class="ocrx_word" title="{t}">w{i}</span>'
        for i, t in enumerate(titles)
    )
    html = (
        '<?xml version="1.0"?><html><body>'
        f'<div class="ocr_page" title="bbox 0 0 100 100">{words}</div>'
        "</body></html>"
    ).encode()
    tok = scan_tokens(html)
    got = sorted(
        (int(x1), int(y1), int(x2), int(y2))
        for x1, y1, x2, y2 in zip(tok.x1, tok.y1, tok.x2, tok.y2)
    )
    want = sorted(bb for t in titles if (bb := parse_title_bbox(t)) is not None)
    assert got == want


# ---------------------------------------------------------------------------
# segmented span merge == scalar per-line line_gap_quantile + merge_spans
# ---------------------------------------------------------------------------

# (page, row, x1, width, text): few rows and a narrow x range, so lines hold
# several tokens, x1 values collide and widths include 0
span_token_st = st.tuples(
    st.integers(1, 3),
    st.integers(0, 4),
    st.integers(0, 300),
    st.integers(0, 70),
    st.sampled_from(["a", "b c", "1,234", "(56)", "2023", "$", " x "]),
)


def _span_tokens(tokens, invert_first=False) -> TokenArrays:
    """Token table with 20 px rows; ``invert_first`` gives the first token
    x2 = 0, below its x1 (the invariant breaker)."""
    n = len(tokens)
    x1 = np.asarray([t[2] for t in tokens], dtype=np.int64)
    x2 = x1 + np.asarray([t[3] for t in tokens], dtype=np.int64)
    if invert_first:
        x2[0] = 0
    y1 = np.asarray([t[1] * 30 for t in tokens], dtype=np.int64)
    return TokenArrays(
        text=np.asarray([t[4] for t in tokens], dtype=object),
        page=np.asarray([t[0] for t in tokens], dtype=np.int64),
        x1=x1,
        y1=y1,
        x2=x2,
        y2=y1 + 20,
        line_id=np.full(n, None, dtype=object),
    )


def _scalar_spans(tok, lines, gap):
    out = []
    for ln in lines:
        x1, x2 = tok.x1[ln.idx], tok.x2[ln.idx]
        g = line_gap_quantile(x1, x2) if gap is None else gap
        out.append(merge_spans(tok.text[ln.idx], x1, x2, g))
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(span_token_st, min_size=1, max_size=40), st.booleans())
def test_segmented_span_merge_matches_scalar(tokens, invert_first):
    tok = _span_tokens(tokens, invert_first)
    lines = build_lines(tok)  # multi-page; single-token lines included
    for gap in (None, 18):  # per-line P95 (dynamic) and the financial 18 px
        got = compute_line_spans(tok, lines, max_gap_px=gap).lists()
        assert got == _scalar_spans(tok, lines, gap)
        assert all(type(a) is int and type(b) is int for spans in got for a, b, _ in spans)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.tuples(st.integers(0, 200), st.integers(0, 40)), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    )
)
# the 100 px gap between the lines must not enter line 2's P95 (29 -> 93)
@example([[(0, 0)], [(100, 10), (123, 10), (163, 10)]])
def test_merge_line_spans_direct(lines):
    """(x1, width) per token per line: raw segmented input, including empty
    lines, duplicate x1 and zero widths."""
    text, x1, x2 = [], [], []
    for k, line in enumerate(lines):
        for j, (a, w) in enumerate(sorted(line, key=lambda t: t[0])):
            text.append(f"t{k}.{j}")
            x1.append(a)
            x2.append(a + w)
    text = np.asarray(text, dtype=object)
    x1 = np.asarray(x1, dtype=np.int64)
    x2 = np.asarray(x2, dtype=np.int64)
    counts = [len(line) for line in lines]
    bounds = np.cumsum([0] + counts)
    for gap in (None, 18):
        want = []
        for lo, hi in zip(bounds, bounds[1:]):
            s1, s2 = x1[lo:hi], x2[lo:hi]
            g = line_gap_quantile(s1, s2) if gap is None else gap
            want.append(merge_spans(text[lo:hi], s1, s2, g))
        assert merge_line_spans(text, x1, x2, counts, gap).lists() == want


def test_inverted_token_takes_the_scalar_fallback(monkeypatch):
    # B (x2 < x1) starts a span whose edge is B's own x2 = 100, while the
    # line-wide running max is still A's 200
    calls = []
    real = geometry.merge_spans
    monkeypatch.setattr(geometry, "merge_spans", lambda *a: calls.append(1) or real(*a))
    text = np.asarray(["A", "B"], dtype=object)
    x1 = np.asarray([0, 250], dtype=np.int64)
    x2 = np.asarray([200, 100], dtype=np.int64)
    assert merge_line_spans(text, x1, x2, [2], 18).lists() == [[(0, 200, "A"), (250, 100, "B")]]
    assert calls == [1]
    x2[1] = 260
    assert merge_line_spans(text, x1, x2, [2], 18).lists() == [[(0, 200, "A"), (250, 260, "B")]]
    assert calls == [1]  # x2 >= x1 everywhere: no scalar call


# ---------------------------------------------------------------------------
# build_lines == a token-by-token restatement of the reference grouping
# ---------------------------------------------------------------------------


def _scalar_lines(tok):
    """(page, x1, y1, x2, y2, member indices, line_id) per line, restating
    lines.py:6-63 token by token."""
    n = len(tok)
    page, x1, y1, x2, y2 = (a.tolist() for a in (tok.page, tok.x1, tok.y1, tok.x2, tok.y2))
    groups = []  # (members in scan order, line_id)
    if any(lid is not None for lid in tok.line_id):
        keyed = {}
        for i in range(n):
            lid = tok.line_id[i] or f"inferred_{page[i]}_{int((y1[i] + y2[i]) / 2.0)}"
            keyed.setdefault((page[i], lid), []).append(i)
        groups = [(m, lid) for (_p, lid), m in keyed.items()]
    elif n:
        order = sorted(range(n), key=lambda i: (page[i], (y1[i] + y2[i]) / 2.0, x1[i]))
        cur, lo, hi = [], None, None
        for i in order:
            if cur and page[i] == page[cur[-1]]:
                inter = min(hi, y2[i]) - max(lo, y1[i])
                denom = max(1, min(hi - lo, y2[i] - y1[i]))
                if inter > 0 and inter / denom >= 0.5:
                    cur.append(i)
                    lo, hi = min(lo, y1[i]), max(hi, y2[i])
                    continue
            if cur:
                groups.append((cur, None))
            cur, lo, hi = [i], y1[i], y2[i]
        groups.append((cur, None))
    out = []
    for members, lid in groups:
        m = sorted(members, key=lambda i: x1[i])
        out.append((page[m[0]], x1[m[0]], min(y1[i] for i in m), max(x2[i] for i in m),
                    max(y2[i] for i in m), m, lid))
    out.sort(key=lambda L: (L[0], L[2], L[1]))
    return out


line_token_st = st.tuples(
    st.integers(1, 2),  # page
    st.integers(0, 6),  # row
    st.integers(-6, 6),  # y jitter
    st.sampled_from([0, 1, 2, 10, 20, 20, 20, 30]),  # height
    st.integers(0, 200),  # x1
    st.sampled_from([None, None, "", "L1", "L2"]),  # line_id
)


@settings(max_examples=200, deadline=None)
@given(st.lists(line_token_st, min_size=0, max_size=40), st.booleans())
def test_build_lines_matches_scalar_grouping(tokens, with_ids):
    n = len(tokens)
    y1 = np.asarray([r * 25 + j for _p, r, j, _h, _x, _l in tokens], dtype=np.int64)
    x1 = np.asarray([t[4] for t in tokens], dtype=np.int64)
    tok = TokenArrays(
        text=np.asarray([f"t{i}" for i in range(n)], dtype=object),
        page=np.asarray([t[0] for t in tokens], dtype=np.int64),
        x1=x1,
        y1=y1,
        x2=x1 + 15,
        y2=y1 + np.asarray([t[3] for t in tokens], dtype=np.int64),
        line_id=np.asarray([t[5] if with_ids else None for t in tokens] + [None], dtype=object)[:n],
    )
    got = [
        (ln.page, ln.x1, ln.y1, ln.x2, ln.y2, ln.idx.tolist(), ln.line_id)
        for ln in build_lines(tok)
    ]
    assert got == _scalar_lines(tok)
