"""Token-scan edge cases against the scalar semantics of ``parse_title_bbox``.

``scan_tokens_from_dom`` parses every bbox of a document in bulk and falls
back to ``parse_title_bbox`` when any title is not exactly ``bbox d d d d``.
Each case here is compared with ``_scalar_scan``, a word-by-word restatement
of the reference scan (parser.py:16-62) built on ``parse_title_bbox``.
"""

import pyarrow as pa
import pytest

from ocr_table_extractor_to_csv_spark.kernel import extract_document
from ocr_table_extractor_to_csv_spark.kernel.hocr import (
    _Node,
    parse_dom,
    parse_title_bbox,
    scan_tokens,
)
from ocr_table_extractor_to_csv_spark.operators.extract import make_extract_fn


def _scalar_scan(html, table_bbox=None):
    """(text, page, x1, y1, x2, y2, line_id) per kept word, Python ints."""
    root, _ = parse_dom(html)
    rows = []
    pages = [n for n in root.iter() if "ocr_page" in (n.get("class") or "")]
    for pi, page in enumerate(pages, start=1):
        lines, words, li = [], [], 0
        for n in list(page.iter())[1:]:
            cls = n.get("class") or ""
            if "ocr_line" in cls:
                li += 1
                lb = parse_title_bbox(n.get("title", ""))
                if lb:
                    lines.append((n.get("id") or f"page_{pi}_line_{li}", lb))
            if "ocrx_word" in cls:
                bb = parse_title_bbox(n.get("title", ""))
                if not bb:
                    continue
                if table_bbox is not None:
                    X1, Y1, X2, Y2 = table_bbox
                    if not (bb[0] >= X1 and bb[1] >= Y1 and bb[2] <= X2 and bb[3] <= Y2):
                        continue
                text = "".join(n.itertext()).strip()
                if text:
                    words.append((text, bb))
        for text, bb in words:
            lid = next(
                (
                    i
                    for i, (a, b, c, d) in lines
                    if bb[0] >= a and bb[1] >= b and bb[2] <= c and bb[3] <= d
                ),
                None,
            )
            rows.append((text, pi, *bb, lid))
    return rows


def _rows(tok):
    return list(
        zip(
            tok.text.tolist(),
            tok.page.tolist(),
            tok.x1.tolist(),
            tok.y1.tolist(),
            tok.x2.tolist(),
            tok.y2.tolist(),
            tok.line_id.tolist(),
        )
    )


def _hocr(body, xml=True):
    head = '<?xml version="1.0"?>' if xml else ""
    return f'{head}<html><body><div class="ocr_page" title="bbox 0 0 900 900">{body}</div></body></html>'.encode()


def _word(title, text="w"):
    return f'<span class="ocrx_word" title="{title}">{text}</span>'


def _check(html, table_bbox=None):
    tok = scan_tokens(html, table_bbox)
    want = _scalar_scan(html, table_bbox)
    assert _rows(tok) == want
    for col in (tok.page, tok.x1, tok.y1, tok.x2, tok.y2):
        assert col.dtype == "int64"
    return want


def test_bulk_path_plain_titles():
    rows = _check(_hocr(_word("bbox 1 2 3 4", "a") + _word("bbox 010 20 30 40", "b")))
    assert rows == [("a", 1, 1, 2, 3, 4, None), ("b", 1, 10, 20, 30, 40, None)]


@pytest.mark.parametrize(
    "title, box",
    [
        ("bbox 10 20 30 40; x_wconf 93", (10, 20, 30, 40)),  # tesseract suffix
        ("bbox 1  2 3 4", (1, 2, 3, 4)),  # double space: the regex's \s+
        ("bbox  1 2 3 4", None),  # ... but "bbox" takes exactly one
        ("bbox 1 2 3 \u0664", (1, 2, 3, 4)),  # Arabic-Indic four: isdecimal
        ("bbox 1 2 3\u00a04", (1, 2, 3, 4)),  # nbsp: the regex's \s
        ("image p.png; bbox 5 6 7 8", (5, 6, 7, 8)),  # prefix
        ("bbox 1 2 3", None),  # too few numbers: word dropped
        ("", None),
    ],
)
def test_fallback_titles_match_parse_title_bbox(title, box):
    assert parse_title_bbox(title) == box
    # one odd title sends the whole document through parse_title_bbox; the
    # plain neighbour must come out the same either way
    rows = _check(_hocr(_word("bbox 100 100 120 120", "plain") + _word(title, "odd")))
    assert rows[0][2:6] == (100, 100, 120, 120)
    assert [r[2:6] for r in rows[1:]] == ([box] if box else [])


def test_nineteen_digit_coordinate_is_an_error_row_not_a_wrap():
    big = "9" * 19  # > int64 max
    html = _hocr(_word("bbox 1 2 3 4", "a") + _word(f"bbox 1 2 3 {big}", "b"))
    with pytest.raises(OverflowError):
        scan_tokens(html)
    with pytest.raises(OverflowError):
        extract_document(html, layout="dynamic")
    # the operator turns it into an error row, as for any kernel exception
    batch = pa.RecordBatch.from_pydict({"url": ["u"], "html": [html]})
    (out,) = list(make_extract_fn("dynamic")([batch]))
    row = out.to_pylist()[0]
    assert row["error"].startswith("OverflowError")
    assert row["csv"] == b""


def test_huge_coordinate_on_dropped_tokens_is_harmless():
    big = "9" * 19
    html = _hocr(
        _word("bbox 1 2 3 4", "a")
        + _word(f"bbox 1 2 3 {big}", " ")  # blank text: dropped before the cast
        + f'<span class="ocr_line" title="bbox 0 0 {big} 50"></span>'
        + _word("bbox 0 0 0 " + "1" + "0" * 18, "c")  # 19 digits that fit int64
    )
    rows = _check(html)
    assert [r[0] for r in rows] == ["a", "c"]
    assert rows[1][5] == 10**18
    assert rows[0][6] == "page_1_line_1"  # contained by the huge line


def test_word_contained_only_by_a_later_line():
    html = _hocr(
        _word("bbox 10 10 20 20", "early")
        + '<span class="ocr_line" id="L1" title="bbox 0 100 50 150"></span>'
        + '<span class="ocr_line" id="L2" title="bbox 0 0 50 50"></span>'
    )
    assert _check(html) == [("early", 1, 10, 10, 20, 20, "L2")]


def test_first_containing_line_wins_and_boxless_lines_consume_an_index():
    html = _hocr(
        '<span class="ocr_line" title="x_size 3"></span>'  # page_1_line_1, no bbox
        '<span class="ocr_line" title="bbox 0 0 100 100">'  # page_1_line_2
        + _word("bbox 10 10 20 20", "a")
        + "</span>"
        '<span class="ocr_line" id="big" title="bbox 0 0 900 900">'
        + _word("bbox 200 200 220 220", "b")
        + "</span>"
        + _word("bbox 950 950 960 960", "outside")
    )
    rows = _check(html)
    assert [(r[0], r[6]) for r in rows] == [
        ("a", "page_1_line_2"),
        ("b", "big"),
        ("outside", None),
    ]


def test_lines_are_matched_per_page():
    page = '<div class="ocr_page" title="bbox 0 0 900 900">{}</div>'
    html = (
        '<?xml version="1.0"?><html><body>'
        + page.format('<span class="ocr_line" title="bbox 0 0 900 900"></span>')
        + page.format(_word("bbox 1 1 2 2", "p2") + '<span class="ocr_line" title="x"></span>'
                      '<span class="ocr_line" title="bbox 0 0 5 5"></span>')
        + "</body></html>"
    ).encode()
    assert _check(html) == [("p2", 2, 1, 1, 2, 2, "page_2_line_2")]


def test_table_bbox_crop():
    html = _hocr(
        _word("bbox 10 10 20 20", "in")
        + _word("bbox 5 10 20 20", "left")
        + _word("bbox 10 10 20 101", "low")
        + _word("bbox 10 10 100 100", "edge")
    )
    rows = _check(html, table_bbox=(10, 10, 100, 100))
    assert [r[0] for r in rows] == ["in", "edge"]


def test_html_fallback_node_tree():
    # not well-formed XML: the lenient HTML parser builds _Node trees, whose
    # words may carry nested markup and attributes without values
    html = _hocr(
        '<span class="ocr_line" title="bbox 0 0 500 60">'
        + _word("bbox 10 10 40 40", "<b>12</b> <i>34</i>")
        + '<span class="ocrx_word" title>notitle</span>'
        + _word("bbox 50 10 80 40", "&amp;")
        + "</span><br>",
        xml=False,
    )
    root, is_hocr = parse_dom(html)
    assert is_hocr and isinstance(root, _Node)
    rows = _check(html)
    assert [(r[0], r[6]) for r in rows] == [("12 34", "page_1_line_1"), ("&", "page_1_line_1")]
