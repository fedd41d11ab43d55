"""hOCR / HTML token scan: html bytes -> columnar token arrays.

Behavioral parity with the reference scan (parser.py:7-62, structures.py:8-24):
  * XML-first parse, HTML fallback when no ``ocr_page`` node is found
    (parser.py:7-14).  The reference uses BeautifulSoup(lxml-xml / lxml);
    neither bs4 nor lxml ships in this environment, so we use stdlib
    ``xml.etree.ElementTree`` with a stdlib ``html.parser`` fallback.  For
    well-formed hOCR (all fixtures + tesseract output) both take the XML
    branch and produce identical token streams.
  * Pages are elements whose ``class`` contains ``ocr_page``, enumerated in
    document order starting at 1 (parser.py:28-31).
  * Words: ``class`` contains ``ocrx_word``; bbox from ``title`` via
    ``bbox (\\d+)\\s+(\\d+)\\s+(\\d+)\\s+(\\d+)`` (structures.py:6-15); words
    with no bbox or blank text are dropped (parser.py:43-52).
  * Optional crop: token kept iff fully inside ``table_bbox``
    (structures.py:22-24, parser.py:47-48).
  * line_id: first ``ocr_line`` on the page (document order) whose bbox
    contains the word bbox; missing ``id`` falls back to
    ``page_{p}_line_{i+1}`` where ``i`` is the line's document-order index —
    lines without a parsable bbox still consume an index (parser.py:33-58).

The scan runs once per document: one pass over the nodes collects only raw
titles, texts and line ids; every bbox is then parsed in bulk, the crop and
blank-text drop are masks, and the word->line containment is a vectorized
first match.  Output is columnar (struct-of-arrays), not per-token objects:
the Spark kernel keeps every downstream pass vectorized over numpy arrays.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html.parser import HTMLParser
from typing import List, Optional, Tuple
from xml.etree import ElementTree as ET

import numpy as np

BBOX_RE = re.compile(r"bbox (\d+)\s+(\d+)\s+(\d+)\s+(\d+)")

# bulk title check: every title exactly "bbox d d d d", <= 18 ASCII digits
# per number (always fits int64), each title followed by the separator
_TITLE_SEP = "\x00"
_BBOX_LIST_RE = re.compile(r"(?:bbox [0-9]{1,18} [0-9]{1,18} [0-9]{1,18} [0-9]{1,18}\x00)*")

# cells per chunk of the words x lines containment test
_CONTAIN_CELLS = 1 << 18

# HTML void elements (no closing tag) for the fallback parser.
_VOID = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


def parse_title_bbox(title: Optional[str]) -> Optional[Tuple[int, int, int, int]]:
    """structures.py:8-15 — regex *search*, ints, None when absent.  The
    scan's bulk path (:func:`_title_boxes`) accepts a subset of this
    language and sends every other document here."""
    if not title:
        return None
    m = BBOX_RE.search(title)
    if not m:
        return None
    a, b, c, d = m.groups()
    return int(a), int(b), int(c), int(d)


@dataclass
class TokenArrays:
    """Columnar token table for a single document."""

    text: np.ndarray  # object
    page: np.ndarray  # int64
    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    line_id: np.ndarray  # object (str or None)

    def __len__(self) -> int:
        return len(self.text)

    @staticmethod
    def empty() -> "TokenArrays":
        o = np.empty(0, dtype=object)
        i = np.empty(0, dtype=np.int64)
        return TokenArrays(o, i.copy(), i.copy(), i.copy(), i.copy(), i.copy(), o.copy())


# --------------------------------------------------------------------------
# Minimal DOM for both parse paths: (tag, class, title, id, children, text)
# --------------------------------------------------------------------------


class _Node:
    """Element node for the HTML-fallback path; ``content`` interleaves text
    (str) and child nodes in document order so itertext() matches
    get_text()/lxml text ordering.  Exposes the same (iter / itertext / get)
    surface as an ElementTree Element so the scan code is parser-agnostic —
    well-formed hOCR takes the ET path, whose C-implemented iteration is
    ~10x faster than recursive Python generators."""

    __slots__ = ("tag", "attrs", "content")

    def __init__(self, tag: str, attrs: dict):
        self.tag = tag
        self.attrs = attrs
        self.content: List[object] = []  # str | _Node, in document order

    @property
    def children(self) -> List["_Node"]:
        return [c for c in self.content if isinstance(c, _Node)]

    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    def itertext(self):
        stack = [iter(self.content)]
        while stack:
            for c in stack[-1]:
                if isinstance(c, _Node):
                    stack.append(iter(c.content))
                    break
                yield c
            else:
                stack.pop()

    def iter(self):
        yield self
        stack = [iter(self.content)]
        while stack:
            for c in stack[-1]:
                if isinstance(c, _Node):
                    yield c
                    stack.append(iter(c.content))
                    break
            else:
                stack.pop()


class _LenientHTML(HTMLParser):
    """Tiny tree-building HTML parser (fallback path, parser.py:14)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {})
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, dict(attrs))
        self.stack[-1].content.append(node)
        if tag not in _VOID:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].content.append(_Node(tag, dict(attrs)))

    def handle_endtag(self, tag):
        # close the nearest matching open tag (lenient recovery)
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        self.stack[-1].content.append(data)


def _has_class(node, name: str) -> bool:
    c = node.get("class")
    return bool(c) and name in c


def _parse_dom(raw: str) -> Tuple[object, bool]:
    """XML-first with HTML fallback (parser.py:7-14). Returns (root, is_hocr);
    root is an ET Element (fast C iteration) on the XML path, a _Node on the
    HTML fallback — both expose iter/itertext/get."""
    try:
        # strip any leading BOM/whitespace which ET rejects
        xml_root = ET.fromstring(raw.lstrip("﻿ \t\r\n"))
        if any(_has_class(n, "ocr_page") for n in xml_root.iter()):
            return xml_root, True
        # parsed fine but no hOCR marker -> HTML reparse (parser.py:12-14)
    except ET.ParseError:
        pass
    parser = _LenientHTML()
    try:
        parser.feed(raw)
        parser.close()
    except Exception:
        pass
    root = parser.root
    is_hocr = any(_has_class(n, "ocr_page") for n in root.iter())
    return root, is_hocr


def parse_dom(html: bytes) -> Tuple[_Node, bool]:
    raw = html.decode("utf-8", errors="replace")
    return _parse_dom(raw)


def scan_tokens(
    html: bytes,
    table_bbox: Optional[Tuple[int, int, int, int]] = None,
) -> TokenArrays:
    """Full token scan of one document (parser.py:16-62)."""
    root, is_hocr = parse_dom(html)
    if not is_hocr:
        return TokenArrays.empty()
    return scan_tokens_from_dom(root, table_bbox)


def _title_boxes(titles: List[str]) -> Tuple[np.ndarray, np.ndarray]:
    """All bbox titles of one document -> ``(boxes (n, 4), valid (n,))``.

    Bulk path: the titles joined on NUL pass one ASCII regex requiring each
    to be exactly ``bbox d d d d`` (<= 18 digits, so int64 never overflows)
    and one ``np.fromstring`` converts every number.  NUL cannot occur in an
    XML attribute; an HTML-fallback title holding one yields more than 4
    numbers per title and is caught by the count check.  Any other title
    sends the whole document through
    :func:`parse_title_bbox`, so the accepted language is that function's
    (``; x_wconf`` suffixes, non-ASCII digits, ...).  Boxes whose ints do not
    fit int64 are kept as Python ints (object dtype): the caller's final
    int64 cast then raises for a KEPT token only, as the scalar scan did."""
    joined = _TITLE_SEP.join(titles) + _TITLE_SEP
    if _BBOX_LIST_RE.fullmatch(joined):
        body = joined.replace("bbox ", "").replace(_TITLE_SEP, " ")
        nums = np.fromstring(body, dtype=np.int64, sep=" ")
        if nums.size == 4 * len(titles):
            return nums.reshape(-1, 4), np.ones(len(titles), dtype=bool)
    parsed = [parse_title_bbox(t) for t in titles]
    valid = np.asarray([bb is not None for bb in parsed], dtype=bool)
    boxes = [bb or (0, 0, 0, 0) for bb in parsed]
    try:
        return np.asarray(boxes, dtype=np.int64).reshape(-1, 4), valid
    except OverflowError:
        return np.asarray(boxes, dtype=object).reshape(-1, 4), valid


def _first_containing(words: np.ndarray, lines: np.ndarray) -> np.ndarray:
    """Index of the first row of ``lines`` whose box contains each row of
    ``words`` (inclusive edges), -1 when none.  The words x lines test runs
    in chunks of at most ``_CONTAIN_CELLS`` cells, so a giant page never
    allocates the full matrix."""
    out = np.empty(len(words), dtype=np.int64)
    step = max(1, _CONTAIN_CELLS // len(lines))
    L = lines.T[:, None, :]
    for s in range(0, len(words), step):
        W = words[s : s + step].T[:, :, None]
        inside = (W[0] >= L[0]) & (W[1] >= L[1]) & (W[2] <= L[2]) & (W[3] <= L[3])
        first = inside.argmax(axis=1)
        hit = inside[np.arange(len(first)), first]
        out[s : s + step] = np.where(hit, first, -1)
    return out


def scan_tokens_from_dom(
    root: _Node, table_bbox: Optional[Tuple[int, int, int, int]] = None
) -> TokenArrays:
    # one pass over each page's nodes collects raw titles/texts/ids only;
    # bboxes, the crop, the blank-text drop and the word->line containment
    # then run once per document over arrays
    texts: List[str] = []
    titles: List[str] = []  # word titles, then (appended below) line titles
    word_ends: List[int] = []  # len(texts) after each page
    line_ids: List[str] = []
    line_titles: List[str] = []
    line_pages: List[int] = []

    page_nodes = [n for n in root.iter() if "ocr_page" in (n.get("class") or "")]
    is_et = root.__class__ is not _Node
    add_title, add_text = titles.append, texts.append
    for pi, page in enumerate(page_nodes, start=1):
        li = 0
        it = page.iter()
        next(it)  # page.iter() yields the page node itself first
        for n in it:
            cls = n.get("class")
            if not cls:
                continue
            # a node carrying both classes keeps both roles
            if "ocr_line" in cls:
                # lines without a parsable bbox still consume an index
                li += 1
                line_ids.append(n.get("id") or f"page_{pi}_line_{li}")
                line_titles.append(n.get("title") or "")
                line_pages.append(pi)
            if "ocrx_word" in cls:
                add_title(n.get("title") or "")
                # childless fast path (the normal hOCR word shape) avoids
                # the itertext generator; identical to the join for 0 kids
                if is_et and not len(n):
                    add_text((n.text or "").strip())
                else:
                    add_text("".join(n.itertext()).strip())
        word_ends.append(len(texts))

    nw = len(texts)
    if nw == 0:
        return TokenArrays.empty()
    titles += line_titles
    boxes, valid = _title_boxes(titles)
    wb = boxes[:nw]
    text = np.asarray(texts, dtype=object)
    keep = (text != "") & valid[:nw]
    if table_bbox is not None:
        X1, Y1, X2, Y2 = table_bbox
        keep &= (wb[:, 0] >= X1) & (wb[:, 1] >= Y1) & (wb[:, 2] <= X2) & (wb[:, 3] <= Y2)
    if not keep.any():
        return TokenArrays.empty()
    page = np.searchsorted(word_ends, np.flatnonzero(keep), side="right") + 1
    wb = wb[keep]

    line_id = np.full(len(page), None, dtype=object)
    if line_ids:
        lb = boxes[nw:]
        lpage = np.asarray(line_pages, dtype=np.int64)
        lkeep = valid[nw:]
        ids = np.asarray(line_ids + [None], dtype=object)
        # words and lines are both in page order: match page by page against
        # that page's lines in document order; -1 (no line) picks the None
        for p in np.unique(lpage[lkeep]).tolist():
            w_lo, w_hi = np.searchsorted(page, [p, p + 1])
            if w_lo == w_hi:
                continue
            on_page = np.flatnonzero((lpage == p) & lkeep)
            hit = _first_containing(wb[w_lo:w_hi], lb[on_page])
            line_id[w_lo:w_hi] = ids[np.where(hit >= 0, on_page[hit], -1)]

    wb = np.asarray(wb, dtype=np.int64)  # OverflowError for a kept huge coordinate
    return TokenArrays(
        text=text[keep],
        page=page,
        x1=wb[:, 0],
        y1=wb[:, 1],
        x2=wb[:, 2],
        y2=wb[:, 3],
        line_id=line_id,
    )
