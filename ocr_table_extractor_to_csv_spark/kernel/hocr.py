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

The scan walks each document's tree once, collecting only raw titles,
texts and line ids; every bbox of the batch is then parsed in bulk, the crop
and blank-text drop are masks, and the word->line containment is a
vectorized first match over all pages of the batch.  Output is columnar
(struct-of-arrays) with a document column, not per-token objects: the Spark
kernel keeps every downstream pass vectorized over the whole Arrow batch.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser
from typing import Iterable, List, Optional, Tuple
from xml.etree import ElementTree as ET

import numpy as np

BBOX_RE = re.compile(r"bbox (\d+)\s+(\d+)\s+(\d+)\s+(\d+)")

# bulk title check over titles joined on, led and ended by the separator:
# finds a title that is not "bbox d d d d" (<= 18 ASCII digits per number,
# so int64 never overflows) optionally followed by a "; ..." suffix
# (tesseract's "; x_wconf 93", "; baseline ...; x_size ...").  One lookahead
# per separator: memory stays flat however many titles a batch joins.
_TITLE_SEP = "\x00"
_OFF_BULK_RE = re.compile(
    r"\x00(?!bbox [0-9]{1,18} [0-9]{1,18} [0-9]{1,18} [0-9]{1,18}(?:;[^\x00]*)?\x00|\Z)"
)
_SUFFIX_RE = re.compile(r";[^\x00]*")

# word-line pairs per chunk of the containment test
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
    """Columnar token table of a batch of documents, document-major: the
    tokens of document ``d`` are the rows whose ``doc`` is ``d``, in scan
    order.  A table built without ``doc`` holds one document."""

    text: np.ndarray  # object
    page: np.ndarray  # int64
    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    line_id: np.ndarray  # object (str or None)
    doc: Optional[np.ndarray] = None  # int64

    def __post_init__(self) -> None:
        if self.doc is None:
            self.doc = np.zeros(len(self.text), dtype=np.int64)

    def __len__(self) -> int:
        return len(self.text)

    def rows(self, lo: int, hi: int) -> "TokenArrays":
        """Rows ``lo:hi`` (views) as a one-document table."""
        return TokenArrays(
            self.text[lo:hi], self.page[lo:hi], self.x1[lo:hi], self.y1[lo:hi],
            self.x2[lo:hi], self.y2[lo:hi], self.line_id[lo:hi],
        )

    @staticmethod
    def empty() -> "TokenArrays":
        o = np.empty(0, dtype=object)
        i = np.empty(0, dtype=np.int64)
        return TokenArrays(o, i, i, i, i, i, o, i)


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
    return scan_tokens_from_dom([(root, table_bbox)])


@dataclass
class _Walk:
    """What the node walk keeps of a batch: raw word and line strings, and
    per page (document, page number, words, lines)."""

    texts: List[str] = field(default_factory=list)
    word_titles: List[str] = field(default_factory=list)
    line_ids: List[str] = field(default_factory=list)
    line_titles: List[str] = field(default_factory=list)
    pages: List[Tuple[int, int, int, int]] = field(default_factory=list)
    crops: List[Optional[Tuple[int, int, int, int]]] = field(default_factory=list)
    word_ends: List[int] = field(default_factory=list)  # per document
    line_ends: List[int] = field(default_factory=list)

    def add(self, root, table_bbox) -> None:
        """Walk one document's tree: only raw titles, texts and ids."""
        d = len(self.crops)
        texts, titles = self.texts, self.word_titles
        line_ids, line_titles = self.line_ids, self.line_titles
        add_title, add_text = titles.append, texts.append
        is_et = root.__class__ is not _Node
        page_nodes = [n for n in root.iter() if "ocr_page" in (n.get("class") or "")]
        for pi, page in enumerate(page_nodes, start=1):
            li = 0
            nw = len(texts)
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
                if "ocrx_word" in cls:
                    add_title(n.get("title") or "")
                    # childless fast path (the normal hOCR word shape) avoids
                    # the itertext generator; identical to the join for 0 kids
                    if is_et and not len(n):
                        add_text((n.text or "").strip())
                    else:
                        add_text("".join(n.itertext()).strip())
            self.pages.append((d, pi, len(texts) - nw, li))
        self.crops.append(table_bbox)
        self.word_ends.append(len(texts))
        self.line_ends.append(len(line_ids))


def _joined(titles: List[str]) -> str:
    return _TITLE_SEP + _TITLE_SEP.join(titles) + _TITLE_SEP


def _bulk_ok(joined: str, n: int) -> bool:
    return _OFF_BULK_RE.search(joined) is None and joined.count(_TITLE_SEP) == n + 1


def _bulk_numbers(joined: str) -> np.ndarray:
    if ";" in joined:
        joined = _SUFFIX_RE.sub("", joined)
    body = joined.replace("bbox ", "").replace(_TITLE_SEP, " ")
    return np.fromstring(body, dtype=np.int64, sep=" ").reshape(-1, 4)


def _title_boxes(titles: List[str], ends: List[int]) -> Tuple[np.ndarray, np.ndarray]:
    """All bbox titles of a batch (document ``d``'s end at ``ends[d]``) ->
    ``(boxes (n, 4), valid (n,))``.

    Bulk path: the titles joined on NUL pass one ASCII regex check requiring
    each to be ``bbox d d d d`` (<= 18 digits, so int64 never overflows) with
    an optional ``; ...`` suffix, which is cut before one ``np.fromstring``
    converts every number.  That is :func:`parse_title_bbox`'s first match:
    the title starts with it and its fourth number ends at the ``;``.  NUL
    cannot occur in an XML attribute; an HTML-fallback title holding one
    adds a separator and fails the count check.  When the batch fails, each
    document is checked alone and a failing one goes title by title through
    :func:`parse_title_bbox`, so the accepted language is that function's
    (double spaces, non-ASCII digits, ...).  Boxes whose ints do not fit
    int64 are kept as Python ints (object dtype): the caller's final int64
    cast then raises for a KEPT token only, as the scalar scan did."""
    if not titles:
        return np.zeros((0, 4), dtype=np.int64), np.zeros(0, dtype=bool)
    joined = _joined(titles)
    if _bulk_ok(joined, len(titles)):
        return _bulk_numbers(joined), np.ones(len(titles), dtype=bool)
    bulk, slow, parsed, counts = [], [], [], []
    start = 0
    for end in ends:
        part = titles[start:end]
        joined = _joined(part)
        ok = _bulk_ok(joined, len(part))
        if ok:
            bulk.append(joined)
        else:
            parsed += [parse_title_bbox(t) for t in part]
        slow.append(not ok)
        counts.append(end - start)
        start = end
    fallback = np.repeat(slow, counts)
    valid = np.ones(len(titles), dtype=bool)
    valid[fallback] = [bb is not None for bb in parsed]
    boxes = [bb or (0, 0, 0, 0) for bb in parsed]
    try:
        slow_boxes = np.asarray(boxes, dtype=np.int64).reshape(-1, 4)
        out = np.empty((len(titles), 4), dtype=np.int64)
    except OverflowError:
        slow_boxes = np.asarray(boxes, dtype=object).reshape(-1, 4)
        out = np.empty((len(titles), 4), dtype=object)
    out[fallback] = slow_boxes
    out[~fallback] = _bulk_numbers("".join(bulk)) if bulk else 0
    return out, valid


def _first_containing(
    words: np.ndarray, lines: np.ndarray, lo: np.ndarray, hi: np.ndarray
) -> np.ndarray:
    """Index of the first column of ``lines`` in ``[lo, hi)`` whose box
    contains each column of ``words`` (inclusive edges), -1 when none; both
    are (4, n) box tables.  The listed word-line pairs are tested in chunks
    of about ``_CONTAIN_CELLS``, the y extent first, so a giant page never
    allocates its full words x lines matrix."""
    n = words.shape[1]
    out = np.full(n, -1, dtype=np.int64)
    cnt = hi - lo
    ends = np.cumsum(cnt)
    s = 0
    while s < n:
        base = int(ends[s] - cnt[s])
        e = max(s + 1, int(np.searchsorted(ends, base + _CONTAIN_CELLS, side="right")))
        c = cnt[s:e]
        w = np.repeat(np.arange(s, e), c)
        li = np.arange(len(w)) + np.repeat(lo[s:e] - (ends[s:e] - c - base), c)
        y_in = np.flatnonzero((words[1][w] >= lines[1][li]) & (words[3][w] <= lines[3][li]))
        w, li = w[y_in], li[y_in]
        x_in = np.flatnonzero((words[0][w] >= lines[0][li]) & (words[2][w] <= lines[2][li]))
        if x_in.size:
            w, li = w[x_in], li[x_in]
            first = np.flatnonzero(np.concatenate(([True], w[1:] != w[:-1])))
            out[w[first]] = li[first]
        s = e
    return out


def _tokens(walk: _Walk) -> TokenArrays:
    """The array half of the scan over a walked batch."""
    nw = len(walk.texts)
    if nw == 0:
        return TokenArrays.empty()
    wb, wvalid = _title_boxes(walk.word_titles, walk.word_ends)
    text = np.asarray(walk.texts, dtype=object)
    keep = (text != "") & wvalid
    for d, crop in enumerate(walk.crops):
        a, b = (walk.word_ends[d - 1] if d else 0), walk.word_ends[d]
        if crop is not None and b > a:  # a document without words never reads its crop
            X1, Y1, X2, Y2 = crop
            keep[a:b] &= (
                (wb[a:b, 0] >= X1) & (wb[a:b, 1] >= Y1) & (wb[a:b, 2] <= X2) & (wb[a:b, 3] <= Y2)
            )
    if not keep.any():
        return TokenArrays.empty()
    pdoc, pno, pwords, plines = (np.asarray(c, dtype=np.int64) for c in zip(*walk.pages))
    kept = np.flatnonzero(keep)
    inst = np.repeat(np.arange(len(pno)), pwords)[kept]  # (document, page) of each word
    wb = wb[kept]

    line_id = np.full(len(kept), None, dtype=object)
    lb, lvalid = _title_boxes(walk.line_titles, walk.line_ends)
    lv = np.flatnonzero(lvalid)
    if lv.size:
        # words and lines are both in (document, page) order: each word's
        # candidates are its page's lines in document order; -1 picks None
        lpage = np.repeat(np.arange(len(pno)), plines)[lv]
        lo = np.searchsorted(lpage, inst, side="left")
        hi = np.searchsorted(lpage, inst, side="right")
        hit = _first_containing(wb.T.copy(), lb[lv].T.copy(), lo, hi)
        ids = np.asarray(walk.line_ids + [None], dtype=object)
        line_id = ids[np.where(hit >= 0, lv[hit], -1)]

    wb = np.asarray(wb, dtype=np.int64)  # OverflowError for a kept huge coordinate
    return TokenArrays(
        text=text[kept],
        page=pno[inst],
        x1=wb[:, 0],
        y1=wb[:, 1],
        x2=wb[:, 2],
        y2=wb[:, 3],
        line_id=line_id,
        doc=pdoc[inst],
    )


def scan_tokens_from_dom(
    docs: Iterable[Tuple[object, Optional[Tuple[int, int, int, int]]]],
) -> TokenArrays:
    """Token scan of a batch: ``docs`` yields (root, table_bbox) per
    document; each tree is walked once and can be dropped before the next is
    made.  The bboxes, the crop and blank-text drop and the word->line
    containment then run once over the batch's arrays.  A kept token with a
    coordinate beyond int64 raises OverflowError."""
    walk = _Walk()
    for doc in docs:
        walk.add(*doc)
        del doc  # the tree goes before the next document is parsed
    return _tokens(walk)
