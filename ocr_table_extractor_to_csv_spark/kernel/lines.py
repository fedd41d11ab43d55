"""Token -> line grouping (reference lines.py:6-63, structures.py:17-20).

Two branches, exactly as the reference:

* **line_id branch** (lines.py:14-26): active when *any* token carries a
  line_id.  Group key is ``(page, line_id or f"inferred_{page}_{int(yc)}")``
  in first-occurrence order; members sorted by x1 (stable); lines sorted by
  ``(page, y1, x1)`` of the union bbox.

* **overlap branch** (lines.py:28-63): tokens sorted by ``(page, yc, x1)``;
  greedy scan joins a token to the current band when
  ``overlap(band, token) / max(1, min(heights)) >= 0.5`` where the band
  expands to the union of member y-extents; a page change always flushes.

The branch is chosen per document; a batch holds documents of both.  Both
branches only decide each token's group (a dict of keys, or the greedy scan
emitting group start offsets; the scan flushes on a document change as on a
page change); every line of the batch is then finalized at once: one stable
``lexsort`` orders members by (group, x1), ``reduceat`` gives each union
bbox, and one stable ``lexsort`` orders the lines by (document, page, y1,
x1).  Output is a columnar :class:`Lines` table over the TokenArrays — the
member token indices line by line, x1-sorted inside each line — so every
downstream pass slices numpy arrays instead of materializing token objects;
iterating it yields one ``Line`` view per line.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Tuple

import numpy as np

from .hocr import TokenArrays


@dataclass
class Line:
    page: int
    x1: int
    y1: int
    x2: int
    y2: int
    idx: np.ndarray  # member token indices, sorted by x1 (stable)
    line_id: object = None


@dataclass
class Lines:
    """Columnar line table of a token batch, lines sorted by (doc, page, y1,
    x1): line ``i`` holds tokens ``members[start[i]:start[i + 1]]``."""

    doc: np.ndarray
    page: np.ndarray
    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    line_id: np.ndarray  # object
    members: np.ndarray
    start: np.ndarray  # len(self) + 1 offsets into members

    def __len__(self) -> int:
        return len(self.doc)

    @property
    def counts(self) -> np.ndarray:
        return np.diff(self.start)

    def views(self, lo: int = 0, hi: Optional[int] = None) -> List[Line]:
        """Lines ``lo:hi`` as ``Line`` objects."""
        hi = len(self) if hi is None else hi
        b = self.start[lo : hi + 1].tolist()
        cols = (a[lo:hi].tolist() for a in (self.page, self.x1, self.y1, self.x2, self.y2))
        return [
            Line(p, a, c, d, e, self.members[b[k] : b[k + 1]], lid)
            for k, (p, a, c, d, e, lid) in enumerate(zip(*cols, self.line_id[lo:hi].tolist()))
        ]

    def __iter__(self) -> Iterator[Line]:
        return iter(self.views())

    def __getitem__(self, i: int) -> Line:
        return self.views(i, i + 1)[0]


def _finish(tok: TokenArrays, seq: np.ndarray, gid: np.ndarray, line_ids: np.ndarray) -> Lines:
    """Finalize every line at once.  ``seq`` lists token indices, ``gid``
    each listed token's group; members end up grouped, x1-sorted inside a
    group, ties in ``seq`` order.  Lines come out sorted by (doc, page, y1,
    x1) of the union bbox, ties in group order."""
    order = np.lexsort((tok.x1[seq], gid))
    members = seq[order]
    counts = np.bincount(gid)
    starts = np.cumsum(counts) - counts
    first = members[starts]
    doc = tok.doc[first]
    page = tok.page[first]
    x1 = tok.x1[first]  # members are x1-sorted: min(x1) is the first
    y1 = np.minimum.reduceat(tok.y1[members], starts)
    x2 = np.maximum.reduceat(tok.x2[members], starts)
    y2 = np.maximum.reduceat(tok.y2[members], starts)
    perm = np.lexsort((x1, y1, page, doc))
    counts = counts[perm]
    start = np.zeros(len(perm) + 1, dtype=np.int64)
    np.cumsum(counts, out=start[1:])
    members = members[np.repeat(starts[perm] - start[:-1], counts) + np.arange(len(members))]
    return Lines(doc[perm], page[perm], x1[perm], y1[perm], x2[perm], y2[perm],
                 line_ids[perm], members, start)


def build_lines(tok: TokenArrays) -> Lines:
    n = len(tok)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return Lines(e, e, e, e, e, e, np.empty(0, dtype=object), e, np.zeros(1, np.int64))

    # the line_id branch serves every document where any token has a line_id
    has_id = tok.line_id != None  # noqa: E711 (elementwise)
    keyed = np.bincount(tok.doc[has_id], minlength=int(tok.doc[-1]) + 1)[tok.doc] > 0
    seqs, gids, ids = [], [], []
    if has_id.any():
        # group ids in first-occurrence order of (doc, page, line_id)
        kidx = np.flatnonzero(keyed)
        keys: Dict[Tuple[int, int, str], int] = {}
        gids.append(np.asarray(
            [
                keys.setdefault(
                    (d, p, lid or f"inferred_{p}_{int((a + b) / 2.0)}"), len(keys)
                )
                for d, p, lid, a, b in zip(
                    *(c[kidx].tolist() for c in (tok.doc, tok.page, tok.line_id, tok.y1, tok.y2))
                )
            ],
            dtype=np.int64,
        ))
        seqs.append(kidx)
        ids.append([lid for _d, _p, lid in keys])

    if not keyed.all():
        # overlap-inference branch; sort by (doc, page, yc, x1), stable
        bidx = np.flatnonzero(~keyed)
        y1, y2 = tok.y1[bidx], tok.y2[bidx]
        yc = (y1 + y2) / 2.0
        order = bidx[np.lexsort((tok.x1[bidx], yc, tok.page[bidx], tok.doc[bidx]))]
        doc, page, lo, hi = tok.doc[order], tok.page[order], tok.y1[order], tok.y2[order]
        # a new (doc, page) always flushes the band
        seg = np.cumsum(np.concatenate(([False], (doc[1:] != doc[:-1]) | (page[1:] != page[:-1]))))
        # a token with its predecessor's exact (doc, page, y1, y2) and height
        # >= 1 always joins the band (overlap ratio 1) and leaves it
        # unchanged, so the scan below only visits the other tokens
        same = (seg[1:] == seg[:-1]) & (lo[1:] == lo[:-1]) & (hi[1:] == hi[:-1])
        visit = np.flatnonzero(~same | (hi[1:] - lo[1:] < 1)) + 1

        # sequential greedy band scan: only the group start offsets come out
        starts = [0]
        cur, band_lo, band_hi = 0, int(lo[0]), int(hi[0])
        for k, g, t_lo, t_hi in zip(
            visit.tolist(), seg[visit].tolist(), lo[visit].tolist(), hi[visit].tolist()
        ):
            if g != cur:
                cur = g
            else:
                # inline conditionals: 2 builtin min/max calls per token
                # measurably show up at 40k tokens/doc
                inter = (band_hi if band_hi < t_hi else t_hi) - (
                    band_lo if band_lo > t_lo else t_lo
                )
                bh = band_hi - band_lo
                th = t_hi - t_lo
                denom = bh if bh < th else th
                if denom < 1:
                    denom = 1
                if inter > 0 and inter / denom >= 0.5:
                    if t_lo < band_lo:
                        band_lo = t_lo
                    if t_hi > band_hi:
                        band_hi = t_hi
                    continue
            starts.append(k)
            band_lo, band_hi = t_lo, t_hi

        flag = np.zeros(len(order), dtype=np.int64)
        flag[starts] = 1
        base = len(ids[0]) if ids else 0
        gids.append(np.cumsum(flag) - 1 + base)
        seqs.append(order)
        ids.append([None] * len(starts))

    line_ids = np.empty(sum(len(i) for i in ids), dtype=object)
    line_ids[:] = [lid for part in ids for lid in part]
    return _finish(tok, np.concatenate(seqs), np.concatenate(gids), line_ids)
