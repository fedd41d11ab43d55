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

Both branches only decide each token's group (a dict of keys, or the
greedy scan emitting group start offsets); every line is then finalized
at once over the document's arrays: one stable ``lexsort`` orders members
by (group, x1), ``reduceat`` gives each union bbox, and one stable
``lexsort`` orders the lines.  Output is a list of ``Line`` views over the
columnar TokenArrays — each line holds the member token indices sorted by
x1 (a slice of one array), so every downstream pass can slice numpy arrays
instead of materializing token objects.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Tuple

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


def _finish(
    tok: TokenArrays, members: np.ndarray, starts: np.ndarray, line_ids=None
) -> List[Line]:
    """Finalize every line at once.  ``members`` holds the token indices
    group by group, x1-sorted (stable) inside each group; ``starts`` is each
    group's first offset.  Lines come out sorted by (page, y1, x1) of the
    union bbox, ties in group order."""
    first = members[starts]
    page = tok.page[first]
    x1 = tok.x1[first]  # members are x1-sorted: min(x1) is the first
    y1 = np.minimum.reduceat(tok.y1[members], starts)
    x2 = np.maximum.reduceat(tok.x2[members], starts)
    y2 = np.maximum.reduceat(tok.y2[members], starts)
    perm = np.lexsort((x1, y1, page)).tolist()
    pl, x1l, y1l, x2l, y2l = (a.tolist() for a in (page, x1, y1, x2, y2))
    bounds = starts.tolist() + [len(members)]
    return [
        Line(
            page=pl[g],
            x1=x1l[g],
            y1=y1l[g],
            x2=x2l[g],
            y2=y2l[g],
            idx=members[bounds[g] : bounds[g + 1]],
            line_id=None if line_ids is None else line_ids[g],
        )
        for g in perm
    ]


def build_lines(tok: TokenArrays) -> List[Line]:
    n = len(tok)
    if n == 0:
        return []

    lids = tok.line_id.tolist()
    if lids.count(None) < n:
        # group ids in first-occurrence order of (page, line_id)
        keys: Dict[Tuple[int, str], int] = {}
        gid = np.asarray(
            [
                keys.setdefault((p, lid or f"inferred_{p}_{int((a + b) / 2.0)}"), len(keys))
                for p, lid, a, b in zip(tok.page.tolist(), lids, tok.y1.tolist(), tok.y2.tolist())
            ],
            dtype=np.int64,
        )
        members = np.lexsort((tok.x1, gid))
        counts = np.bincount(gid)
        return _finish(tok, members, np.cumsum(counts) - counts, [lid for _p, lid in keys])

    # overlap-inference branch; sort by (page, yc, x1), stable
    yc = (tok.y1 + tok.y2) / 2.0
    order = np.lexsort((tok.x1, yc, tok.page))
    page, lo, hi = tok.page[order], tok.y1[order], tok.y2[order]
    # a token with its predecessor's exact (page, y1, y2) and height >= 1
    # always joins the band (overlap ratio 1) and leaves it unchanged, so
    # the scan below only visits the other tokens
    same = (page[1:] == page[:-1]) & (lo[1:] == lo[:-1]) & (hi[1:] == hi[:-1])
    visit = np.flatnonzero(~same | (hi[1:] - lo[1:] < 1)) + 1

    # sequential greedy band scan: only the group start offsets come out
    starts = [0]
    cur_page, band_lo, band_hi = int(page[0]), int(lo[0]), int(hi[0])
    for k, p, t_lo, t_hi in zip(
        visit.tolist(), page[visit].tolist(), lo[visit].tolist(), hi[visit].tolist()
    ):
        if p != cur_page:
            cur_page = p
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

    gid = np.zeros(n, dtype=np.int64)
    gid[starts[1:]] = 1
    members = order[np.lexsort((tok.x1[order], np.cumsum(gid)))]
    return _finish(tok, members, np.asarray(starts, dtype=np.int64))
