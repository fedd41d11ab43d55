"""A batch is exactly its documents run alone.

``extract_documents`` runs the array passes once over all documents of a
batch; ``extract_document`` is the batch of one.  A seeded fuzz builds mixed
batches — every layout, HTML pages, fixture families, synthetic hOCR with
empty pages, bbox-less and keyed lines, tesseract title suffixes, x2 < x1
words, coordinates past 2^53 and wide enough to overflow a shared offset,
crops, a kept 19-digit coordinate, malformed XML and bad arguments — and
checks every field of every result against the document alone.
"""

import dataclasses
import json
import random

import pyarrow as pa
import pytest

from ocr_table_extractor_to_csv_spark.kernel import extract as extract_mod
from ocr_table_extractor_to_csv_spark.kernel.extract import (
    ExtractResult,
    extract_document,
    extract_documents,
)
from ocr_table_extractor_to_csv_spark.operators.extract import make_extract_fn
from ocr_table_extractor_to_csv_spark.sources.fixtures import FAMILY_SPECS, generate_fixture

LAYOUTS = ["auto", "dynamic", "dynamic", "financial", "generic", "professional",
           "transformers", "html", None]
FAMILIES = [f for f, _ in FAMILY_SPECS if f != "giant"]
WORDS = ["Total", "Caja", "Activo", "Cuenta", "2023", "2024", "1,234", "(57,519)",
         "$", "-", "12.5", "101,606", "1234", "nota", "19٤٥", "a b", " ", ""]


def _title(rng, box):
    a, b, c, d = box
    form = rng.choice(["plain", "plain", "plain", "wconf", "baseline", "double", "arabic"])
    if form == "wconf":
        return f"bbox {a} {b} {c} {d}; x_wconf {rng.randint(0, 99)}"
    if form == "baseline":
        return f"bbox {a} {b} {c} {d}; baseline 0 -7; x_size 30"
    if form == "double":
        return f"bbox {a}  {b} {c} {d}"
    if form == "arabic" and d < 10:
        return f"bbox {a} {b} {c} {chr(0x660 + d)}"
    return f"bbox {a} {b} {c} {d}"


def _synthetic(rng):
    """hOCR with 1-3 pages of randomly spaced lines and words."""
    base = rng.choice([0] * 6 + [2**53 + 1, 10**17, 9 * 10**18])  # past 2^53 / 18 digits
    wide = rng.random() < 0.1  # one word far right: line widths overflow an offset
    huge = rng.random() < 0.05  # a kept coordinate past int64
    with_lines = rng.random() < 0.5  # else every doc line is inferred from overlap
    out = ['<?xml version="1.0"?><html><body>']
    for _ in range(rng.choice([1, 1, 2, 3])):
        out.append('<div class="ocr_page" title="bbox 0 0 2000 2000">')
        y = rng.randint(0, 40)
        for li in range(rng.choice([0, 1, 1, 2, 3, 5, 10])):
            h = rng.choice([0, 1, 10, 20, 20, 24, 30])
            x = rng.randint(0, 60)
            words = []
            for _ in range(rng.randint(0, 9)):
                w = rng.randint(3, 90)
                x1, x2 = x, x + w
                if rng.random() < 0.04:
                    x2 = max(0, x1 - rng.randint(1, 20))  # x2 < x1
                jitter = rng.choice([0, 0, 0, 2, -2, 6])
                box = [base + x1, base + y + jitter, base + x2, base + y + jitter + h]
                if wide and rng.random() < 0.1:
                    box[2] = 9 * 10**18
                if huge and rng.random() < 0.2:
                    box[3] = int("9" * 19)
                words.append(
                    f'<span class="ocrx_word" title="{_title(rng, box)}">{rng.choice(WORDS)}</span>'
                )
                x = x2 + rng.choice([4, 8, 10, 14, 20, 40, 120, 300])
            line_box = (base, base + y - 2, base + x + 10, base + y + h + 4)
            title = rng.choice([_title(rng, line_box), _title(rng, line_box), "x_size 3", ""])
            lid = rng.choice(["", "", "", f' id="L{li}"'])
            if with_lines and rng.random() < 0.7:
                out.append(f'<span class="ocr_line"{lid} title="{title}">{"".join(words)}</span>')
            else:
                out.append("".join(words))
            y += rng.choice([h, h // 2, h + 6, 30, 0])
        out.append("</div>")
    out.append("</body></html>")
    html = "".join(out)
    if rng.random() < 0.05:
        html = html[: rng.randint(len(html) // 2, len(html))]  # malformed XML
    return html.encode()


def _random_doc(rng):
    kind = rng.random()
    if kind < 0.4:
        fx = generate_fixture(rng.choice(FAMILIES), rng.randint(0, 9), seed=rng.randint(0, 3))
        html, layout, args = fx["html"], fx["layout"], json.loads(fx["args"])
        if rng.random() < 0.3:
            layout = rng.choice(LAYOUTS)
    else:
        html, layout, args = _synthetic(rng), rng.choice(LAYOUTS), {}
    if args.get("table_bbox") is not None:
        args["table_bbox"] = tuple(args["table_bbox"])
    r = rng.random()
    if r < 0.08:
        args["table_bbox"] = (rng.randint(0, 200), rng.randint(0, 200), 1500, rng.randint(300, 2000))
    elif r < 0.1:
        args["table_bbox"] = (0, 0, 10)  # malformed: raises inside the shared scan
    elif r < 0.12:
        args["expected_n_cols"] = rng.randint(1, 6)
    return html, layout, args


def _alone(html, layout, args):
    try:
        return extract_document(html, layout=layout, **args)
    except Exception as exc:
        return ExtractResult(layout=str(layout), error=f"{type(exc).__name__}: {exc}")


def _mixed_batches(seed, n_batches):
    rng = random.Random(seed)
    for _ in range(n_batches):
        yield [_random_doc(rng) for _ in range(rng.randint(1, 12))]


@pytest.mark.parametrize("seed", range(6))
def test_batch_equals_each_document_alone(seed, monkeypatch):
    # count the batch passes: a batch re-runs one document at a time only
    # when a shared pass raised, which a batch of documents that all succeed
    # alone must never do (else a broken batch path would hide behind the
    # per-document re-run)
    calls = []
    batch_pass = extract_mod._extract_batch
    monkeypatch.setattr(
        extract_mod, "_extract_batch", lambda reqs: calls.append(len(reqs)) or batch_pass(reqs)
    )
    errors = batched = 0
    for docs in _mixed_batches(seed, 40):
        calls.clear()
        got = extract_documents(docs)
        passes = list(calls)
        assert len(got) == len(docs)
        wants = [_alone(*doc) for doc in docs]
        for doc, res, want in zip(docs, got, wants):
            assert dataclasses.asdict(res) == dataclasses.asdict(want), doc[1:]
            errors += res.error is not None
        if all(w.error is None for w in wants):
            assert passes == [len(docs)], "a batch of good documents was re-run"
            batched += len(docs) > 1
    assert errors  # the mix does hold failing documents
    assert batched  # and batches of several good documents


def _page(*words, line=None):
    """One page; ``words`` are (text, x1, y1, x2, y2)."""
    body = "".join(
        f'<span class="ocrx_word" title="bbox {a} {b} {c} {d}">{t}</span>' for t, a, b, c, d in words
    )
    if line:
        body = f'<span class="ocr_line" title="bbox {line}">{body}</span>'
    return (
        '<?xml version="1.0"?><html><body><div class="ocr_page" title="bbox 0 0 900 900">'
        f"{body}</div></body></html>"
    ).encode()


def test_document_boundaries_split_bands_and_gaps():
    # same page number and overlapping y: only the document change keeps
    # the two bands apart
    a = _page(("Caja", 10, 10, 60, 30), ("1,234", 300, 10, 360, 30))
    b = _page(("Bancos", 10, 12, 80, 32), ("2,345", 300, 12, 360, 32))
    # a's last token ends left of b's first line, whose gaps are 15, 15, 40:
    # its P95 is 37 (a break before "4"); the 390 px gap from a's token
    # would lift it to 337 (no break)
    c = _page(("Total", 0, 10, 10, 30))
    d = _page(*[(t, x, 10, x + 10, 30) for t, x in (("1", 400), ("2", 425), ("3", 450), ("4", 500))])
    for docs in ([a, b], [c, d], [a, b, c, d, a]):
        got = extract_documents([(h, "dynamic", {}) for h in docs])
        assert got == [extract_document(h, layout="dynamic") for h in docs]
    assert extract_document(d, layout="dynamic").csv.endswith(b",1 2 3\r\n")  # the break


def test_error_rows_stay_on_their_own_row():
    good = generate_fixture("dyn", 0)
    big = "9" * 19
    overflow = (
        '<?xml version="1.0"?><html><body><div class="ocr_page" title="bbox 0 0 9 9">'
        f'<span class="ocrx_word" title="bbox 1 2 3 {big}">x</span></div></body></html>'
    ).encode()
    docs = [
        (good["html"], "dynamic", {}),
        (overflow, "dynamic", {}),  # kept coordinate past int64
        (good["html"], "dynamic", {"table_bbox": (0, 0, 10)}),  # bad crop
        (good["html"], "nope", {}),
        (good["html"], "dynamic", {"no_such_arg": 1}),
        (good["html"], "dynamic", {}),
    ]
    got = extract_documents(docs)
    assert [r.error.split(":")[0] if r.error else None for r in got] == [
        None, "OverflowError", "ValueError", "ValueError", "TypeError", None
    ]
    assert got[0] == got[5] == extract_document(good["html"], layout="dynamic")
    assert got[3].error == "ValueError: unknown layout: 'nope'"
    assert got[0].n_rows > 0


def test_operator_rows_equal_one_row_batches():
    rng = random.Random(7)
    docs = [_random_doc(rng) for _ in range(30)]
    docs.insert(5, (docs[0][0], "no-such-layout", {}))
    fn = make_extract_fn()

    def batch(rows):
        return pa.RecordBatch.from_pydict(
            {
                "url": [f"u{i}" for i, _ in rows],
                "html": [d[0] for _, d in rows],
                "layout": [d[1] for _, d in rows],
                "args": [json.dumps(d[2]) for _, d in rows],
            }
        )

    rows = list(enumerate(docs))
    (out,) = list(fn([batch(rows)]))
    got = out.to_pylist()
    for (i, doc), row in zip(rows, got):
        (one,) = list(fn([batch([(i, doc)])]))
        assert row == one.to_pylist()[0]
        want = _alone(doc[0], doc[1], json.loads(json.dumps(doc[2])) | (
            {"table_bbox": tuple(doc[2]["table_bbox"])} if doc[2].get("table_bbox") else {}
        ))
        assert (row["csv"], row["main_text"], row["error"], row["layout"]) == (
            want.csv, want.main_text, want.error, want.layout
        )
    assert got[5]["error"] == "ValueError: unknown layout: 'no-such-layout'"
