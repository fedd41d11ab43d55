#!/usr/bin/env python
"""Single-core kernel A/B harness — the tool behind BENCH.md's
docs/s-per-core numbers.

Runs the pure-Python extraction kernel (no Spark) over the deterministic
fixture mix, in batches of ``BATCH`` documents through ``extract_documents``
as the Spark operator does, and prints a byte-identity digest plus the
best-of-3 rate.
Usage for an adjacent A/B:

    python tools/kernel_ab.py          # side B (current tree)
    git stash && python tools/kernel_ab.py && git stash pop   # side A

The digest covers every field the fixture goldens pin — csv, csv_numeric,
main_text, n_rows, n_cols — plus error; if it changes between A and B, the
optimization changed semantics and the rate delta is meaningless.  Interleave runs (B A B) when the host is noisy; this box's
throughput weather is ±40% over minutes (BENCH.md header).
"""

import hashlib
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ocr_table_extractor_to_csv_spark.kernel.extract import extract_documents
from ocr_table_extractor_to_csv_spark.sources.fixtures import generate_fixture

BATCH = 256  # the session's spark.sql.execution.arrow.maxRecordsPerBatch
FAMILIES = [
    "generic4", "generic_wrap", "generic_hdr_rx", "fin3", "dyn", "pro",
    "lineid", "bbox_crop", "multipage", "weird_numbers", "boiler",
]


def main(per_family: int = 24, trials: int = 3) -> None:
    docs = []
    for fam in FAMILIES:
        for i in range(per_family):
            fx = generate_fixture(fam, i, seed=42)
            html = fx["html"]
            a = fx.get("args") or "{}"
            docs.append((
                html.encode() if isinstance(html, str) else html,
                fx.get("layout", "auto"),
                json.loads(a) if isinstance(a, str) else a,
            ))

    def run():
        return [r for s in range(0, len(docs), BATCH) for r in extract_documents(docs[s : s + BATCH])]

    h = hashlib.sha256()
    for r in run():
        # length-prefixed fields, so bytes cannot shift between them
        for part in (
            r.csv or b"",
            b"-" if r.csv_numeric is None else b"+" + r.csv_numeric,
            r.main_text.encode(),
            f"{r.n_rows},{r.n_cols},{r.error!r}".encode(),
        ):
            h.update(len(part).to_bytes(8, "little"))
            h.update(part)
    print(f"digest: {h.hexdigest()[:16]}")

    best = 0.0
    for _ in range(trials):
        t0 = time.perf_counter()
        run()
        best = max(best, len(docs) / (time.perf_counter() - t0))
    print(f"{len(docs)} docs, best {best:.0f} docs/s single-core")


if __name__ == "__main__":
    main()
