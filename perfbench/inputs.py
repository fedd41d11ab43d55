"""Seeded inputs for the three workloads, generated in this process and
landed as parquet.

Everything here is a function of ``--seed``: the documents table, the
sampled documents, the fixture corpus and the share of pages already done.
The engine only ever sees the landed parquet.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import List

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_table_extractor_to_csv_spark.sources import fixtures
from ocr_table_extractor_to_csv_spark.sources import pages as page_sources

# The documents table mirrors the shape of the sf0.1 ``documents`` test table
# (5,000 rows; 10-100 tokens drawn from a 30-word vocabulary; five languages;
# 20 sources; 5% near-duplicates that repeat another document plus " dup"),
# generated from the seed because the benchmark may read nothing outside its
# checkout.
N_DOCS = 5000
# curate_dedup runs on a 1,000-row table of the same shape: an iteration
# costs ~5 s of per-job work plus ~2.5 s per 1,000 documents, and a run has
# to fit the benchmark's time budget (see README.md)
CURATE_DOCS = 1000
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_SHARE = 0.05

# extract_hocr: sampled documents through the four sources.pages hOCR
# generators, plus the hOCR fixture families, replicated with unique urls so
# the Spark pass is twice the distinct pages the reference pass re-derives.
HOCR_SAMPLE_DOCS = 600
HOCR_REPLICAS = 2
HOCR_FAMILIES = [
    f for f, _ in fixtures.FAMILY_SPECS if f not in ("boiler", "giant")
]

# extract_job_resume
GIANT_TOKENS = 30000  # ~2.1 MB pages, the generator's full-size giant
GIANT_THRESHOLD = 1 << 20  # routes exactly the giant family to the giant pass
N_BAD_ROWS = 16
BAD_LAYOUT = "no-such-layout"
DONE_PERCENT = 25
SEED_BATCH = 0
RUN_BATCH = 1


def documents_table(seed: int, n: int = N_DOCS) -> pa.Table:
    rng = random.Random(f"documents:{seed}")
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n)
    ]
    for d in rng.sample(range(n), int(n * DUP_SHARE)):
        texts[d] = texts[rng.randrange(n)] + " dup"
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=n)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def land_table(table: pa.Table, path: str, parts: int) -> None:
    """Write ``table`` as ``parts`` parquet files, so a scan has one split per
    core the way a multi-file corpus does."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="zstd",
        )


def fixture_rows(seed: int, families, giant_tokens: int = 2000) -> List[dict]:
    return list(
        fixtures.generate_corpus(seed=seed, families=families, giant_tokens=giant_tokens)
    )


# The sources.pages generator kinds over one document's tokens: url prefix,
# page builder, and which token lists the generator accepts.
HOCR_KINDS = (
    ("doc", page_sources.grid_hocr, lambda ts: len(ts) >= 4),
    ("fin", page_sources.fin_hocr, lambda ts: len(ts) // 3 >= 1),
    ("dyn", page_sources.dyn_hocr, lambda ts: len(ts) // 3 >= 6),
    ("pro", page_sources.pro_hocr, lambda ts: len(ts) // 3 >= 2),
)
BOILER_MIN_TOKENS = 2 * page_sources.BOILER_TABLE_ROWS

PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("html", pa.binary()), ("layout", pa.string()), ("args", pa.string())]
)
PROGRESS_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("batch_id", pa.int32()),
        ("status", pa.string()),
        ("n_rows", pa.int32()),
        ("error", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class Landed:
    pages: str = ""
    documents: str = ""
    progress_seed: str = ""


def _land_pages(rows: List[tuple], path: str, seed: int, parts: int) -> None:
    """Shuffle ``rows`` (url, html, layout, args) and land them as ``parts``
    files of equal row counts.  The scan of a table this small plans one
    split per file, so each core gets an even mix of cheap and costly pages."""
    random.Random(f"land:{seed}").shuffle(rows)
    table = pa.Table.from_pylist([dict(zip(PAGES_SCHEMA.names, r)) for r in rows], PAGES_SCHEMA)
    land_table(table, path, parts)


def land_hocr_pages(seed: int, root: str, parts: int) -> Landed:
    docs = documents_table(seed)
    texts = docs.column("text").to_pylist()
    sample = sorted(random.Random(f"sample:{seed}").sample(range(N_DOCS), HOCR_SAMPLE_DOCS))
    distinct = []
    for doc_id in sample:
        tokens = page_sources.grid_tokens(texts[doc_id])
        for prefix, build, eligible in HOCR_KINDS:
            if eligible(tokens):
                distinct.append((f"{prefix}://{doc_id}", build(tokens)))
    distinct += [(r["url"], r["html"]) for r in fixture_rows(seed, HOCR_FAMILIES)]
    rows = [
        (url if k == 0 else f"{url}#r{k}", html, None, None)
        for url, html in distinct
        for k in range(HOCR_REPLICAS)
    ]
    pages = os.path.join(root, "pages")
    _land_pages(rows, pages, seed, parts)
    return Landed(pages=pages)


def land_job_pages(seed: int, root: str, parts: int) -> Landed:
    docs = documents_table(seed)
    rows = []
    for doc_id, text in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        tokens = page_sources.grid_tokens(text)
        if len(tokens) >= BOILER_MIN_TOKENS:
            rows.append((f"boiler://{doc_id}", page_sources.boiler_html(tokens), "html", None))
    fixture = fixture_rows(seed, ["boiler"] + HOCR_FAMILIES) + fixture_rows(
        seed, ["giant"], giant_tokens=GIANT_TOKENS
    )
    rows += [(r["url"], r["html"], r["layout"], r["args"]) for r in fixture]
    bad_html = fixtures.generate_fixture("boiler", 0, seed=seed)["html"]
    rows += [(f"bad://{i:03d}", bad_html, BAD_LAYOUT, None) for i in range(N_BAD_ROWS)]

    # the seeded progress table: a fixed share of the ordinary pages is
    # already done; giants and injected rows always stay pending
    rng = random.Random(f"done:{seed}")
    done = [
        r[0]
        for r in rows
        if len(r[1]) < GIANT_THRESHOLD and r[2] != BAD_LAYOUT and rng.random() * 100 < DONE_PERCENT
    ]
    pages = os.path.join(root, "pages")
    _land_pages(rows, pages, seed, parts)
    ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    progress = pa.table(
        {
            "url": done,
            "batch_id": pa.array([SEED_BATCH] * len(done), pa.int32()),
            "status": ["done"] * len(done),
            "n_rows": pa.array([0] * len(done), pa.int32()),
            "error": pa.array([None] * len(done), pa.string()),
            "ts": pa.array([ts] * len(done), pa.timestamp("us", tz="UTC")),
        },
        schema=PROGRESS_SCHEMA,
    )
    progress_seed = os.path.join(root, "progress_seed")
    land_table(progress, progress_seed, 1)
    return Landed(pages=pages, progress_seed=progress_seed)


def land_documents(seed: int, root: str, parts: int) -> Landed:
    documents = os.path.join(root, "documents")
    land_table(documents_table(seed, CURATE_DOCS), documents, parts)
    return Landed(documents=documents)


def parquet_files(path: str) -> List[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    )


def dir_mb(path: str) -> float:
    """On-disk size of the parquet files under ``path``, the bytes a scan reads."""
    return sum(os.path.getsize(f) for f in parquet_files(path)) / 1e6
