"""Output checks: order-independent digests folded in Spark, the in-process
kernel reference, the fixture goldens and the DuckDB oracle twins."""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import time
from dataclasses import dataclass
from typing import Dict, Iterable, Iterator, List, Optional, Sequence, Set, Tuple

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_DIR = os.path.join(HERE, "oracles")


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def py_row_hash(parts: Sequence[str]) -> int:
    """Python twin of :func:`row_hash`: 60 bits of sha256 over the parts."""
    return int(_sha("|".join(parts).encode())[:15], 16)


def row_hash(parts):
    from pyspark.sql import functions as F

    key = F.sha2(F.concat_ws("|", *parts), 256)
    return F.conv(F.substring(key, 1, 15), 16, 10).cast("decimal(38,0)")


# ---------------------------------------------------------------------------
# extraction: per-url sha256 of csv, csv_numeric and main_text
# ---------------------------------------------------------------------------


def extraction_parts():
    from pyspark.sql import functions as F

    return [
        F.col("url"),
        F.sha2(F.col("csv"), 256),
        F.coalesce(F.sha2(F.col("csv_numeric"), 256), F.lit("-")),
        F.sha2(F.coalesce(F.col("main_text"), F.lit("")), 256),
        F.when(F.col("error").isNull(), F.lit("ok")).otherwise(F.lit("error")),
    ]


def extraction_digest(extracted, *extra):
    """One-row aggregate over an extracted frame; forcing it runs the whole
    extraction without bringing the corpus to the driver."""
    from pyspark.sql import functions as F

    return extracted.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(row_hash(extraction_parts())).alias("digest"),
        F.sum(F.when(F.col("n_rows") > 0, 1).otherwise(0)).alias("tables"),
        F.sum("html_bytes").alias("html_bytes"),
        F.sort_array(F.collect_list(F.when(F.col("error").isNotNull(), F.col("url")))).alias(
            "error_urls"
        ),
        *extra,
    )


@dataclass
class PageRef:
    csv_sha: str
    num_sha: str
    text_sha: str
    error: bool
    has_table: bool
    n_tokens: int
    n_lines: int

    def hash_for(self, url: str) -> int:
        return py_row_hash(
            [url, self.csv_sha, self.num_sha, self.text_sha, "error" if self.error else "ok"]
        )


def _parse_args(raw: Optional[str]) -> dict:
    args = json.loads(raw) if raw else {}
    if args.get("table_bbox") is not None:
        args["table_bbox"] = tuple(args["table_bbox"])
    return args


def reference_page(html: bytes, layout: Optional[str], args: Optional[str]) -> PageRef:
    from ocr_table_extractor_to_csv_spark.kernel import extract_document

    try:
        res = extract_document(html or b"", layout=layout or "auto", **_parse_args(args))
        error = res.error is not None
    except Exception:  # the operator turns any kernel exception into an error row
        return PageRef(_sha(b""), "-", _sha(b""), True, False, 0, 0)
    return PageRef(
        _sha(res.csv),
        _sha(res.csv_numeric) if res.csv_numeric is not None else "-",
        _sha(res.main_text.encode()),
        error,
        res.n_rows > 0,
        res.n_tokens,
        res.n_lines,
    )


def page_rows(paths) -> Iterator[Tuple[str, bytes, Optional[str], Optional[str]]]:
    """(url, html, layout, args) of every landed page; pages without
    dispatch columns get the defaults."""
    table = pq.read_table(paths)
    n = table.num_rows
    cols = [
        table.column(c).to_pylist() if c in table.column_names else [None] * n
        for c in ("url", "html", "layout", "args")
    ]
    return zip(*cols)


def is_primary(url: str) -> bool:
    """False for the replicas extract_hocr lands under ``<url>#r<k>``."""
    return "#r" not in url


def _reference_file(task: Tuple[str, Set[str]]):
    """Pool worker: the reference for every primary url of one parquet file
    that is not in ``skip``, its kernel time, and every url's html length."""
    path, skip = task
    out: Dict[str, PageRef] = {}
    lengths: Dict[str, int] = {}
    busy = 0.0
    for url, html, layout, args in page_rows(path):
        lengths[url] = len(html or b"")
        if url in skip or not is_primary(url):
            continue
        t0 = time.perf_counter()
        out[url] = reference_page(html, layout, args)
        busy += time.perf_counter() - t0
    return out, busy, lengths


@dataclass
class Reference:
    pages: Dict[str, PageRef]
    busy_s: float  # summed single-core kernel time across the pool
    lengths: Dict[str, int]  # html bytes of every landed url

    @property
    def docs_per_s(self) -> float:
        return len(self.pages) / self.busy_s


def reference_pass(files: List[str], skip: Set[str], processes: int) -> Reference:
    """Run the kernel in-process (a spawn pool, one core per worker) over the
    primary pages of ``files``; each worker times only its kernel calls, so
    ``docs / busy_s`` is the single-core kernel rate."""
    ctx = multiprocessing.get_context("spawn")
    ref = Reference({}, 0.0, {})
    with ctx.Pool(processes) as pool:
        for pages, busy, lengths in pool.imap_unordered(
            _reference_file, [(f, skip) for f in files]
        ):
            ref.pages.update(pages)
            ref.busy_s += busy
            ref.lengths.update(lengths)
        pool.close()
        pool.join()
    return ref


def expected_extraction(ref: Reference, urls: Iterable[Tuple[str, str]]) -> Tuple[int, int, int]:
    """(count, digest, tables) expected for ``urls``: pairs of (output url,
    the primary url whose bytes it carries)."""
    n = digest = tables = 0
    for url, primary in urls:
        page = ref.pages[primary]
        n += 1
        digest += page.hash_for(url)
        tables += page.has_table
    return n, digest, tables


def golden_mismatches(root: str, ref: Reference, urls: Set[str]) -> Tuple[int, List[str]]:
    """Compare reference results with tests/goldens for the fixture ``urls``
    whose goldens were frozen under the layout and args the workload uses."""
    with open(os.path.join(root, "tests", "goldens", "fixture_manifest.json")) as fh:
        goldens = json.load(fh)
    checked, bad = 0, []
    for url, page in ref.pages.items():
        gold = goldens.get(url)
        if gold is None or url not in urls:
            continue
        checked += 1
        want = (gold["csv_sha"], gold["csv_numeric_sha"] or "-", gold["main_text_sha"])
        if want != (page.csv_sha, page.num_sha, page.text_sha):
            bad.append(url)
    return checked, bad


def extraction_diff(extracted, expected: Dict[str, int]) -> List[str]:
    """Urls whose Spark output is missing, extra or differs from the
    reference; run only when a digest disagrees."""
    rows = extracted.select("url", row_hash(extraction_parts()).alias("h")).collect()
    got = {r.url: int(r.h) for r in rows}
    return sorted(u for u in set(got) | set(expected) if got.get(u) != expected.get(u))


# ---------------------------------------------------------------------------
# curation / dedup: Spark output vs the DuckDB oracle, both digested in Spark
# ---------------------------------------------------------------------------


def frame_parts(df):
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    parts = []
    for name in sorted(df.columns):
        col = F.col(name)
        if isinstance(df.schema[name].dataType, (DoubleType, FloatType)):
            col = F.format_string("%.6f", F.round(col, 6))
        parts.append(F.coalesce(col.cast("string"), F.lit("NULL")))
    return parts


def frame_digest(df):
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(row_hash(frame_parts(df))).alias("digest"))


def oracle_frame(spark, name: str, documents_path: str, schema, work: str, threads: int):
    """Run the DuckDB twin over the landed documents and cast the result to
    the Spark output's schema, so both sides go through one digest."""
    import duckdb
    from pyspark.sql import functions as F

    with open(os.path.join(ORACLE_DIR, f"{name}.sql")) as fh:
        sql = fh.read()
    con = duckdb.connect(
        config={"threads": threads, "memory_limit": "1GB", "temp_directory": work}
    )
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}/*.parquet')"
        )
        table = con.sql(sql).arrow()
    finally:
        con.close()
    df = spark.createDataFrame(table.to_pandas())
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])


def frame_diff(got, want, key: str) -> List[object]:
    """Keys whose rows differ between two frames (missing on either side
    included); run only when a digest disagrees."""

    def keyed(df):
        return {
            r[key]: r.h
            for r in df.select(key, row_hash(frame_parts(df)).alias("h")).collect()
        }

    a, b = keyed(got), keyed(want)
    return sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
