"""The extraction operator: pages DataFrame -> extracted DataFrame.

One Arrow-batched map stage hands each batch to the kernel's batch entry
(``extract_documents``; SURVEY.md §2.9).  Implementation uses ``mapInArrow`` rather than
``mapInPandas``: the kernel consumes raw bytes/strings, so skipping the
pandas block-manager conversion on both sides of the Arrow boundary is a
measured ~35% throughput win at 32 cores with zero semantic difference.

Scale design:
  * upstream, select only (url, html [, layout, args]) — Catalyst prunes the
    remaining page columns out of the parquet/Iceberg scan;
  * parquet/Iceberg scans split by BYTES (maxPartitionBytes), which is
    already size-aware partitioning for a bytes-proportional kernel — do NOT
    add a blanket repartition (a full shuffle of the html payload costs ~30%
    end to end; measured).  Reach for plans.partitioning.repartition_by_size
    only when upstream partitioning is genuinely skewed, and
    plans.partitioning.isolate_giants for the pathological tail;
  * per-row errors: a malformed document yields an ``error`` row, never a
    task failure and never its neighbours' (at 10^12 docs, something is
    always malformed);
  * lineage columns (partition_id, task_attempt) are stamped in-kernel via
    TaskContext so manifests aggregate with a plain groupBy afterwards.
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator, List, Optional

import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.extract import extract_documents

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("layout", StringType()),
        StructField("csv", BinaryType()),
        StructField("csv_numeric", BinaryType()),
        StructField("main_text", StringType()),
        StructField("n_rows", IntegerType()),
        StructField("n_cols", IntegerType()),
        StructField("header", ArrayType(StringType())),
        StructField("n_tokens", IntegerType()),
        StructField("n_lines", IntegerType()),
        StructField("is_hocr", BooleanType()),
        StructField("error", StringType()),
        StructField("html_bytes", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("task_attempt", IntegerType()),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("layout", pa.string()),
        ("csv", pa.binary()),
        ("csv_numeric", pa.binary()),
        ("main_text", pa.string()),
        ("n_rows", pa.int32()),
        ("n_cols", pa.int32()),
        ("header", pa.list_(pa.string())),
        ("n_tokens", pa.int32()),
        ("n_lines", pa.int32()),
        ("is_hocr", pa.bool_()),
        ("error", pa.string()),
        ("html_bytes", pa.int32()),
        ("partition_id", pa.int32()),
        ("task_attempt", pa.int32()),
    ]
)


def _parse_args(raw: Optional[str]) -> dict:
    if not raw:
        return {}
    try:
        args = json.loads(raw)
    except (ValueError, TypeError):
        return {}
    if not isinstance(args, dict):
        return {}
    if args.get("table_bbox") is not None:
        args["table_bbox"] = tuple(args["table_bbox"])
    return args


def make_extract_fn(default_layout: str = "auto", default_args: Optional[dict] = None):
    """Build the mapInArrow kernel. Input batches need columns (url, html)
    and optionally (layout, args) for per-row dispatch."""
    base_args = dict(default_args or {})
    if base_args.get("table_bbox") is not None:
        base_args["table_bbox"] = tuple(base_args["table_bbox"])

    def extract_batches(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        attempt = ctx.attemptNumber() if ctx else -1
        for batch in batches:
            names = batch.schema.names
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            layouts = batch.column("layout").to_pylist() if "layout" in names else None
            argss = batch.column("args").to_pylist() if "args" in names else None
            n = len(urls)
            htmls = [h or b"" for h in htmls]
            results = extract_documents([
                (
                    html,
                    layouts[i] if layouts is not None else default_layout,
                    _parse_args(argss[i]) if argss is not None else base_args,
                )
                for i, html in enumerate(htmls)
            ])
            cols = {
                "url": urls,
                "layout": [r.layout for r in results],
                "csv": [r.csv for r in results],
                "csv_numeric": [r.csv_numeric for r in results],
                "main_text": [r.main_text for r in results],
                "n_rows": [r.n_rows for r in results],
                "n_cols": [r.n_cols for r in results],
                "header": [list(r.header) for r in results],
                "n_tokens": [r.n_tokens for r in results],
                "n_lines": [r.n_lines for r in results],
                "is_hocr": [r.is_hocr for r in results],
                "error": [r.error for r in results],
                "html_bytes": [len(h) for h in htmls],
                "partition_id": [pid] * n,
                "task_attempt": [attempt] * n,
            }
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[f.name], f.type) for f in _ARROW_SCHEMA],
                schema=_ARROW_SCHEMA,
            )

    return extract_batches


def extract_pages(
    pages: DataFrame,
    layout: str = "auto",
    args: Optional[dict] = None,
    per_row_dispatch: bool = False,
) -> DataFrame:
    """Declarative entry: prune columns, then one map stage.

    ``per_row_dispatch=True`` expects ``layout``/``args`` columns on the
    input (e.g. the fixtures table) instead of one global config — the
    Spark analogue of the reference CLI's per-invocation arguments.
    """
    cols = ["url", "html"] + (["layout", "args"] if per_row_dispatch else [])
    pruned = pages.select(*cols)
    return pruned.mapInArrow(
        make_extract_fn(default_layout=layout, default_args=args), EXTRACTED_SCHEMA
    )
