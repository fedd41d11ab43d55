"""PySpark-native main-content + table extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference extractor ``luuuisc/ocr-table-extractor-to-csv`` (a single-process
Python/numpy hOCR table reconstructor), redesigned for Common-Crawl-scale
corpora stored as Iceberg/parquet tables of pages
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``.

Layout:
  kernel/     pure per-document geometry engine (numpy; no Spark imports)
  operators/  DataFrame-level operators (mapInArrow extraction, dedup,
              similarity, text stats, evaluation)
  sources/    table catalog + deterministic synthetic page corpus
  functions/  column-level helper functions (pyspark.sql.functions based)
  plans/      partitioning / resume / lineage planning helpers
  streaming/  incremental (availableNow) ingest wiring

Design rule: all per-document geometry runs inside Arrow-batched
``mapInArrow`` kernels (one Python call per batch, numpy inside); the job
graph around them is plain declarative DataFrame code that Catalyst can
optimize (column pruning, filter pushdown, broadcast anti-joins).
"""

__version__ = "0.1.0"
