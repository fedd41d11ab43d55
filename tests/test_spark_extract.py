"""Spark-layer tests: the distributed pipeline must equal the single-process
kernel byte-for-byte (distribution independence), resume must be exact, and
lineage manifests must account for every input row."""

import hashlib
import json
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.operators.extract import extract_pages
from ocr_table_extractor_to_csv_spark.plans.lineage import build_manifests
from ocr_table_extractor_to_csv_spark.plans.partitioning import repartition_by_size
from ocr_table_extractor_to_csv_spark.plans.resume import (
    commit_batch,
    pending_pages,
    read_progress,
)
from ocr_table_extractor_to_csv_spark.sources.pages import fixture_pages

GOLDEN = Path(__file__).parent / "goldens" / "fixture_manifest.json"


def sha(b):
    return hashlib.sha256(b).hexdigest()


@pytest.fixture(scope="module")
def pages(spark):
    return fixture_pages(spark, scale=0.3).cache()


def test_spark_matches_kernel_goldens(spark, pages):
    """Every url extracted through mapInPandas (4-way parallel, per-row
    dispatch) must hash-match the frozen single-process goldens."""
    manifest = json.loads(GOLDEN.read_text())
    rows = extract_pages(pages, per_row_dispatch=True).collect()
    assert rows, "no rows extracted"
    for r in rows:
        want = manifest[r.url]
        assert sha(bytes(r.csv)) == want["csv_sha"], r.url
        assert r.n_rows == want["n_rows"] and r.n_cols == want["n_cols"], r.url
        if want["csv_numeric_sha"] is not None:
            assert sha(bytes(r.csv_numeric)) == want["csv_numeric_sha"], r.url
        assert r.error is None, (r.url, r.error)


def test_partitioning_is_content_neutral(spark, pages):
    """Size-aware repartition (skew plan) must not change any output byte."""
    base = {
        r.url: sha(bytes(r.csv))
        for r in extract_pages(pages, per_row_dispatch=True).collect()
    }
    spread = repartition_by_size(pages.select("url", "html", "layout", "args"), 8)
    got = {
        r.url: sha(bytes(r.csv))
        for r in extract_pages(spread, per_row_dispatch=True).collect()
    }
    assert got == base
    assert spread.rdd.getNumPartitions() == 8


def test_arrow_batch_size_is_content_neutral(spark, pages):
    """The kernel must be stateless across Arrow batch boundaries: running
    4-row batches (what the byte bound gives giant pages) over the whole
    corpus yields byte-identical output to the default (256) — the
    invariant that makes the two-pass small/giant split safe."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    base = {
        r.url: sha(bytes(r.csv))
        for r in extract_pages(pages, per_row_dispatch=True).collect()
    }
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        tiny = {
            r.url: sha(bytes(r.csv))
            for r in extract_pages(pages, per_row_dispatch=True).collect()
        }
    finally:
        spark.conf.set(key, prev)
    assert tiny == base


def test_malformed_rows_become_error_rows(spark):
    bad = spark.createDataFrame(
        [("u1", None), ("u2", b"<html><p>hi there this is content</p></html>")],
        "url string, html binary",
    )
    out = extract_pages(bad).collect()
    by_url = {r.url: r for r in out}
    assert len(out) == 2
    assert by_url["u1"].error is None  # empty html -> empty result, no error
    assert by_url["u2"].error is None


def test_resume_anti_join_and_idempotent_commit(spark, pages, tmp_path):
    ext_path = str(tmp_path / "extracted")
    prog_path = str(tmp_path / "progress")
    base = pages.select("url", "html", "layout", "args")

    # batch 0: first half (split by hash for determinism)
    b0 = base.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    commit_batch(extract_pages(b0, per_row_dispatch=True), 0, ext_path, prog_path)

    # resume: pending excludes batch-0 urls exactly
    progress = read_progress(spark, prog_path)
    pend = pending_pages(base, progress)
    assert pend.count() == base.count() - b0.count()
    assert pend.join(b0.select("url"), "url", "inner").count() == 0

    # batch 1: the rest; then a RE-RUN of batch 1 must not duplicate
    commit_batch(extract_pages(pend, per_row_dispatch=True), 1, ext_path, prog_path)
    commit_batch(extract_pages(pend, per_row_dispatch=True), 1, ext_path, prog_path)
    extracted = spark.read.parquet(ext_path)
    assert extracted.count() == base.count()
    assert extracted.select("url").distinct().count() == base.count()

    # after full progress, nothing is pending
    progress = read_progress(spark, prog_path)
    assert pending_pages(base, progress).count() == 0


def test_giant_pass_conf_isolated(spark, tmp_path, monkeypatch):
    """No package code changes session conf at run time: ``run_extract``
    runs both passes at the session's 256 rows per batch, the giants are
    kept small by the Arrow byte bound instead, and ``write_batch`` and the
    catalog's partition overwrite pass dynamic overwrite as a writer
    option."""
    import jobs.extract_job as ej
    from ocr_table_extractor_to_csv_spark.plans.resume import write_batch
    from ocr_table_extractor_to_csv_spark.sources.catalog import Catalog
    from ocr_table_extractor_to_csv_spark.sources.fixtures import generate_corpus

    rows_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    bytes_key = "spark.sql.execution.arrow.maxBytesPerBatch"
    pages = fixture_pages(spark, scale=0.2, giant_tokens=3000).select(
        "url", "html", "layout", "args"
    )
    seen = []
    real = ej.write_batch

    def spy(extracted, batch_id, path, sub="all"):
        seen.append((sub, extracted.sparkSession.conf.get(rows_key)))
        real(extracted, batch_id, path, sub=sub)

    monkeypatch.setattr(ej, "write_batch", spy)
    # a static session: a writer that set dynamic mode on the session would
    # show in the conf, one that set nothing would overwrite every partition
    overwrite_key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(overwrite_key, "static")
    before = spark.conf.getAll
    try:
        committed = ej.run_extract(
            spark,
            pages,
            out=str(tmp_path / "out"),
            progress_path=str(tmp_path / "prog"),
            batch_id=0,
            per_row_dispatch=True,
            giant_threshold=50_000,
        )
        assert spark.conf.getAll == before, "run_extract must not change session conf"
        assert dict(seen) == {"small": "256", "giant": "256"}
        by_pass = {
            r["pass"]: r["n"]
            for r in committed.groupBy("pass").agg(F.count("*").alias("n")).collect()
        }
        assert by_pass.get("giant", 0) >= 1, "fixture giants must exercise the giant pass"
        assert committed.select("url").distinct().count() == pages.count()

        # the writers' dynamic overwrite: a second partition keeps the first
        small = pages.where(F.length("html") < 2000).select("url")
        write_batch(small, 1, str(tmp_path / "wb"), sub="a")
        write_batch(small, 1, str(tmp_path / "wb"), sub="b")
        assert spark.read.parquet(str(tmp_path / "wb")).count() == 2 * small.count()
        cat = Catalog(spark, str(tmp_path / "wh"))
        cat.overwrite_partition(small.withColumn("p", F.lit(0)), "t", "p")
        cat.overwrite_partition(small.withColumn("p", F.lit(1)), "t", "p")
        assert cat.read("t").count() == 2 * small.count()
        assert spark.conf.getAll == before, "the writers must not change session conf"
    finally:
        spark.conf.unset(overwrite_key)

    # the byte bound closes a batch of giants: at 1 MiB no batch holds more
    # than the bound plus one row
    giants = spark.createDataFrame(
        [(r["url"], r["html"]) for r in generate_corpus(families=["giant"], giant_tokens=8000)],
        "url string, html binary",
    ).coalesce(1)

    def batch_bytes(batches):
        for b in batches:
            sizes = [len(h) for h in b.column("html").to_pylist()]
            yield pa.RecordBatch.from_pydict({"total": [sum(sizes)], "largest": [max(sizes)]})

    bound = 1 << 20
    prev = spark.conf.get(bytes_key)
    spark.conf.set(bytes_key, str(bound))
    try:
        batches = giants.mapInArrow(batch_bytes, "total long, largest long").collect()
    finally:
        spark.conf.set(bytes_key, prev)
    assert sum(b.total for b in batches) > bound, "the giants must exceed one bound"
    assert len(batches) > 1
    assert all(b.total <= bound + b.largest for b in batches), batches


def test_lineage_manifest_accounts_for_all_rows(spark, pages):
    extracted = extract_pages(pages, per_row_dispatch=True).cache()
    manifests = build_manifests(extracted)
    # one column set for every writer: a frame without ``pass`` reads null
    assert manifests.columns[:2] == ["pass", "partition_id"]
    assert manifests.where(F.col("pass").isNotNull()).count() == 0
    totals = manifests.agg(
        F.sum("n_urls").alias("urls"),
        F.sum("n_ok").alias("ok"),
        F.sum("n_failed").alias("failed"),
    ).collect()[0]
    n = pages.count()
    assert totals.urls == n
    assert totals.ok + totals.failed == n
    assert totals.failed == 0
    extracted.unpersist()


def test_job_manifests_one_row_per_pass_partition(spark, tmp_path):
    """The small and giant passes both number their partitions from 0; the
    job's manifests must not fold one pass's partition k into the other's."""
    import jobs.extract_job as ej

    pages = fixture_pages(spark, scale=0.2, giant_tokens=3000).select(
        "url", "html", "layout", "args"
    )
    committed = ej.run_extract(
        spark,
        pages,
        out=str(tmp_path / "out"),
        progress_path=str(tmp_path / "prog"),
        batch_id=0,
        per_row_dispatch=True,
        giant_threshold=50_000,
        manifests=str(tmp_path / "manifests"),
    )
    manifests = spark.read.parquet(str(tmp_path / "manifests")).collect()
    tasks = {(r["pass"], r["partition_id"]) for r in committed.select("pass", "partition_id").distinct().collect()}
    assert {r["pass"] for r in manifests} == {"small", "giant"}
    assert len(manifests) == len(tasks)
    assert {(r["pass"], r["partition_id"]) for r in manifests} == tasks
    assert sum(r["n_urls"] for r in manifests) == pages.count()
