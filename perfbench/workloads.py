"""The workloads: how each lands its input, warms up, runs one timed
iteration through the engine's public entry points, and checks the output.

* ``extract_hocr``       extract_pages(layout="auto") over hOCR pages; the
                         kernel's dynamic path holds the time.
* ``extract_job_resume`` jobs.extract_job.run_extract with per-row dispatch,
                         resume, the giant pass and parquet writes.
* ``curate_dedup``       curate_pipeline(clean_chunks=10) and dedup_clusters
                         over the documents table; no kernel work.  Not an
                         end-to-end workload: extract_job_resume's traced
                         run records one warm iteration of it for the
                         curation and dedup layers (see README.md).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import pyarrow.parquet as pq

import jobs.extract_job as extract_job
from ocr_table_extractor_to_csv_spark.operators import curation, dedup
from ocr_table_extractor_to_csv_spark.operators import extract as extract_op

from . import inputs, verify
from .trace import Tracer

GOLDEN_SEED = 42
PKG = "ocr_table_extractor_to_csv_spark"


@dataclass
class Iteration:
    run_s: float
    attempted: int
    tables: int = 0
    input_bytes: int = 0
    failed: int = 0
    problems: List[str] = field(default_factory=list)
    phases: Dict[str, float] = field(default_factory=dict)  # time splits and row counts
    result: object = None  # what check() needs; dropped once checked
    traced: bool = False


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity_batches(batches):
    yield from batches


class Workload:
    name = ""
    items = "pages"
    trace_targets: List[Tuple[str, List[str]]] = []
    layer_prefixes: Tuple[str, ...] = ()  # per-layer metrics this workload's trace owns
    companion: Optional[type] = None  # scenario whose layers the traced run also records

    def __init__(self, seed: int, root: str, data: str, cores: int):
        self.seed = seed
        self.root = root  # checkout root
        self.data = data  # scratch for this run's landed input and outputs
        self.cores = cores
        self.landed = inputs.Landed()
        self.sizes: Dict[str, object] = {}
        self.problems: List[str] = []  # failures found outside the timed loop

    # setup ------------------------------------------------------------------
    def land(self, spark) -> None:
        raise NotImplementedError

    def warm(self, spark) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """The reference for the output checks; not part of set-up time."""

    # timed ------------------------------------------------------------------
    def run(self, spark, index: int, tracer: Optional[Tracer]) -> Iteration:
        """One timed iteration, from the first engine call to the last byte
        forced or committed."""
        raise NotImplementedError

    def check(self, spark, it: Iteration) -> None:
        """Untimed checks of one iteration's output."""

    def finish(self, spark, iterations: List[Iteration]) -> None:
        """Checks that need every iteration (curate_dedup's oracle)."""

    # traced-only layers -----------------------------------------------------
    def probes(self, spark, tracer: Tracer) -> Dict[str, float]:
        return {}

    def kernel_pages(self) -> List[Tuple[bytes, Optional[str], Optional[str]]]:
        return []


# ---------------------------------------------------------------------------
# extraction workloads share the reference and the kernel pass
# ---------------------------------------------------------------------------


class _Extraction(Workload):
    def __init__(self, *a):
        super().__init__(*a)
        self.reference: Optional[verify.Reference] = None

    def _reference(self, skip) -> None:
        self.reference = verify.reference_pass(
            inputs.parquet_files(self.landed.pages), skip, self.cores
        )

    def _check_goldens(self, urls) -> None:
        if self.seed != GOLDEN_SEED:
            return
        checked, bad = verify.golden_mismatches(self.root, self.reference, urls)
        self.sizes["golden_urls_checked"] = checked
        if not checked:
            self.problems.append("no fixture url matched tests/goldens at the golden seed")
        self.problems += [f"golden mismatch: {u}" for u in bad]

    def _primary_rows(self, skip) -> List[Tuple[bytes, Optional[str], Optional[str]]]:
        return [
            (html, layout, args)
            for url, html, layout, args in verify.page_rows(inputs.parquet_files(self.landed.pages))
            if url not in skip and verify.is_primary(url)
        ]


class ExtractHocr(_Extraction):
    name = "extract_hocr"
    trace_targets = [(f"{PKG}.operators.extract", ["extract_pages"])]

    def land(self, spark) -> None:
        self.landed = inputs.land_hocr_pages(self.seed, self.data, self.cores)

    def warm(self, spark) -> None:
        from pyspark.sql import functions as F

        pages = spark.read.parquet(self.landed.pages)
        slice_ = pages.where(F.pmod(F.xxhash64("url"), F.lit(16)) == 0)
        verify.extraction_digest(extract_op.extract_pages(slice_, layout="auto")).collect()

    def prepare(self, spark) -> None:
        self._reference(set())
        ref = self.reference
        urls = [
            (u if k == 0 else f"{u}#r{k}", u)
            for u in ref.pages
            for k in range(inputs.HOCR_REPLICAS)
        ]
        self.expected = verify.expected_extraction(ref, urls)
        self.expected_urls = {url: ref.pages[p].hash_for(url) for url, p in urls}
        # goldens hold each fixture under its own layout; layout="auto" sends
        # hOCR pages down the dynamic path, so only the dynamic ones compare
        self._check_goldens(
            {
                r["url"]
                for r in inputs.fixture_rows(self.seed, inputs.HOCR_FAMILIES)
                if r["layout"] == "dynamic" and r["args"] == "{}"
            }
        )
        self.input_bytes = sum(ref.lengths.values())
        self.sizes.update(
            pages=self.expected[0],
            distinct_pages=len(ref.pages),
            replicas=inputs.HOCR_REPLICAS,
            sampled_documents=inputs.HOCR_SAMPLE_DOCS,
            fixture_pages=sum(1 for u in ref.pages if u.startswith("https://fixtures.test/")),
            html_mb=round(self.input_bytes / 1e6, 3),
            tables_expected=self.expected[2],
        )

    def run(self, spark, index, tracer):
        span = _spans(tracer)
        t0 = time.perf_counter()
        with span("sources.read"):
            pages = spark.read.parquet(self.landed.pages)
        t1 = time.perf_counter()
        extracted = extract_op.extract_pages(pages, layout="auto")
        t2 = time.perf_counter()
        with span("operators.extract.exec"):
            row = verify.extraction_digest(extracted).collect()[0]
        t3 = time.perf_counter()
        return Iteration(
            t3 - t0,
            attempted=self.expected[0],
            tables=row.tables,
            input_bytes=self.input_bytes,
            phases={"read_s": t1 - t0, "build_s": t2 - t1, "exec_s": t3 - t2},
            result=(row, extracted),
        )

    def check(self, spark, it):
        row, extracted = it.result
        n, digest, tables = self.expected
        got = (row.n, int(row.digest or 0), row.tables, row.html_bytes)
        if got != (n, digest, tables, self.input_bytes) or row.error_urls:
            bad = verify.extraction_diff(extracted, self.expected_urls)
            it.failed = max(len(bad), 1)
            it.problems.append(f"extraction digest mismatch on {len(bad)} urls: {bad[:5]}")
        it.result = None

    def probes(self, spark, tracer):
        """Scan, Arrow round trip and full map, each forced through noop."""
        from pyspark.sql.types import BinaryType, StringType, StructField, StructType

        schema = StructType([StructField("url", StringType()), StructField("html", BinaryType())])
        pages = lambda: spark.read.parquet(self.landed.pages).select("url", "html")  # noqa: E731
        with tracer.span("sources.scan") as scan:
            _noop(pages())
        with tracer.span("operators.extract.arrow_roundtrip") as rt:
            _noop(pages().mapInArrow(_identity_batches, schema))
        with tracer.span("operators.extract.map") as full:
            _noop(extract_op.extract_pages(pages(), layout="auto"))
        return {
            "sources.scan_s": scan.dur,
            "sources.scan_mb": inputs.dir_mb(self.landed.pages),
            "operators.extract.arrow_roundtrip_s": rt.dur - scan.dur,
            "operators.extract.map_s": full.dur - rt.dur,
        }

    def kernel_pages(self):
        return self._primary_rows(set())


class ExtractJobResume(_Extraction):
    name = "extract_job_resume"
    trace_targets = [
        (
            "jobs.extract_job",
            [
                "run_extract",
                "read_progress",
                "pending_pages",
                "isolate_giants",
                "extract_pages",
                "write_batch",
                "commit_progress",
                "build_manifests",
            ],
        )
    ]

    def land(self, spark) -> None:
        self.landed = inputs.land_job_pages(self.seed, self.data, self.cores)

    def _run(self, spark, pages, where: str):
        shutil.rmtree(where, ignore_errors=True)
        os.makedirs(where)
        progress = os.path.join(where, "progress")
        shutil.copytree(self.landed.progress_seed, progress)
        out = os.path.join(where, "extracted")
        manifests = os.path.join(where, "manifests")
        t0 = time.perf_counter()
        committed = extract_job.run_extract(
            spark,
            pages(),
            out=out,
            progress_path=progress,
            batch_id=inputs.RUN_BATCH,
            layout="auto",
            per_row_dispatch=True,
            giant_threshold=inputs.GIANT_THRESHOLD,
            manifests=manifests,
        )
        return time.perf_counter() - t0, committed, manifests

    def warm(self, spark) -> None:
        from pyspark.sql import functions as F

        def pages():
            df = spark.read.parquet(self.landed.pages)
            return df.where(F.pmod(F.xxhash64("url"), F.lit(16)) == 0)

        where = os.path.join(self.data, "warm")
        self._run(spark, pages, where)
        shutil.rmtree(where, ignore_errors=True)

    def prepare(self, spark) -> None:
        done = set(
            pq.read_table(inputs.parquet_files(self.landed.progress_seed), columns=["url"])
            .column("url")
            .to_pylist()
        )
        self.done = done
        self._reference(done)
        ref = self.reference
        self.expected = verify.expected_extraction(ref, [(u, u) for u in ref.pages])
        self.expected_urls = {u: p.hash_for(u) for u, p in ref.pages.items()}
        self.injected = sorted(u for u in ref.pages if u.startswith("bad://"))
        # per-row dispatch uses each fixture's own layout and args, as the
        # goldens did; the giants here are larger than the golden ones
        self._check_goldens(
            {r["url"] for r in inputs.fixture_rows(self.seed, ["boiler"] + inputs.HOCR_FAMILIES)}
        )
        sizes = ref.lengths
        self.input_bytes = sum(n for u, n in sizes.items() if u not in done)
        self.giants = sum(1 for n in sizes.values() if n >= inputs.GIANT_THRESHOLD)
        self.sizes.update(
            pages=len(sizes),
            pending_pages=self.expected[0],
            seeded_done=len(done),
            seeded_done_share=round(len(done) / len(sizes), 4),
            html_mb=round(sum(sizes.values()) / 1e6, 3),
            pending_html_mb=round(self.input_bytes / 1e6, 3),
            giants=self.giants,
            injected_errors=len(self.injected),
            hocr_fixture_pages=sum(
                1 for u in sizes if u.startswith("https://fixtures.test/")
                and "/boiler/" not in u and "/giant/" not in u
            ),
            tables_expected=self.expected[2],
        )

    def run(self, spark, index, tracer):
        where = os.path.join(self.data, f"iter-{index}")
        run_s, committed, manifests = self._run(
            spark, lambda: spark.read.parquet(self.landed.pages), where
        )
        return Iteration(
            run_s,
            attempted=self.expected[0],
            input_bytes=self.input_bytes,
            result=(where, committed, manifests),
        )

    def check(self, spark, it):
        from pyspark.sql import functions as F

        where, committed, manifests = it.result
        row = verify.extraction_digest(
            committed, F.sum(F.when(F.col("pass") == "giant", 1).otherwise(0)).alias("giants")
        ).collect()[0]
        manifest_urls = (
            spark.read.parquet(manifests)
            .where(F.col("batch_id") == inputs.RUN_BATCH)
            .agg(F.sum("n_urls"))
            .collect()[0][0]
        )
        it.tables = row.tables
        it.phases.update(
            giant_rows=row.giants, pending_rows=row.n, skipped_rows=self.sizes["pages"] - row.n
        )
        n, digest, tables = self.expected
        # equal count and digest over (url, output) pairs mean the committed
        # rows are exactly the pending ones, so no seeded-done url came back
        if (row.n, int(row.digest or 0), row.tables) != (n, digest, tables):
            bad = verify.extraction_diff(committed, self.expected_urls)
            redone = [u for u in bad if u in self.done]
            it.failed += max(len(bad), 1)
            it.problems.append(
                f"committed rows differ from the pending reference on {len(bad)} urls, "
                f"{len(redone)} of them seeded done: {bad[:5]}"
            )
        if manifest_urls != row.n:
            it.failed += max(abs((manifest_urls or 0) - row.n), 1)
            it.problems.append(f"manifests count {manifest_urls} urls, committed {row.n}")
        if list(row.error_urls) != self.injected:
            wrong = set(row.error_urls) ^ set(self.injected)
            it.failed += len(wrong)
            it.problems.append(f"error rows differ from the injected ones: {sorted(wrong)[:5]}")
        if row.giants != self.giants:
            it.failed += abs(row.giants - self.giants)
            it.problems.append(f"giant pass committed {row.giants} rows, expected {self.giants}")
        shutil.rmtree(where, ignore_errors=True)
        it.result = None

    def probes(self, spark, tracer):
        with tracer.span("sources.scan") as scan:
            _noop(spark.read.parquet(self.landed.pages).select("url", "html"))
        return {"sources.scan_s": scan.dur, "sources.scan_mb": inputs.dir_mb(self.landed.pages)}

    def kernel_pages(self):
        return self._primary_rows(self.done)


class CurateDedup(Workload):
    name = "curate_dedup"
    items = "docs"
    layer_prefixes = ("operators.curation.", "operators.dedup.")
    trace_targets = [
        (f"{PKG}.operators.curation", ["curate_pipeline", "decontaminate", "pack_sequences"]),
        (
            f"{PKG}.operators.dedup",
            [
                "dedup_clusters",
                "line_dedup_clean",
                "minhash_lsh_pairs",
                "minhash_signatures",
                "shingles",
                "connected_components",
            ],
        ),
    ]

    def land(self, spark) -> None:
        self.landed = inputs.land_documents(self.seed, self.data, self.cores)

    def warm(self, spark) -> None:
        from pyspark.sql import functions as F

        # curate_pipeline runs dedup_clusters inside, so one call on a slice
        # warms both operators' plans
        docs = spark.read.parquet(self.landed.documents).where(F.col("doc_id") % 20 == 0)
        verify.frame_digest(curation.curate_pipeline(docs, clean_chunks=10)).collect()

    def prepare(self, spark) -> None:
        table = pq.read_table(inputs.parquet_files(self.landed.documents), columns=["text"])
        texts = table.column("text").to_pylist()
        self.input_bytes = sum(len(t.encode()) for t in texts)
        self.sizes.update(
            documents=len(texts),
            text_mb=round(self.input_bytes / 1e6, 3),
            near_duplicates=sum(1 for t in texts if t.endswith(" dup")),
        )

    def run(self, spark, index, tracer):
        span = _spans(tracer)
        t0 = time.perf_counter()
        docs = spark.read.parquet(self.landed.documents)
        curated = curation.curate_pipeline(docs, clean_chunks=10)
        t1 = time.perf_counter()
        with span("operators.curation.curate_pipeline.exec"):
            c = verify.frame_digest(curated).collect()[0]
        t2 = time.perf_counter()
        clusters = dedup.dedup_clusters(docs)
        t3 = time.perf_counter()
        with span("operators.dedup.dedup_clusters.exec"):
            d = verify.frame_digest(clusters).collect()[0]
        t4 = time.perf_counter()
        self._frames = (curated, clusters)
        return Iteration(
            t4 - t0,
            attempted=self.sizes["documents"],
            input_bytes=self.input_bytes,
            phases={
                "curate_build_s": t1 - t0,
                "curate_exec_s": t2 - t1,
                "dedup_build_s": t3 - t2,
                "dedup_exec_s": t4 - t3,
            },
            result=((c.n, int(c.digest or 0)), (d.n, int(d.digest or 0))),
        )

    def finish(self, spark, iterations):
        """Digest the DuckDB twins through the same Spark expression and
        compare every iteration's digests with them."""
        work = os.path.join(self.data, "duckdb")
        os.makedirs(work, exist_ok=True)
        want = []
        oracles = []
        for name, frame in zip(("pipeline_full_v3", "dedup_clusters"), self._frames):
            oracle = verify.oracle_frame(
                spark, name, self.landed.documents, frame.schema, work, self.cores
            )
            row = verify.frame_digest(oracle).collect()[0]
            want.append((row.n, int(row.digest or 0)))
            oracles.append(oracle)
        self.sizes["pipeline_full_v3_rows"] = want[0][0]
        self.sizes["dedup_clusters_rows"] = want[1][0]
        for it in iterations:
            for name, got, exp, frame, oracle in zip(
                ("curate_pipeline", "dedup_clusters"), it.result, want, self._frames, oracles
            ):
                if got != exp:
                    bad = verify.frame_diff(frame, oracle, "doc_id")
                    it.failed += max(len(bad), 1)
                    it.problems.append(f"{name} differs from its DuckDB twin on {len(bad)} docs")

    def probes(self, spark, tracer):
        with tracer.span("sources.scan") as scan:
            _noop(spark.read.parquet(self.landed.documents).select("doc_id", "text"))
        return {
            "sources.scan_s": scan.dur,
            "sources.scan_mb": inputs.dir_mb(self.landed.documents),
        }


def _spans(tracer: Optional[Tracer]):
    return tracer.span if tracer else (lambda name: contextlib.nullcontext())


# The run budget holds two end-to-end workloads; curate_dedup's layers are
# recorded by extract_job_resume's traced run instead.
ExtractJobResume.companion = CurateDedup
WORKLOADS = {w.name: w for w in (ExtractHocr, ExtractJobResume)}
