#!/usr/bin/env python3
"""Layered benchmark for the extraction engine.

    python3 perfbench/run.py --workload extract_hocr --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads: extract_hocr,
extract_job_resume (see perfbench/README.md).  A run

1. sets up ``SETUP_REPEATS`` times (session start, seeded input generation
   and landing, warm-up) and reports the median as ``setup_s``;
2. computes the reference for the output checks (not part of set-up);
3. runs timed iterations for ``--seconds`` (at least ``MIN_ITERATIONS``)
   and checks every one; with ``--trace 1`` every other iteration is traced;
4. prints one summary line with all the workload's metrics, then, as the
   last line, the result object whose metrics are BENCHMARK.json's
   ``end_to_end`` list (``--trace 0``) or ``per_layer`` list (``--trace 1``).
   A traced run also writes its spans to ``.perfbench_work/out/``.

The exit code is 1 when any output check failed and 2 when the checkout
lacks the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
MIN_ITERATIONS = 2  # an untraced run reports a median of at least two
ENGINE_FILES = (
    "ocr_table_extractor_to_csv_spark/__init__.py",
    "jobs/extract_job.py",
    "tests/goldens/fixture_manifest.json",
)


def _environment(tmp: str) -> None:
    """Keep every file the run writes inside the checkout and let the Python
    workers import the engine from it."""
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def start_session(cores: int):
    from ocr_table_extractor_to_csv_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stats(values):
    values = list(values)
    if len(values) > 1:
        p25, _, p75 = statistics.quantiles(values, n=4)
    else:
        p25 = p75 = values[0]
    return {"median": statistics.median(values), "p25": p25, "p75": p75, "n": len(values)}


def kernel_pass(pages):
    """extract_document in this process, one core, with every phase that
    kernel/extract.py calls wrapped."""
    from perfbench.trace import KernelPhases
    from perfbench.verify import reference_page

    phases = KernelPhases()
    docs = tokens = lines = 0
    with phases.installed():
        t0 = time.perf_counter()
        for html, layout, args in pages:
            ref = reference_page(html, layout, args)
            docs += 1
            tokens += ref.n_tokens
            lines += ref.n_lines
        wall = time.perf_counter() - t0
    return phases, {"docs": docs, "tokens": tokens, "lines": lines, "wall_s": wall}


# ---------------------------------------------------------------------------
# per-layer metrics of one traced iteration
# ---------------------------------------------------------------------------


def iteration_layers(tracer, root, counters, it, cores):
    from perfbench.trace import COUNTER_KEYS

    kids = tracer.children()

    def subtree(span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out

    inside = [s for s in subtree(root) if s is not root]

    def named(name, **attrs):
        return [
            s for s in inside
            if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def dur(name, **attrs):
        return sum(s.dur for s in named(name, **attrs))

    def jobs(spans_):
        return sum(
            counters.get(f"span:{t.sid}", {}).get("jobs", 0.0)
            for s in spans_
            for t in subtree(s)
        )

    top = lambda name: [s for s in named(name) if s.parent == root.sid]  # noqa: E731
    m = {f"spark.{k}": counters["iteration"][k] for k in COUNTER_KEYS}
    m["spark.core_busy_frac"] = counters["iteration"]["executor_run_s"] / (it.run_s * cores)

    m["plans.resume.read_progress_s"] = dur("plans.resume.read_progress")
    m["plans.resume.write_small_s"] = dur("plans.resume.write_batch", sub="small")
    m["plans.resume.write_giant_s"] = dur("plans.resume.write_batch", sub="giant")
    m["plans.resume.commit_progress_s"] = dur("plans.resume.commit_progress")
    job, commit = named("jobs.extract_job.run_extract"), named("plans.resume.commit_progress")
    # build_manifests only builds a frame; its append runs in run_extract's
    # own body after the progress commit, which is what this interval holds
    m["plans.lineage.manifests_s"] = job[0].t1 - commit[0].t1 if job and commit else 0.0

    cur, cur_exec = top("operators.curation.curate_pipeline"), named(
        "operators.curation.curate_pipeline.exec"
    )
    m["operators.curation.curate_pipeline.build_s"] = sum(s.dur for s in cur)
    m["operators.curation.curate_pipeline.exec_s"] = sum(s.dur for s in cur_exec)
    m["operators.curation.curate_pipeline.jobs"] = jobs(cur + cur_exec)
    dd, dd_exec = top("operators.dedup.dedup_clusters"), named("operators.dedup.dedup_clusters.exec")
    m["operators.dedup.dedup_clusters.build_s"] = sum(s.dur for s in dd)
    m["operators.dedup.dedup_clusters.exec_s"] = sum(s.dur for s in dd_exec)
    m["operators.dedup.dedup_clusters.jobs"] = jobs(dd + dd_exec)
    cc = named("operators.dedup.connected_components")
    m["operators.dedup.connected_components_s"] = sum(s.dur for s in cc)
    m["operators.dedup.cc_jobs"] = jobs(cc)
    m["plans.resume.pending_rows"] = it.phases.get("pending_rows", 0)
    m["plans.resume.skipped_rows"] = it.phases.get("skipped_rows", 0)
    m["plans.partitioning.giant_rows"] = it.phases.get("giant_rows", 0)
    return m


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    data = os.path.join(WORK, f"data-{os.getpid()}")
    tmp = os.path.join(WORK, "tmp")
    for d in (data, tmp):
        os.makedirs(d, exist_ok=True)
    _environment(tmp)
    from perfbench.procs import become_subreaper, shutdown

    become_subreaper()
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, spec, data)
    finally:
        shutdown()
        shutil.rmtree(data, ignore_errors=True)


def traced_iteration(wl, spark, index, tracer, counters):
    """One iteration with the module wrappers installed and every span's
    engine counters read back; returns the iteration, its root span and the
    counters."""
    from perfbench.trace import wrapped

    counters.drain()
    before = counters.max_job_id()
    with wrapped(tracer, wl.trace_targets):
        with tracer.span(f"iteration:{wl.name}", index=index) as root:
            it = wl.run(spark, index, tracer)
    counters.drain()
    groups = {"iteration": counters.jobs_after(before)}
    inside = [s for s in tracer.spans if root.t0 <= s.t0 and s.t1 <= root.t1]
    for s in inside:
        groups[f"span:{s.sid}"] = counters.jobs_in_group(s.group)
    got = counters.collect(groups)
    for s in inside:
        c = got.get(f"span:{s.sid}")
        if c and c["jobs"]:
            s.attrs["spark"] = {k: round(v, 4) for k, v in c.items()}
    it.traced = True
    return it, root, got


def run_companion(wl, spark, tracer, counters, data, cores):
    """One warm, traced, checked iteration of ``wl.companion`` on its own
    seeded input, in this session: the per-layer numbers of a scenario the
    run budget has no end-to-end workload for."""
    other = wl.companion(wl.seed, ROOT, os.path.join(data, "companion"), cores)
    other.land(spark)
    other.warm(spark)
    other.prepare(spark)
    it, root, got = traced_iteration(other, spark, 0, tracer, counters)
    other.check(spark, it)
    other.finish(spark, [it])
    layers = iteration_layers(tracer, root, got, it, cores)
    pages = other.kernel_pages()
    return {
        "workload": other.name,
        "inputs": other.sizes,
        "run_s": it.run_s,
        "layers": {k: v for k, v in layers.items() if k.startswith(other.layer_prefixes)},
        "iteration": it,
        "problems": other.problems,
        "kernel": kernel_pass(pages) if pages else None,
    }


def _run(args, spec, data) -> int:
    from perfbench import workloads
    from perfbench.trace import RssSampler, SparkCounters, Tracer, host_cpu_ticks, storage

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload](args.seed, ROOT, data, cores)
    trace = bool(args.trace)

    spark = None
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(cores)
        t1 = time.perf_counter()
        wl.land(spark)
        t2 = time.perf_counter()
        wl.warm(spark)
        t3 = time.perf_counter()
        setups.append(
            {"setup_s": t3 - t0, "start_s": t1 - t0, "generate_s": t2 - t1, "warm_s": t3 - t2}
        )
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t0

    sc = spark.sparkContext
    tracer = Tracer(sc) if trace else None
    counters = SparkCounters(sc) if trace else None
    iterations, layers, held = [], [], []
    steal0 = host_cpu_ticks()
    loop_t0 = time.perf_counter()
    with RssSampler() as rss:  # samples only while an iteration runs
        while True:
            index = len(iterations)
            start_held = storage(sc)
            with rss.sampling():
                if trace and index % 2 == 1:
                    it, root, got = traced_iteration(wl, spark, index, tracer, counters)
                else:
                    it = wl.run(spark, index, None)
            end_held = storage(sc)
            wl.check(spark, it)
            if it.traced:
                layers.append(iteration_layers(tracer, root, got, it, cores))
            held.append({"index": index, "traced": it.traced, "start_mb": start_held[0],
                         "start_rdds": start_held[1], "end_mb": end_held[0], "end_rdds": end_held[1]})
            iterations.append(it)
            untraced = len(iterations) - len(layers)
            enough = layers and untraced if trace else untraced >= MIN_ITERATIONS
            if enough and time.perf_counter() - loop_t0 >= args.seconds:
                break
    # the median iteration's peak: one iteration that catches the heap at its
    # top does not set the run's figure; the highest peak is in the summary
    peak_rss_mb = rss.median_peak_mb
    peak_rss_max_mb = rss.peak_mb
    steal1 = host_cpu_ticks()
    steal_frac = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

    wl.finish(spark, iterations)

    probe, kernel, companion = {}, None, None
    if trace:
        mark = len(tracer.spans)
        probe = wl.probes(spark, tracer)
        counters.drain()
        extra = tracer.spans[mark:]
        got = counters.collect({s.sid: counters.jobs_in_group(s.group) for s in extra})
        for s in extra:
            s.attrs["spark"] = {k: round(v, 4) for k, v in got[s.sid].items()}
        pages = wl.kernel_pages()
        if pages:
            kernel = kernel_pass(pages)
        if wl.companion is not None:
            companion = run_companion(wl, spark, tracer, counters, data, cores)
            probe.update(companion["layers"])
    spark.stop()

    # ----------------------------------------------------------------- report
    plain = [i for i in iterations if not i.traced]
    checked = iterations + ([companion["iteration"]] if companion else [])
    problems = wl.problems + (companion["problems"] if companion else [])
    failed = sum(i.failed for i in checked) + len(problems)
    attempted = sum(i.attempted for i in checked)
    problems += [p for i in checked for p in i.problems]
    run_s = stats(i.run_s for i in plain)
    per_s = lambda f: stats(f(i) / i.run_s for i in plain)  # noqa: E731
    summary = {
        "run_s": {**run_s, "unit": "s"},
        "setup_s": {**stats(s["setup_s"] for s in setups), "unit": "s"},
        "failed_frac": {"median": failed / attempted, "n": len(checked), "unit": "ratio"},
        "peak_rss_mb": {"median": peak_rss_mb, "max": peak_rss_max_mb,
                        "n": len(iterations), "unit": "MB"},
    }
    if wl.items == "pages":
        summary["pages_per_s"] = {**per_s(lambda i: i.attempted), "unit": "pages/s"}
        summary["tables_per_s"] = {**per_s(lambda i: i.tables), "unit": "tables/s"}
        summary["html_mb_per_s"] = {**per_s(lambda i: i.input_bytes / 1e6), "unit": "MB/s"}
    else:
        summary["docs_per_s"] = {**per_s(lambda i: i.attempted), "unit": "docs/s"}
    ref = getattr(wl, "reference", None)
    baseline = {}
    if ref is not None:
        kernel_rate = ref.docs_per_s
        baseline = {
            "kernel.docs_per_s": kernel_rate,
            "pages_per_s_over_kernel_docs_per_s": summary["pages_per_s"]["median"] / kernel_rate,
            # share of the iteration the kernel would fill on every core
            "kernel_share_of_run": plain[0].attempted / kernel_rate / cores / run_s["median"],
        }

    e2e = {
        "run_s": run_s["median"],
        "setup_s": summary["setup_s"]["median"],
        "items_per_s": statistics.median(i.attempted / i.run_s for i in plain),
        "peak_rss_mb": peak_rss_mb,
    }
    print(json.dumps({
        "workload": wl.name,
        "seed": args.seed,
        "nproc": cores,
        "trace": int(trace),
        "inputs": wl.sizes,
        "metrics": summary,
        "single_core_baseline": baseline,
        "setups": setups,
        "reference_s": prepare_s,
        "host_steal_frac": steal_frac,
        "cache_hygiene": held,
        "iterations": [{"run_s": i.run_s, "traced": i.traced, **i.phases} for i in iterations],
        "problems": problems[:20],
    }, default=float))

    if trace:
        per_layer = _per_layer(wl, setups, layers, probe, kernel, ref, iterations, held, run_s, cores)
        path = os.path.join(WORK, "out", f"trace-{wl.name}-seed{args.seed}.json")
        tracer.write(path, {"workload": wl.name, "seed": args.seed, "per_layer": per_layer,
                            "kernel_phases": _kernel_detail(kernel),
                            "companion": companion and {k: v for k, v in companion.items()
                                                        if k not in ("iteration", "kernel")}})
        print(json.dumps({"trace_file": os.path.relpath(path, ROOT)}))
        values = per_layer
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    # a per-layer metric whose span a refactor removed reads 0; an end-to-end
    # metric is always measured
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0) if trace else values[m["name"]]),
                    "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _kernel_detail(kernel):
    if kernel is None:
        return None
    phases, totals = kernel
    return {
        "totals": totals,
        "self_s": phases.self_s,
        "total_s": phases.total,
        "calls": phases.calls,
        "absent": phases.absent,
    }


def _per_layer(wl, setups, layers, probe, kernel, ref, iterations, held, run_s, cores):
    med = statistics.median
    m = {
        "session.start_s": med(s["start_s"] for s in setups),
        "sources.generate_s": med(s["generate_s"] for s in setups),
        "spark.cached_mb": med(h["end_mb"] for h in held),
        "spark.cached_mb_start": med(h["start_mb"] for h in held),
        "spark.persistent_rdds": med(h["start_rdds"] for h in held),
    }
    for key in layers[0]:
        m[key] = med(layer[key] for layer in layers)
    m.update(probe)
    traced = med(i.run_s for i in iterations if i.traced)
    m["trace.run_s"] = traced
    m["trace.overhead_s"] = traced - run_s["median"]
    if kernel is not None:
        phases, totals = kernel
        for name in ("parse_dom", "scan_tokens", "build_lines", "line_spans", "infer_columns",
                     "assign", "merge_rows", "export", "boilerplate", "professional"):
            m[f"kernel.{name}_s"] = phases.self_s.get(name, 0.0)
        m["kernel.docs"] = totals["docs"]
        m["kernel.tokens"] = totals["tokens"]
        m["kernel.lines"] = totals["lines"]
        m["kernel.docs_per_s"] = ref.docs_per_s
        per_doc = sum(phases.self_s.values()) / totals["docs"]
        pages = statistics.median(i.attempted for i in iterations)
        # kernel phase time the iteration's pages need, spread over every core,
        # as a share of the untraced iteration
        m["kernel.share_of_run"] = per_doc * pages / cores / run_s["median"]
    return m


if __name__ == "__main__":
    sys.exit(main())
