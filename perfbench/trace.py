"""Tracing for the benchmark's traced runs.

* :class:`Tracer` keeps spans in memory (name, start, end, parent, thread,
  Spark job group) and writes them out once, with self time.  Every span
  gets its own ``setJobGroup`` so the engine counters can be read per span.
* :func:`wrapped` swaps module attributes for timing wrappers for the
  duration of a traced iteration, so the program's own dispatch runs
  unchanged; a name a refactor removed is skipped and its metric reads 0.
* :class:`KernelPhases` does the same for the functions ``kernel/extract.py``
  calls, in this process, where the kernel runs single-threaded.
* :class:`SparkCounters` reads stage metrics from the status store.
* :class:`RssSampler` samples the resident memory of this process tree.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Tuple

from .procs import descendants

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    thread: str
    group: str
    t0: float
    t1: float = 0.0
    attrs: Dict[str, object] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


_GROUP_PROPERTIES = ("spark.jobGroup.id", "spark.job.description")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: List[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # a span opened on a thread with no open span of its own (a pool
        # thread inside an operator) nests under the constructing thread's
        # innermost open span
        self._main = self._stack()

    def _stack(self) -> List[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        group = f"perfbench-span-{sid}"
        span = Span(
            sid,
            name,
            stack[-1] if stack else (self._main[-1] if self._main else None),
            threading.current_thread().name,
            group,
            0.0,
            attrs=attrs,
        )
        saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPERTIES}
        self.sc.setJobGroup(group, name)
        stack.append(sid)
        span.t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.t1 = time.perf_counter()
            stack.pop()
            for key, value in saved.items():
                self.sc.setLocalProperty(key, value)
            with self._lock:
                self.spans.append(span)

    def children(self) -> Dict[Optional[int], List[Span]]:
        out: Dict[Optional[int], List[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> Dict[int, float]:
        """Span duration minus the part of its interval its children cover."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered = 0.0
            end = s.t0
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.t0):
                lo, hi = max(c.t0, end, s.t0), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s.sid] = s.dur - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        base = min((s.t0 for s in self.spans), default=0.0)
        spans = [
            {
                "id": s.sid,
                "parent": s.parent,
                "name": s.name,
                "thread": s.thread,
                "job_group": s.group,
                "start_s": round(s.t0 - base, 6),
                "dur_s": round(s.dur, 6),
                "self_s": round(selfs[s.sid], 6),
                **s.attrs,
            }
            for s in sorted(self.spans, key=lambda s: s.t0)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": spans, **extra}, fh, indent=1, default=str)


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: Iterable[Tuple[str, Iterable[str]]]):
    """Replace ``module.name`` with a span-recording wrapper for each
    (module, names) target while the block runs; restore on exit."""
    saved = []
    try:
        for module_name, names in targets:
            module = importlib.import_module(module_name)
            for name in names:
                fn = getattr(module, name, None)
                if not callable(fn):
                    continue
                saved.append((module, name, fn))
                setattr(module, name, _span_wrapper(tracer, fn))
        yield
    finally:
        for module, name, fn in reversed(saved):
            setattr(module, name, fn)


def _span_wrapper(tracer: Tracer, fn):
    label = f"{fn.__module__.split('ocr_table_extractor_to_csv_spark.')[-1]}.{fn.__name__}"

    @functools.wraps(fn)
    def call(*args, **kwargs):
        attrs = {k: v for k, v in kwargs.items() if k == "sub"}
        with tracer.span(label, **attrs):
            return fn(*args, **kwargs)

    return call


# ---------------------------------------------------------------------------
# engine counters
# ---------------------------------------------------------------------------

COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
    "task_max_over_median",
)


class SparkCounters:
    """Stage metrics for a set of jobs, from the status store.

    ``stageList`` is called with its full 5-argument Java signature
    (statuses, details, withSummaries, quantiles, taskStatuses), which works
    with ``spark.ui.enabled=false``.  Task skew per stage is the max over the
    median of the task-duration quantiles from ``taskSummary``."""

    QUANTILES = (0.5, 1.0)

    def __init__(self, sc):
        self.sc = sc
        self.jvm = sc._jvm
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        quantiles = sc._gateway.new_array(self.jvm.double, len(self.QUANTILES))
        for i, q in enumerate(self.QUANTILES):
            quantiles[i] = q
        self._quantiles = quantiles

    def drain(self) -> None:
        """Wait for the listener bus, so finished jobs are in the store."""
        self.jsc.listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        jobs = self.store.jobsList(self.jvm.java.util.ArrayList())
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def jobs_after(self, job_id: int) -> List[int]:
        jobs = self.store.jobsList(self.jvm.java.util.ArrayList())
        ids = (jobs.apply(i).jobId() for i in range(jobs.size()))
        return sorted(j for j in ids if j > job_id)

    def jobs_in_group(self, group: str) -> List[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _stage_index(self) -> Dict[int, object]:
        stages = self.store.stageList(
            self.jvm.java.util.ArrayList(),
            False,
            False,
            self._quantiles,
            self.jvm.java.util.ArrayList(),
        )
        out: Dict[int, object] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            prev = out.get(s.stageId())
            if prev is None or s.attemptId() > prev.attemptId():
                out[s.stageId()] = s
        return out

    def collect(self, job_groups: Dict[str, List[int]]) -> Dict[str, Dict[str, float]]:
        """Counters per key of ``job_groups`` (a key maps to job ids)."""
        index = self._stage_index()
        tracker = self.sc.statusTracker()
        return {
            key: self._counters(jobs, index, tracker) for key, jobs in job_groups.items()
        }

    def _counters(self, jobs: List[int], index, tracker) -> Dict[str, float]:
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict.fromkeys(COUNTER_KEYS, 0.0)
        c["jobs"] = float(len(jobs))
        skew_weight = 0.0
        mb = 1e6
        for sid in stage_ids:
            s = index.get(sid)
            if s is None or s.numCompleteTasks() == 0:
                continue  # skipped (reused) stage
            run_ms = s.executorRunTime()
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks()
            c["executor_run_s"] += run_ms / 1e3
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["gc_s"] += s.jvmGcTime() / 1e3
            c["shuffle_read_mb"] += s.shuffleReadBytes() / mb
            c["shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            c["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
            c["output_mb"] += s.outputBytes() / mb
            if s.numCompleteTasks() > 1 and run_ms > 0:
                skew = self._skew(s)
                if skew is not None:
                    c["task_max_over_median"] += skew * run_ms
                    skew_weight += run_ms
        # run-time-weighted mean over stages, so a skewed 1 ms stage does not
        # outweigh the stage that holds the work
        c["task_max_over_median"] = c["task_max_over_median"] / skew_weight if skew_weight else 1.0
        return c

    def _skew(self, stage) -> Optional[float]:
        summary = self.store.taskSummary(stage.stageId(), stage.attemptId(), self._quantiles)
        if not summary.isDefined():
            return None
        duration = summary.get().duration()
        median, top = duration.apply(0), duration.apply(1)
        return top / median if median > 0 else None



def storage(sc) -> Tuple[float, int]:
    """(MB held by persisted RDDs, number of persistent RDDs): what operator
    caches carry from one iteration into the next."""
    jsc = sc._jsc.sc()
    held = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
    return held / 1e6, jsc.getPersistentRDDs().size()


# ---------------------------------------------------------------------------
# kernel phases (in-process)
# ---------------------------------------------------------------------------

K = "ocr_table_extractor_to_csv_spark.kernel"
# metric -> (module, function names) wrapped at module-attribute level; the
# module is where kernel/extract.py looks the name up at call time
KERNEL_PHASES: Dict[str, List[Tuple[str, str]]] = {
    "parse_dom": [(f"{K}.extract", "parse_dom")],
    "scan_tokens": [(f"{K}.extract", "scan_tokens_from_dom")],
    "build_lines": [(f"{K}.extract", "build_lines")],
    "line_spans": [(f"{K}.layouts", "compute_line_spans")],
    "infer_columns": [(f"{K}.extract", "infer_numeric_columns"), (f"{K}.extract", "estimate_columns")],
    "assign": [
        (f"{K}.extract", "assign_dynamic"),
        (f"{K}.extract", "assign_words_to_columns"),
        (f"{K}.extract", "assign_financial_three_columns"),
    ],
    "merge_rows": [
        (f"{K}.extract", "merge_financial_rows"),
        (f"{K}.extract", "merge_lines_into_rows"),
        (f"{K}.extract", "postprocess_financial"),
        (f"{K}.extract", "detect_header_row"),
        (f"{K}.extract", "resolve_dynamic_header"),
    ],
    "export": [
        (f"{K}.extract", "csv_bytes"),
        (f"{K}.extract", "csv_bytes_numeric"),
        (f"{K}.extract", "empty_csv_bytes"),
    ],
    "boilerplate": [(f"{K}.boilerplate", "extract_html_document")],
    "professional": [(f"{K}.extract", "build_professional_grid")],
}


class KernelPhases:
    """Per-phase self time of ``extract_document`` over many documents.

    Phases are accumulated (calls, total, self) rather than kept as one span
    per call: a pass makes tens of thousands of phase calls."""

    def __init__(self):
        self.total: Dict[str, float] = {}
        self.self_s: Dict[str, float] = {}
        self.calls: Dict[str, int] = {}
        self.absent: List[str] = []
        self._stack: List[List[float]] = []

    def _wrap(self, phase: str, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            self._stack.append([0.0])
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                child = self._stack.pop()[0]
                if self._stack:
                    self._stack[-1][0] += dur
                self.total[phase] = self.total.get(phase, 0.0) + dur
                self.self_s[phase] = self.self_s.get(phase, 0.0) + dur - child
                self.calls[phase] = self.calls.get(phase, 0) + 1

        return call

    @contextlib.contextmanager
    def installed(self):
        saved = []
        try:
            for phase, targets in KERNEL_PHASES.items():
                for module_name, name in targets:
                    module = importlib.import_module(module_name)
                    fn = getattr(module, name, None)
                    if not callable(fn):
                        self.absent.append(f"{module_name}.{name}")
                        continue
                    saved.append((module, name, fn))
                    setattr(module, name, self._wrap(phase, fn))
            yield self
        finally:
            for module, name, fn in reversed(saved):
                setattr(module, name, fn)


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def host_cpu_ticks() -> Tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: the share of CPU time the
    hypervisor gave to other guests, which slows every timing here."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _tree_rss_kb(root: int) -> int:
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page_kb
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
    return total


class RssSampler:
    """Peak resident memory of this process and its descendants (the JVM and
    the Python workers it forks), sampled from /proc inside ``sampling()``.
    Each ``sampling()`` window keeps its own peak, so a run can report the
    median iteration's peak beside the highest one."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.window_peaks_kb: List[int] = []
        self._window_kb = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self, pid: int) -> None:
        kb = _tree_rss_kb(pid)
        self.peak_kb = max(self.peak_kb, kb)
        self._window_kb = max(self._window_kb, kb)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self._on.is_set():
                self._sample(pid)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @contextlib.contextmanager
    def sampling(self):
        self._window_kb = 0
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample(os.getpid())
            self.window_peaks_kb.append(self._window_kb)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    @property
    def median_peak_mb(self) -> float:
        return statistics.median(self.window_peaks_kb) / 1024
