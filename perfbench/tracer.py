"""Measurement plumbing: spans around the engine's public functions, Spark
event-log decoding, host-noise telemetry and process-tree memory.

Spans are recorded from here, around calls into the engine's modules; the
engine itself is not modified. ``Tracer.install()`` swaps each wrapped
attribute for a recording wrapper and ``uninstall()`` puts the original
back, so untraced passes run the engine exactly as shipped.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from typing import Dict, List, Optional

# Module-level functions wrapped with a span, by the module whose namespace
# the caller looks them up in. ``plans.pipeline`` imports its operators by
# name, so they are wrapped there; the streaming bridge imports
# ``connected_components`` from ``operators.clustering`` at call time.
WRAPPED_FUNCTIONS = {
    "pilsner_spark.plans.pipeline": [
        "extract_mentions_df",
        "normalized_text_df",
        "turn_entities_df",
        "token_blocks",
        "minhash_blocks",
        "salt_oversized_blocks",
        "candidate_pairs",
        "turn_features",
        "score_pairs_base",
        "jw_scores_for_undecided",
        "finalize_scored",
        "split_match_edges",
        "star_match_edges",
        "cluster_turns",
    ],
    "pilsner_spark.operators.clustering": ["connected_components"],
}


class Span:
    __slots__ = ("name", "start", "end", "parent")

    def __init__(self, name: str, start: float, parent: Optional["Span"]):
        self.name, self.start, self.end, self.parent = name, start, None, parent

    @property
    def seconds(self) -> float:
        return (self.end or time.perf_counter()) - self.start


class Tracer:
    """In-memory span recorder; one open-span stack per thread (the
    streaming bridge runs its batches on the query's own thread)."""

    def __init__(self, spark, tag_jobs: bool = True):
        self.spark = spark
        self.spans: List[Span] = []
        self.cc_stats: List[dict] = []
        self.cc_edges: List[object] = []
        # tag the jobs each Pipeline.stage launches with a job group, which
        # the event log carries to stage_counters()
        self.tag_jobs = tag_jobs
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: List[tuple] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                stack = tracer._stack()
                s = Span(name, time.perf_counter(), stack[-1] if stack else None)
                stack.append(s)
                with tracer._lock:
                    tracer.spans.append(s)
                self.s = s
                return s

            def __exit__(self, *exc):
                self.s.end = time.perf_counter()
                tracer._stack().pop()
                return False

        return _Ctx()

    def reset(self) -> None:
        self.spans, self.cc_stats, self.cc_edges = [], [], []

    def named(self, prefix: str) -> List[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def totals(self) -> Dict[str, dict]:
        """Seconds and call count per span name, for the detail record."""
        out: Dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(s.name, {"seconds": 0.0, "calls": 0})
            t["seconds"] += s.seconds
            t["calls"] += 1
        return out

    def self_seconds(self, span: Span, child_prefix: str) -> float:
        """Span duration minus the part its direct ``child_prefix`` children cover."""
        covered = sum(s.seconds for s in self.spans if s.parent is span and s.name.startswith(child_prefix))
        return span.seconds - covered

    # -- wrappers ------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import importlib

        from pilsner_spark.plans.pipeline import Pipeline
        from pilsner_spark.sources.catalog import Catalog

        tracer = self
        orig_stage = Pipeline.stage

        @functools.wraps(orig_stage)
        def stage(pipe, name, fn, params=None):
            sc = tracer.spark.sparkContext
            if tracer.tag_jobs:
                sc.setJobGroup(f"stage:{name}", name)
            try:
                with tracer.span(f"stage:{name}"):
                    return orig_stage(pipe, name, fn, params)
            finally:
                if tracer.tag_jobs:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

        self._patch(Pipeline, "stage", stage)
        orig_write = Catalog.write

        @functools.wraps(orig_write)
        def write(cat, df, table, *a, **kw):
            with tracer.span(f"catalog.write:{table}"):
                return orig_write(cat, df, table, *a, **kw)

        self._patch(Catalog, "write", write)
        for method in ("read", "exists"):
            orig = getattr(Catalog, method)

            def make(orig, method):
                @functools.wraps(orig)
                def wrapper(cat, table, *a, **kw):
                    with tracer.span(f"catalog.{method}:{table}"):
                        return orig(cat, table, *a, **kw)

                return wrapper

            self._patch(Catalog, method, make(orig, method))

        for module_name, names in WRAPPED_FUNCTIONS.items():
            module = importlib.import_module(module_name)
            for fname in names:
                orig = getattr(module, fname)
                if fname == "connected_components":
                    wrapper = self._wrap_cc(orig)
                else:
                    wrapper = self._wrap_fn(orig, f"{module_name.split('.')[-1]}.{fname}")
                self._patch(module, fname, wrapper)

    def _wrap_fn(self, orig, name: str):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        return wrapper

    def _wrap_cc(self, orig):
        """connected_components: span plus its convergence stats and its edge
        DataFrame (counted after the pass, outside every timed span)."""
        tracer = self

        @functools.wraps(orig)
        def wrapper(edges, max_iter=25, stats=None):
            stats = {} if stats is None else stats
            with tracer.span("clustering.connected_components"):
                out = orig(edges, max_iter=max_iter, stats=stats)
            with tracer._lock:
                tracer.cc_stats.append(stats)
                tracer.cc_edges.append(edges)
            return out

        return wrapper

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# -- Spark event log ------------------------------------------------------------

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "true",
    "spark.eventLog.compression.codec": "zstd",
}

# stage accumulable -> (metric suffix, scale to the reported unit)
ACCUMULABLES = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "time to run Python workers": ("python_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1.0),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1.0),
}


def read_event_log(log_dir: str) -> List[dict]:
    """Decode every zstd event-log file under ``log_dir`` (call after the
    SparkContext has stopped, so the compressed stream is complete)."""
    import pyarrow as pa

    events: List[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as stream:
            data = stream.read()
        events.extend(json.loads(line) for line in data.decode().splitlines() if line)
    return events


def stage_counters(events: List[dict], group_prefix: str = "stage:") -> Dict[str, Dict[str, float]]:
    """Sum completed-stage accumulables per job group: {stage name: {metric:
    value}}, plus the number of jobs each group launched."""
    stage_group: Dict[int, str] = {}
    out: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not group.startswith(group_prefix):
                continue
            name = group[len(group_prefix):]
            out[name]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, name)
        elif e.get("Event") == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            name = stage_group.get(info["Stage ID"])
            if name is None:
                continue
            for acc in info.get("Accumulables", []):
                hit = ACCUMULABLES.get(acc.get("Name"))
                if hit is None:
                    continue
                try:
                    out[name][hit[0]] += float(acc["Value"]) * hit[1]
                except (TypeError, ValueError):
                    pass
    return {k: dict(v) for k, v in out.items()}


def memory_peaks(events: List[dict]) -> Dict[str, float]:
    """Largest JVM heap in use, as sampled at task ends, and the largest
    peak execution memory of any one task, over the whole event log."""
    heap = task = 0.0
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        heap = max(heap, float((e.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)))
        task = max(task, float((e.get("Task Metrics") or {}).get("Peak Execution Memory", 0)))
    return {"jvm_heap_bytes": heap, "task_execution_bytes": task}


# -- host telemetry ---------------------------------------------------------------


def read_proc_stat() -> List[int]:
    """Aggregate cpu jiffies: user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_delta(before: List[int], after: List[int]) -> Dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"steal_pct": 100.0 * d[7] / total, "sys_pct": 100.0 * d[2] / total}


def _parents() -> Dict[int, int]:
    """pid -> parent pid of every process."""
    parents: Dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parents[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return parents


def descendants(pid: int, parents: Optional[Dict[int, int]] = None) -> List[int]:
    kids: Dict[int, List[int]] = defaultdict(list)
    for p, ppid in (parents or _parents()).items():
        kids[ppid].append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(pid: int) -> tuple:
    """Summed RSS of ``pid`` and its descendants, and the part of it held by
    descendant Python processes (the Spark Python workers).

    A child the JVM spawns (Hadoop's local file system runs shell commands)
    shares the JVM's memory until it execs, and its RSS then reads as a
    second copy of the whole pre-touched heap. Such a child, still running
    the JVM's executable, is left out."""
    total = workers = 0
    page = os.sysconf("SC_PAGE_SIZE")
    parents = _parents()
    for p in [pid] + descendants(pid, parents):
        exe = _exe(p)
        if p != pid and os.path.basename(exe) == "java" and exe == _exe(parents[p]):
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        total += rss
        if p != pid and os.path.basename(exe).startswith("python"):
            workers += rss
    return total, workers


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the Python
    driver process, the JVM and its Python workers), and the peak of the
    Python workers' share alone."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = self.workers_peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total, workers = tree_rss_bytes(os.getpid())
        self.peak = max(self.peak, total)
        self.workers_peak = max(self.workers_peak, workers)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak
