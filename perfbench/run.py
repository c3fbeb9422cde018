#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the pilsner_spark ER engine.

One invocation runs one workload on ``local[4]`` from one fresh process, as a
closed loop with one client (one pipeline run at a time), checks every
output, and prints one JSON result as the last line of standard output:

    python3 perfbench/run.py --workload er_hard --seed 1 --seconds 1 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that records spans, Spark per-stage counters and serial kernel timings
and reports the per-layer metrics. perfbench/README.md says what each
metric measures and which end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import Optional

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from checks import Ledger, cluster_invariants, digest, fingerprint, known_digests, stream_oracle  # noqa: E402
from tracer import (  # noqa: E402
    EVENTLOG_CONF,
    RssSampler,
    Tracer,
    descendants,
    host_delta,
    memory_peaks,
    read_event_log,
    read_proc_stat,
    stage_counters,
)
from workloads import WORKLOADS, build, kernel_sample, stage_stream, stream_reader  # noqa: E402

CORES = 4
SETUP_REPEATS = 3
RESUME_REPEATS = 3
# a repeatable timed operation whose window saw more steal than this is run
# again, at most MAX_RETRIES times per benchmark run
STEAL_RETRY_PCT = 5.0
MAX_RETRIES = 2
MIN_F1 = 0.99
# a traced run fails a check when its stage spans cover less of the traced
# pipeline wall than this
MIN_STAGE_COVERAGE = 0.9

STAGES = [
    "turns_normalized",
    "mentions",
    "blocks_raw",
    "blocks",
    "scored_pairs",
    "jw_scores",
    "entity_clusters",
]
# stages whose Python UDF time is reported; jw_scores is left out because
# its UDF sees no rows when a corpus has no undecided pairs (er_synth)
PYTHON_STAGES = ["turns_normalized", "mentions"]

END_TO_END = {
    "turns_per_s": "1/s",
    "resume_s": "s",
    "setup_s": "s",
    "peak_rss_gb": "GB",
}


def per_layer_units() -> dict:
    units = {}
    for s in STAGES:
        units[f"pipeline.{s}.wall_s"] = "s"
        units[f"pipeline.{s}.driver_s"] = "s"
        units[f"catalog.{s}.write_s"] = "s"
        units[f"catalog.{s}.bytes"] = "bytes"
        units[f"spark.{s}.cpu_s"] = "s"
        units[f"spark.{s}.run_s"] = "s"
        if s in PYTHON_STAGES:
            units[f"spark.{s}.python_s"] = "s"
        units[f"spark.{s}.shuffle_bytes"] = "bytes"
        units[f"spark.{s}.jobs"] = "count"
    units.update(
        {
            "spark.spill_bytes": "bytes",
            "catalog.resume_s": "s",
            "kernel.normalize_us_per_turn": "us",
            "kernel.extract_mentions_us_per_turn": "us",
            "kernel.jaro_winkler_us_per_pair": "us",
            "turns_normalized.boundary_ratio": "ratio",
            "mentions.boundary_ratio": "ratio",
            "blocking.block_rows": "count",
            "blocking.salted_keys": "count",
            "blocking.pairs_full": "count",
            "scoring.pairs_per_s": "1/s",
            "scoring.undecided_rows": "count",
            "scoring.live_ratio": "ratio",
            "clustering.wall_s": "s",
            "clustering.iterations": "count",
            "clustering.edge_rows": "count",
            "stream.batch_wall_s": "s",
            "stream.rows_written": "count",
            "stream.bytes_written": "bytes",
            "stream.buckets_rewritten": "count",
            "stream.mini_vertices": "count",
            "memory.jvm_heap_peak_gb": "GB",
            "memory.task_execution_peak_bytes": "bytes",
            "memory.python_workers_peak_gb": "GB",
            "trace.overhead_ratio": "ratio",
            "trace.stage_coverage": "ratio",
            "host.steal_pct": "%",
            "host.sys_pct": "%",
            "host.retries": "count",
        }
    )
    return units


PER_LAYER = per_layer_units()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument(
        "--seconds", type=float, required=True,
        help="measured window: pipeline runs repeat until it has elapsed (at least one run)",
    )
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="corpus size factor (smaller for smoke tests)")
    p.add_argument(
        "--perturb",
        action="store_true",
        help="negative control: alter one cluster row of the run's final output before it is checked",
    )
    return p.parse_args(argv)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                pass
    return total


def cluster_rows(df):
    return [(r[0], r[1]) for r in df.select("turn_key", "cluster_id").collect()]


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.work = work
        self.spark = None
        self.host = []
        self.retries = 0
        self._dirs = 0
        self._entities = None
        fp = fingerprint(self.spec, args.scale)
        self.known = known_digests(args.workload, fp).get(str(args.seed))
        self.ledger = Ledger({"batch": self.known} if self.known else None)
        self.detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "scale": args.scale, "fingerprint": fp,
        }

    # -- session ---------------------------------------------------------------

    def start_session(self, eventlog: bool) -> float:
        start = time.perf_counter()
        from pilsner_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if eventlog:
            self.eventlog_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(EVENTLOG_CONF)
            conf["spark.eventLog.dir"] = "file://" + self.eventlog_dir
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", cpus=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - start

    def stop_session(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run started."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                try:
                    gateway.shutdown()
                except Exception:
                    pass
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                try:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                except Exception:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            wait_for_children()

    def new_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{tag}-{self._dirs}")

    # -- timing ----------------------------------------------------------------

    def timed(self, fn, retry: bool = True):
        """(wall seconds, result) of ``fn()``. The /proc/stat window of every
        attempt is kept; a repeatable attempt that saw high steal is run again."""
        while True:
            before = read_proc_stat()
            start = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - start
            h = host_delta(before, read_proc_stat())
            self.host.append(h)
            if not retry or self.retries >= MAX_RETRIES or h["steal_pct"] <= STEAL_RETRY_PCT:
                return wall, out
            self.retries += 1

    def setup(self, repeats: int = SETUP_REPEATS) -> float:
        """Corpus synthesis + materialization, repeated; the median seconds."""
        walls = []
        for _ in range(repeats):
            start = time.perf_counter()
            self.corpus = build(self.spark, self.spec, self.args.seed, self.args.scale)
            walls.append(time.perf_counter() - start)
        self.detail["setup_walls"] = walls
        return statistics.median(walls)

    # -- operations ------------------------------------------------------------

    def batch_pass(self, retry: bool = True, tracer: Optional[Tracer] = None):
        from pilsner_spark.plans.pipeline import run_er_pipeline

        wd = self.new_dir("batch")

        def go():
            if tracer is not None:
                tracer.reset()  # a retried attempt replaces the spans of the one before
            shutil.rmtree(wd, ignore_errors=True)
            return run_er_pipeline(self.spark, wd, self.corpus.transcripts, model=self.corpus.model)

        wall, result = self.timed(go, retry)
        return wall, result, wd

    def batch_resume(self, wd: str):
        """Run the pipeline again on a completed workdir and read the cluster
        table back."""
        from pilsner_spark.plans.pipeline import run_er_pipeline

        def go():
            result = run_er_pipeline(self.spark, wd, self.corpus.transcripts, model=self.corpus.model)
            return cluster_rows(result["clusters"])

        return self.timed(go)

    def stream_op(self, wd: str, file_idx: int):
        """Deliver staged file ``file_idx`` and run the query on the workdir's
        checkpoint until it has processed all available input. Never retried:
        the first attempt consumes the delivered file."""
        from pilsner_spark.streaming.mentions_stream import incremental_cluster_assignments

        self.staged.deliver(file_idx)

        def go():
            q = incremental_cluster_assignments(
                stream_reader(self.spark, self.staged), self.corpus.model, wd, os.path.join(wd, "_checkpoint")
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

        wall, _ = self.timed(go, retry=False)
        return wall

    # -- checks ----------------------------------------------------------------

    def check(self, kind: str, label: str, rows, problems=(), last: bool = False) -> None:
        """Record one output; ``last`` marks the run's final output, the one
        ``--perturb`` alters."""
        if last and self.args.perturb and rows:
            k, c = rows[0]
            rows = [(k, c + "#perturbed")] + rows[1:]
        self.ledger.record(kind, label, rows, problems)

    def check_batch(self, label: str, result) -> None:
        rows = cluster_rows(result["clusters"])
        self.check("batch", label, rows, cluster_invariants(rows, self.corpus.n_turns))

    def f1_audit(self, result) -> None:
        """Pairwise F1 >= MIN_F1 on labeled pairs, overall and on the hard
        slice when one is planted (outside every timed window)."""
        from pilsner_spark.plans.pipeline import evaluate_f1

        scores = evaluate_f1(result["pairs_all"], result["clusters"], self.corpus.transcripts)
        hard = scores.get("hard_slice") or {}
        self.detail["f1"] = {"f1": scores["f1"], "hard_f1": hard.get("f1"), "labeled_pairs": scores["labeled_pairs"]}
        problems = []
        if scores["f1"] is None or scores["f1"] < MIN_F1:
            problems.append(f"pairwise F1 {scores['f1']} < {MIN_F1}")
        if self.spec["hard_every"] and (hard.get("f1") is None or hard["f1"] < MIN_F1):
            problems.append(f"hard-slice F1 {hard.get('f1')} < {MIN_F1}")
        self.ledger.audit("f1", problems)

    def check_stream(self, label: str, wd: str, upto: int) -> None:
        """The assignment table after files 0..upto must equal a full
        recompute over those files: the serial mention kernel on every turn,
        then union-find (checks.stream_oracle)."""
        if self._entities is None:
            from pilsner_spark.core.parse import extract_mentions

            model = self.corpus.model
            self._entities = [
                [(key, [e for m in extract_mentions(model, text) for e in m.entity_ids] if text else []) for key, text in f]
                for f in self.staged.texts
            ]
        kind = f"stream-files-0-{upto}"
        if kind not in self.ledger.references:
            expected = stream_oracle(item for f in self._entities[: upto + 1] for item in f)
            self.ledger.references[kind] = digest(expected)
        rows = cluster_rows(self.spark.read.parquet(os.path.join(wd, "stream_entity_clusters")))
        self.check(kind, label, rows)

    # -- trace 0: end-to-end ---------------------------------------------------

    def run_end_to_end(self) -> dict:
        sampler = RssSampler()
        sampler.start()
        try:
            session_s = self.start_session(eventlog=False)
            setup_s = session_s + self.setup()
            n_turns = self.corpus.n_turns
            # the window opens with the session's first pipeline run, what a
            # spark-submit user pays every time; it is not retried, since a
            # repeat would no longer be a first run. A single warm run is no
            # steadier: the JIT is still warming over the next few runs.
            walls = []
            start = time.perf_counter()
            while not walls or time.perf_counter() - start < self.args.seconds:
                if walls:
                    shutil.rmtree(wd, ignore_errors=True)
                wall, result, wd = self.batch_pass(retry=bool(walls))
                walls.append(wall)
                self.check_batch(f"run{len(walls)}", result)
                if len(walls) == 1:
                    self.f1_audit(result)
            resumes = []
            for i in range(RESUME_REPEATS):
                wall, rows = self.batch_resume(wd)
                self.check("batch", f"resume{i}", rows, last=i == RESUME_REPEATS - 1)
                resumes.append(wall)
        finally:
            peak = sampler.stop()
        self.detail.update(n_turns=n_turns, session_s=session_s, walls=walls, resume_walls=resumes)
        return {
            "turns_per_s": n_turns / statistics.median(walls),
            "resume_s": statistics.median(resumes),
            "setup_s": setup_s,
            "peak_rss_gb": peak / 2**30,
        }

    # -- trace 1: per layer ------------------------------------------------------

    def run_traced(self) -> dict:
        """The traced passes, then the Spark per-stage counters and memory
        peaks from the event log, read once the session has stopped."""
        sampler = RssSampler()
        sampler.start()
        try:
            m = self.traced_passes()
        finally:
            sampler.stop()
        self.stop_session()
        events = read_event_log(self.eventlog_dir)
        counters = stage_counters(events)
        spill = 0.0
        for s in STAGES:
            c = counters.get(s, {})
            for key in ("cpu_s", "run_s", "shuffle_bytes", "jobs") + (("python_s",) if s in PYTHON_STAGES else ()):
                m[f"spark.{s}.{key}"] = c.get(key, 0.0)
            spill += c.get("spill_bytes", 0.0)
        m["spark.spill_bytes"] = spill
        peaks = memory_peaks(events)
        m["memory.jvm_heap_peak_gb"] = peaks["jvm_heap_bytes"] / 2**30
        m["memory.task_execution_peak_bytes"] = peaks["task_execution_bytes"]
        m["memory.python_workers_peak_gb"] = sampler.workers_peak / 2**30
        m["host.steal_pct"] = max(h["steal_pct"] for h in self.host)
        m["host.sys_pct"] = statistics.median(h["sys_pct"] for h in self.host)
        m["host.retries"] = self.retries
        self.detail["stage_counters"] = counters
        return m

    def traced_passes(self) -> dict:
        """The batch pipeline: first run, untraced run, traced run (spans +
        Spark job groups) and traced resume. Then the same corpus as a
        stream: file 0 as warm-up, file 1 (with bridge turns) traced."""
        self.start_session(eventlog=True)
        self.setup(repeats=1)  # setup_s is not a per-layer metric
        n_turns = self.corpus.n_turns
        m = {}

        # the first run is traced for its stage shares only (no job groups,
        # so the Spark counters below are the traced warm run's)
        ft = Tracer(self.spark, tag_jobs=False)
        ft.install()
        try:
            first_s, result, wd = self.batch_pass(retry=False, tracer=ft)
        finally:
            ft.uninstall()
        self.check_batch("first", result)
        self.detail["first_run_s"] = first_s
        self.detail["stage_share_first_run"] = {
            s: sum(x.seconds for x in ft.spans if x.name == f"stage:{s}") / first_s for s in STAGES
        }
        shutil.rmtree(wd, ignore_errors=True)
        untraced_s, result, wd = self.batch_pass()
        self.check_batch("untraced", result)
        shutil.rmtree(wd, ignore_errors=True)
        bt = Tracer(self.spark)
        bt.install()
        try:
            traced_s, result, wd = self.batch_pass(tracer=bt)
        finally:
            bt.uninstall()
        self.check_batch("traced", result)
        rt = Tracer(self.spark, tag_jobs=False)
        rt.install()
        try:
            _w, rows = self.batch_resume(wd)
        finally:
            rt.uninstall()
        self.check("batch", "resume", rows, last=True)
        m.update(self.batch_layers(bt, rt, result, wd, traced_s))
        self.ledger.audit(
            "trace.stage_coverage",
            [f"stage spans cover {m['trace.stage_coverage']:.3f} of the traced wall, below {MIN_STAGE_COVERAGE}"]
            if m["trace.stage_coverage"] < MIN_STAGE_COVERAGE else [],
        )
        self.detail["spans"] = {"batch": bt.totals(), "resume": rt.totals()}
        m["clustering.wall_s"] = sum(s.seconds for s in bt.named("clustering.connected_components"))
        m["clustering.iterations"] = sum(int(s.get("iterations", 0)) for s in bt.cc_stats)
        m["clustering.edge_rows"] = sum(e.count() for e in bt.cc_edges)
        m["trace.overhead_ratio"] = traced_s / untraced_s
        shutil.rmtree(wd, ignore_errors=True)

        self.staged = stage_stream(self.corpus, self.spec, self.args.seed, os.path.join(self.work, "input"))
        swd = self.new_dir("stream")
        self.stream_op(swd, 0)
        self.check_stream("file0", swd, 0)
        st = Tracer(self.spark, tag_jobs=False)
        st.install()
        try:
            self.stream_op(swd, 1)
        finally:
            st.uninstall()
        self.check_stream("file1", swd, 1)
        m.update(self.stream_layers(swd, 1))
        self.detail["spans"]["stream"] = st.totals()
        # the bridge turns must make the traced micro-batch take the remap
        # path (bucket deletes plus re-appends)
        self.ledger.audit(
            "stream.buckets_rewritten",
            [] if m["stream.buckets_rewritten"] > 0 else ["the traced micro-batch rewrote no bucket"],
        )
        m.update(self.kernel_layers(m, n_turns))
        return m

    def batch_layers(self, bt: Tracer, rt: Tracer, result, wd: str, wall: float) -> dict:
        m = {}
        covered = 0.0
        for s in STAGES:
            spans = [x for x in bt.spans if x.name == f"stage:{s}"]
            if len(spans) != 1:
                raise RuntimeError(f"expected one span for stage {s}, got {len(spans)}")
            span = spans[0]
            writes = [c for c in bt.spans if c.parent is span and c.name.startswith("catalog.write")]
            m[f"pipeline.{s}.wall_s"] = span.seconds
            m[f"pipeline.{s}.driver_s"] = bt.self_seconds(span, "catalog.write")
            m[f"catalog.{s}.write_s"] = sum(c.seconds for c in writes)
            m[f"catalog.{s}.bytes"] = dir_bytes(os.path.join(wd, s))
            covered += span.seconds
        m["trace.stage_coverage"] = covered / wall
        self.detail["stage_share_warm_run"] = {s: m[f"pipeline.{s}.wall_s"] / wall for s in STAGES}
        m["catalog.resume_s"] = sum(s.seconds for s in rt.spans if s.name.startswith(("catalog.exists", "catalog.read")))
        metrics = result["metrics"]
        sp = metrics["scored_pairs"]
        pairs_full = int(sp.get("pairs_full", sp.get("rows", 0)))
        undecided, shared = int(sp.get("undecided_rows", 0)), int(sp.get("shared_rows", 0))
        m["blocking.block_rows"] = int(metrics["blocks"]["rows"])
        m["blocking.salted_keys"] = int((metrics.get("blocking_salted_keys") or {}).get("count", 0))
        m["blocking.pairs_full"] = pairs_full
        m["scoring.pairs_per_s"] = pairs_full / m["pipeline.scored_pairs.wall_s"]
        m["scoring.undecided_rows"] = undecided
        m["scoring.live_ratio"] = (undecided + shared) / pairs_full if pairs_full else 0.0
        self.detail["batch_traced_s"] = wall
        return m

    def stream_layers(self, wd: str, file_idx: int) -> dict:
        """The program's own record of the micro-batch that read staged file
        ``file_idx`` (one file per trigger, so batch id == file index)."""
        with open(os.path.join(wd, "stream_cluster_metrics.jsonl")) as f:
            lines = [json.loads(line) for line in f if line.strip()]
        self.detail["stream_batches"] = lines
        b = lines[file_idx]
        return {
            "stream.batch_wall_s": b["wall_seconds"],
            "stream.rows_written": b["rows_written"],
            "stream.bytes_written": b["bytes_written"],
            "stream.buckets_rewritten": b["buckets_rewritten"],
            "stream.mini_vertices": b["mini_vertices"],
        }

    def kernel_layers(self, m: dict, n_turns: int) -> dict:
        """Serial kernel cost on a fixed seeded sample of the workload's
        turns, and the Spark stage's cost relative to it."""
        from pilsner_spark.core.normalize import normalize_with_map
        from pilsner_spark.core.parse import extract_mentions
        from pilsner_spark.functions.similarity import jaro_winkler

        model = self.corpus.model
        cfg, sep = model.normalizers[model.default_normalizer], model.word_separator
        texts = kernel_sample(self.corpus, self.args.seed)
        normed = [normalize_with_map(t, cfg, sep).normalized for t in texts]
        pairs = list(zip(normed, normed[1:]))

        def per_item_us(fn, items):
            reps = []
            for _ in range(3):
                start = time.perf_counter()
                for item in items:
                    fn(item)
                reps.append((time.perf_counter() - start) / len(items) * 1e6)
            return statistics.median(reps)

        norm_us = per_item_us(lambda t: normalize_with_map(t, cfg, sep), texts)
        scan_us = per_item_us(lambda t: extract_mentions(model, t), texts)
        jw_us = per_item_us(lambda p: jaro_winkler(*p), pairs)
        return {
            "kernel.normalize_us_per_turn": norm_us,
            "kernel.extract_mentions_us_per_turn": scan_us,
            "kernel.jaro_winkler_us_per_pair": jw_us,
            "turns_normalized.boundary_ratio": m["pipeline.turns_normalized.wall_s"] * CORES / (norm_us * 1e-6 * n_turns),
            "mentions.boundary_ratio": m["pipeline.mentions.wall_s"] * CORES / (scan_us * 1e-6 * n_turns),
        }

    # -- entry -------------------------------------------------------------------

    def run(self) -> dict:
        units = END_TO_END if self.args.trace == 0 else PER_LAYER
        try:
            values = self.run_end_to_end() if self.args.trace == 0 else self.run_traced()
        finally:
            self.stop_session()
        missing = sorted(set(units) - set(values))
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        self.detail.update(
            digests={k: sorted(set(v)) for k, v in self.ledger.digests.items()},
            known_digest=self.known,
            problems=self.ledger.problems,
            retries=self.retries,
            host=self.host,
        )
        return {
            "correct": self.ledger.failed == 0,
            "attempted": self.ledger.attempted,
            "failed": self.ledger.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }


def wait_for_children(timeout: float = 30.0) -> None:
    """Wait until no process started by this one is left; kill stragglers."""
    import signal

    deadline = time.time() + timeout
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``. The session gets the
    engine's own default driver memory (its pre-touched heap), whatever the
    calling environment sets."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pilsner_spark", "__init__.py")):
        print(f"perfbench: no pilsner_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    bench = Bench(args, work)
    try:
        result = bench.run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's workdir is still there
    print(json.dumps(bench.detail, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
