"""Traced mode: per-layer metrics, measured from outside the engine.

The engine is not edited.  Four sources, all read from this process:

- spans from wrappers around the layers' public functions, patched on
  the module that the caller looks the name up in (``pipeline.py``
  imports ``apply_actions``, ``apply_rules``, ``read_document`` and
  ``write_document`` at module load; the suffix-array functions are
  imported at call time, so patching their defining module suffices);
- Spark jobs counted per job group through ``statusTracker``;
- Spark's own event log (uncompressed, not rolling), parsed after the
  session stops, for everything that ran inside a time window,
  streaming jobs included;
- a ``StreamingQueryListener`` for micro-batch durations and state.

The suffix-array wrappers see only the work done while the plan is
built; the lazy tail of that work shows up in ``pipeline.exec_s``.

Phases, after the same warm-up as the timed run:

1. plain runs: wall time, event-log metrics, JVM GC, stream progress;
2. one run with the span wrappers installed (the overhead of tracing
   is its time over the plain runs' median);
3. compile (``Pipeline.dataframe()``) then execute (a ``noop`` sink);
4. the step ladder: each prefix of the step list is forced with a
   ``noop`` sink (a drained stream on a streaming config) and writer
   rungs write for real; a step's self time is its rung's time minus
   the previous rung's.
"""

from __future__ import annotations

import copy
import functools
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PLAIN_RUNS = 2

LAYER_UNITS = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "warmup.first_run_s": "s",
    "pipeline.compile_s": "s",
    "pipeline.compile_jobs": "count",
    "pipeline.exec_s": "s",
    "pipeline.exec_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_stage": "ratio",
    "spark.in_job_s": "s",
    "spark.driver_gap_s": "s",
    "spark.busy_cores": "cores",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "documents.read_s": "s",
    "documents.write_s": "s",
    "documents.bytes_written": "bytes",
    "transformer.s": "s",
    "validator.s": "s",
    "curate.s": "s",
    "ladder.remainder_s": "s",
    "text.normalize_text_s": "s",
    "dedup.dedup_lines_global_s": "s",
    "suffix.repeat_spans_sa_tiled_s": "s",
    "suffix.repeat_spans_sa_tiled_jobs": "count",
    "suffix.sa_contamination_scores_s": "s",
    "suffix.sa_contamination_scores_jobs": "count",
    "curation.sa_curate_corpus_s": "s",
    "curation.sa_curate_corpus_jobs": "count",
    "jvm.gc_s": "s",
    "jvm.heap_used_mb": "MB",
    "mem.heap_peak_mb": "MB",
    "mem.non_heap_peak_mb": "MB",
    "mem.python_peak_mb": "MB",
    "host.probe_s": "s",
    "trace.plain_warm_s": "s",
    "trace.traced_warm_s": "s",
    "trace.overhead_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_max_ms": "ms",
    "streaming.add_batch_p50_ms": "ms",
    "streaming.planning_p50_ms": "ms",
    "streaming.commit_p50_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
}

# (module, attribute, span name); the span name is also the metric stem
WRAPPED = [
    ("chewdata_spark.pipeline", "read_document", "documents.read_document"),
    ("chewdata_spark.pipeline", "write_document", "documents.write_document"),
    ("chewdata_spark.sources.documents", "write_document", "documents.write_document"),
    ("chewdata_spark.pipeline", "apply_actions", "transformer.apply_actions"),
    ("chewdata_spark.pipeline", "apply_rules", "validator.apply_rules"),
    ("chewdata_spark.operators.text", "normalize_text", "text.normalize_text"),
    ("chewdata_spark.operators.dedup", "dedup_lines_global", "dedup.dedup_lines_global"),
    ("chewdata_spark.operators.suffix", "repeat_spans_sa_tiled", "suffix.repeat_spans_sa_tiled"),
    ("chewdata_spark.operators.suffix", "sa_contamination_scores",
     "suffix.sa_contamination_scores"),
    ("chewdata_spark.operators.curation", "sa_curate_corpus", "curation.sa_curate_corpus"),
]
# spans reported as metrics: seconds for all, jobs for these
SPAN_SECONDS = ("text.normalize_text", "dedup.dedup_lines_global",
                "suffix.repeat_spans_sa_tiled", "suffix.sa_contamination_scores",
                "curation.sa_curate_corpus")
SPAN_JOBS = ("suffix.repeat_spans_sa_tiled", "suffix.sa_contamination_scores",
             "curation.sa_curate_corpus")

# the metric each step's ladder rung is reported under
RUNG_METRIC = {"reader": "documents.read_s", "transformer": "transformer.s",
               "validator": "validator.s", "curate": "curate.s",
               "writer": "documents.write_s"}


def event_log_conf(directory: str) -> dict:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        # no zstd module is available to read the default compressed log
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class StreamListener(StreamingQueryListener):
    """Keeps the id of every query run started and every micro-batch's
    progress as a plain dict."""

    def __init__(self):
        self.started: list[str] = []
        self.progress: list[dict] = []

    @classmethod
    def attach(cls, spark) -> "StreamListener":
        listener = cls()
        spark.streams.addListener(listener)
        return listener

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append({
            "run": str(p.runId),
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def settle(self, timeout: float = 3.0) -> None:
        """Progress events arrive asynchronously: wait until none has
        arrived for half a second."""
        end = time.monotonic() + timeout
        n = -1
        while n != len(self.progress) and time.monotonic() < end:
            n = len(self.progress)
            time.sleep(0.5)


class Spans:
    """Records a span around each wrapped call: name, start, end,
    parent span, and the Spark jobs of the current job group launched
    inside it."""

    def __init__(self, sc, group: str):
        self.sc = sc
        self.group = group
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def jobs(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = {"id": len(self.spans), "name": name,
                    "parent": self._stack[-1]["id"] if self._stack else None,
                    "start": time.perf_counter()}
            self.spans.append(span)
            self._stack.append(span)
            before = self.jobs()
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                span["jobs"] = sorted(self.jobs() - before)
                self._stack.pop()
        return wrapper

    @contextmanager
    def installed(self):
        import importlib

        saved = []
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, self.wrap(name, getattr(mod, attr)))
        try:
            yield self
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def finished(self) -> list[dict]:
        """Spans with duration, self time and self jobs (time and jobs
        not covered by child spans)."""
        out = []
        for s in self.spans:
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            dur = s["end"] - s["start"]
            kid_jobs = {j for c in kids for j in c["jobs"]}
            out.append({**s, "s": dur,
                        "self_s": dur - sum(c["end"] - c["start"] for c in kids),
                        "self_jobs": sorted(set(s["jobs"]) - kid_jobs)})
        return out


@contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000


def jvm_heap_used_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def ladder_self_times(rungs: list[tuple[str, float]], full_s: float) -> dict:
    """Self time per rung (its time minus the previous rung's) plus
    ``ladder.remainder_s``, the part of ``full_s`` the top rung does not
    reach.  Self times of rungs sharing a metric name add up, so the
    values always sum to ``full_s``."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, t in rungs:
        out[name] = out.get(name, 0.0) + (t - prev)
        prev = t
    out["ladder.remainder_s"] = full_s - prev
    return out


def ladder_rungs(steps: list[dict]) -> list[str]:
    return [RUNG_METRIC[s["type"]] for s in steps]


def drain(pipe, df, checkpoint: str) -> None:
    """Run ``df`` into a ``noop`` sink: a batch write, or a stream
    drained of the files available now."""
    if df.isStreaming:
        (df.writeStream.format("noop").outputMode(pipe.stream_output_mode)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start().awaitTermination())
    else:
        df.write.format("noop").mode("overwrite").save()


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _stream_metrics(progress_by_run: list[list[dict]]) -> dict:
    batches = [[p for p in run if p["rows"] > 0] for run in progress_by_run]
    every = [p for run in batches for p in run]
    if not every:
        return {}
    last = batches[-1][-1] if batches[-1] else every[-1]

    def dur(key):
        return [p["duration_ms"].get(key, 0) for p in every]

    return {
        "streaming.batches": _p50([len(b) for b in batches]),
        "streaming.batch_p50_ms": _p50(dur("triggerExecution")),
        "streaming.batch_max_ms": max(dur("triggerExecution")),
        "streaming.add_batch_p50_ms": _p50(dur("addBatch")),
        "streaming.planning_p50_ms": _p50(dur("queryPlanning")),
        "streaming.commit_p50_ms": _p50(dur("commitOffsets")),
        "streaming.state_rows": last["state_rows"],
        "streaming.state_mb": last["state_bytes"] / 2**20,
    }


def traced_phases(spark, runner, listener: StreamListener, wl, inputs: dict,
                  deadline: float) -> dict:
    from chewdata_spark.pipeline import Pipeline

    sc = spark.sparkContext
    metrics: dict[str, float] = {}
    windows: dict[str, list] = {}

    # 1. plain runs
    plain, gc = [], []
    for i in range(PLAIN_RUNS):
        g0 = jvm_gc_s(spark)
        plain.append(runner.once("traced-plain"))
        gc.append(jvm_gc_s(spark) - g0)
        run = runner.runs[-1]
        windows[f"plain{i}"] = [run["start_ms"], run["end_ms"], run["s"]]
    metrics["trace.plain_warm_s"] = _p50(plain)
    metrics["jvm.gc_s"] = _p50(gc)
    metrics["jvm.heap_used_mb"] = jvm_heap_used_mb(spark)
    metrics["documents.bytes_written"] = runner.runs[-1]["bytes"]
    if wl.stream:
        listener.settle()
        # each config run starts one query: the plain runs started last
        plain_ids = listener.started[-PLAIN_RUNS:]
        metrics.update(_stream_metrics(
            [[p for p in listener.progress if p["run"] == rid] for rid in plain_ids]))

    # 2. one run with the span wrappers, in its own job group
    spans = Spans(sc, "perfbench-spans")
    with spans.installed(), job_group(sc, spans.group):
        metrics["trace.traced_warm_s"] = runner.once("traced-spans")
    metrics["trace.overhead_ratio"] = metrics["trace.traced_warm_s"] / metrics["trace.plain_warm_s"]
    finished = spans.finished()
    for name in SPAN_SECONDS:
        mine = [s for s in finished if s["name"] == name]
        metrics[f"{name}_s"] = sum(s["s"] for s in mine)
        if name in SPAN_JOBS:
            metrics[f"{name}_jobs"] = len({j for s in mine for j in s["jobs"]})

    # 3. compile, then execute into a noop sink
    out = os.path.join(runner.out, "phases")
    shutil.rmtree(out, ignore_errors=True)
    cfg = wl.config(inputs, out)
    with job_group(sc, "perfbench-compile"):
        t = time.perf_counter()
        pipe = Pipeline.from_config(cfg, spark)
        df = pipe.dataframe()
        metrics["pipeline.compile_s"] = time.perf_counter() - t
    metrics["pipeline.compile_jobs"] = len(sc.statusTracker().getJobIdsForGroup("perfbench-compile"))
    start_ms = time.time() * 1000
    t = time.perf_counter()
    drain(pipe, df, os.path.join(out, "noop-checkpoint"))
    metrics["pipeline.exec_s"] = time.perf_counter() - t
    windows["exec"] = [start_ms, time.time() * 1000, metrics["pipeline.exec_s"]]

    # 4. step ladder
    if time.monotonic() < deadline:
        steps = wl.steps(inputs, out)
        rungs = []
        for k, name in enumerate(ladder_rungs(steps), start=1):
            shutil.rmtree(out, ignore_errors=True)
            t = time.perf_counter()
            # a copy: Pipeline normalizes its steps in place
            pipe = Pipeline(copy.deepcopy(steps[:k]), spark)
            if steps[k - 1]["type"] == "writer":
                pipe.run()
            else:
                drain(pipe, pipe.dataframe(), os.path.join(out, "noop-checkpoint"))
            rungs.append((name, time.perf_counter() - t))
        metrics.update(ladder_self_times(rungs, metrics["trace.plain_warm_s"]))
    shutil.rmtree(out, ignore_errors=True)
    return {"metrics": metrics, "windows": windows, "spans": finished}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000


def read_event_log(directory: str) -> dict:
    """Jobs, stages and tasks from the (single, finished) event log in
    ``directory``."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    jobs: dict[int, dict] = {}
    stages: list[float] = []
    tasks: list[tuple[float, dict]] = []
    with open(os.path.join(directory, names[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "end": None}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.append(info.get("Submission Time") or info.get("Completion Time") or 0)
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Task Info"]["Launch Time"], ev.get("Task Metrics") or {}))
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def window_metrics(log: dict, start_ms: float, end_ms: float, wall_s: float) -> dict:
    jobs = [j for j in log["jobs"].values() if start_ms <= j["submit"] <= end_ms]
    stages = [s for s in log["stages"] if start_ms <= s <= end_ms]
    tasks = [m for launch, m in log["tasks"] if start_ms <= launch <= end_ms]
    in_job = _union_s([(j["submit"], j["end"] or j["submit"]) for j in jobs])

    def total(path: tuple[str, ...]) -> float:
        acc = 0.0
        for m in tasks:
            v = m
            for key in path:
                v = v.get(key, {}) if isinstance(v, dict) else {}
            acc += v if isinstance(v, (int, float)) else 0
        return acc

    run_s = total(("Executor Run Time",)) / 1000
    mb = 2**20
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.tasks_per_stage": len(tasks) / len(stages) if stages else 0.0,
        "spark.in_job_s": in_job,
        "spark.driver_gap_s": wall_s - in_job,
        "spark.busy_cores": run_s / in_job if in_job else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": total(("Executor CPU Time",)) / 1e9,
        "spark.gc_s": total(("JVM GC Time",)) / 1000,
        "spark.shuffle_write_mb": total(("Shuffle Write Metrics", "Shuffle Bytes Written")) / mb,
        "spark.shuffle_read_mb": (total(("Shuffle Read Metrics", "Remote Bytes Read"))
                                  + total(("Shuffle Read Metrics", "Local Bytes Read"))) / mb,
        "spark.spill_mb": (total(("Memory Bytes Spilled",))
                           + total(("Disk Bytes Spilled",))) / mb,
    }


def event_log_metrics(directory: str, windows: dict) -> dict:
    """Spark-level metrics: the median over the plain runs' windows,
    plus the jobs the ``noop`` execution phase ran."""
    log = read_event_log(directory)
    per_run = [window_metrics(log, *w) for k, w in windows.items() if k.startswith("plain")]
    out = {k: _p50([m[k] for m in per_run]) for k in per_run[0]}
    out["pipeline.exec_jobs"] = window_metrics(log, *windows["exec"])["spark.jobs"]
    return out
