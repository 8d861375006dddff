"""One benchmark process: start a session, warm a workload up, time it.

``run.py`` starts this script in a fresh process for every sample, so
each sample pays for its own interpreter, imports, JVM and JIT warm-up.
The script writes one JSON result file and nothing else to stdout.

Timed window: only ``Pipeline.from_config(cfg, spark).run()``.  Deleting
the previous outputs happens before the clock starts and moving this
run's outputs aside for checking happens after it stops.  ``run.py``
checks them once this process has exited.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

CLOCK_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def host_probe() -> float:
    """A fixed pure-Python loop: a diagnostic of host speed, recorded
    next to the numbers and never used to rescale them."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def status_mb(field: str) -> float:
    """A memory line of this process's ``/proc`` status (``VmHWM``,
    ``VmRSS``) in MB."""
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_cpu_s() -> float:
    """CPU time (user + system) used so far by this process and every
    live process below it (the JVM and its Python workers), including
    children they have reaped.  Time the hypervisor stole is not
    charged to a process, so this does not grow with host steal."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    me, total = os.getpid(), 0
    for pid in ticks:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks[pid]
    return total * CLOCK_TICK_S


def memory_mb(spark) -> dict:
    """The program's memory once the workload is done.

    - ``retained``: what the engine still holds: the JVM's live heap
      after full collections, its non-heap pools in use (metaspace,
      code cache) and this Python process's RSS.
    - ``heap_peak``, ``non_heap_peak``, ``python_peak``: the JVM memory
      pools' peak usage (memory-pool MXBeans, summed per kind) and this
      process's peak RSS.  The heap's peak mostly follows how far the
      G1 collector chose to let each pool grow.
    """
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    out = {"heap_peak": 0.0, "non_heap_peak": 0.0, "python_peak": status_mb("VmHWM")}
    for pool in mf.getMemoryPoolMXBeans():
        kind = "heap_peak" if pool.getType().name() == "HEAP" else "non_heap_peak"
        out[kind] += pool.getPeakUsage().getUsed() / 2**20
    # Finished runs' JVM objects stay reachable until Python drops its
    # py4j proxies (cyclic garbage, freed by gc.collect) and Spark's
    # context cleaner has released what they held, which it does only
    # after a collection: collect until the live heap stops shrinking.
    gc.collect()
    mem = mf.getMemoryMXBean()
    live = float("inf")
    for rounds in range(1, 9):
        jvm.java.lang.System.gc()
        used = mem.getHeapMemoryUsage().getUsed() / 2**20
        if used > live - 1:
            break
        live = used
        time.sleep(0.5)
    out["heap_live"], out["gc_rounds"] = min(live, used), rounds
    out["non_heap"] = mem.getNonHeapMemoryUsage().getUsed() / 2**20
    out["python"] = status_mb("VmRSS")
    out["retained"] = out["heap_live"] + out["non_heap"] + out["python"]
    return out


class Runner:
    """Runs the workload's config and keeps every run's outputs, named
    by run index, for the checker."""

    def __init__(self, spark, Pipeline, wl, inputs: dict, out: str):
        self.spark = spark
        self.Pipeline = Pipeline
        self.run_dir = os.path.join(out, "run")
        self.out = out
        self.cfg = wl.config(inputs, self.run_dir)
        self.runs: list[dict] = []

    def once(self, phase: str) -> float:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        cpu = tree_cpu_s()
        start_ms = time.time() * 1000
        t = time.perf_counter()
        error = None
        try:
            self.Pipeline.from_config(self.cfg, self.spark).run()
        except Exception:  # a failed run is counted, not fatal
            error = traceback.format_exc(limit=3)
            print(error, file=sys.stderr)
        dt = time.perf_counter() - t
        end_ms = time.time() * 1000
        cpu = tree_cpu_s() - cpu
        k = len(self.runs)
        kept = os.path.join(self.out, f"run-{k:03d}")
        if os.path.isdir(self.run_dir):
            os.rename(self.run_dir, kept)
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(kept) for f in files if f.startswith("part-"))
        self.runs.append({"phase": phase, "s": dt, "error": error, "dir": kept,
                          "start_ms": start_ms, "end_ms": end_ms, "cpu_s": cpu,
                          "bytes": written})
        return dt


def timed(runner: Runner, seconds: float, min_runs: int, deadline: float,
          phase: str) -> list[float]:
    """Time runs until ``seconds`` have been measured and at least
    ``min_runs`` runs made, or until ``deadline``."""
    times: list[float] = []
    while (sum(times) < seconds or len(times) < min_runs) and time.monotonic() < deadline:
        times.append(runner.once(phase))
    return times


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True, help="JSON object of input paths")
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--deadline", type=float, required=True,
                    help="time.monotonic() by which to stop starting runs")
    args = ap.parse_args()

    t_import = time.monotonic()
    import chewdata_spark  # noqa: F401
    from chewdata_spark.pipeline import Pipeline
    from chewdata_spark.session import get_spark

    t_session = time.monotonic()
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        import tracing as tr

        conf.update(tr.event_log_conf(os.path.join(args.out, "eventlog")))
    spark = get_spark("perfbench", extra_conf=conf)
    ready = time.monotonic()
    result: dict = {
        "ready": ready,
        "import_s": t_session - t_import,
        "get_spark_s": ready - t_session,
    }

    spark.sparkContext.setLogLevel("ERROR")
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    inputs = json.loads(args.inputs)
    runner = Runner(spark, Pipeline, wl, inputs, args.out)
    listener = tr.StreamListener.attach(spark) if args.trace else None
    result["warmup_s"] = [runner.once("warmup") for _ in range(wl.warmup)]
    if args.trace:
        result["trace"] = tr.traced_phases(spark, runner, listener, wl, inputs, args.deadline)
    else:
        ticks = cpu_ticks()
        result["timed_s"] = timed(runner, args.seconds, wl.min_timed, args.deadline, "timed")
        result["steal_share"] = steal_share(ticks, cpu_ticks())
        result["warm_s"] = statistics.median(result["timed_s"])
        result["cpu_warmup_s"] = [r["cpu_s"] for r in runner.runs if r["phase"] == "warmup"]
        result["cpu_timed_s"] = [r["cpu_s"] for r in runner.runs if r["phase"] == "timed"]
        result["warm_cpu_s"] = statistics.median(result["cpu_timed_s"])
    result["runs"] = runner.runs
    result["host_probe_s"] = host_probe()
    result["memory_mb"] = memory_mb(spark)
    if not args.trace:
        write_result(args.result, result)
        os._exit(0)
    spark.stop()  # closes the event log
    result["trace"]["metrics"].update(tr.event_log_metrics(
        os.path.join(args.out, "eventlog"), result["trace"].pop("windows")))
    write_result(args.result, result)
    return 0


def write_result(path: str, result: dict) -> None:
    with open(path + ".tmp", "w") as fh:
        json.dump(result, fh)
    os.rename(path + ".tmp", path)


if __name__ == "__main__":
    sys.exit(main())
