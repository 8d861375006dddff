"""The benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload curate_sa --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  It generates the workload's
inputs from the seed into its own directory under ``.perfbench_work/``,
starts a fresh worker process that imports the engine from the checkout,
and checks every config run's output against an independent reference.
The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it is a JSON detail record
(pinned settings, every sample, the host probe).

Run discipline:

- cores and heap are pinned (``SPARK_GRAFT_CPUS``, at most 4;
  ``SPARK_GRAFT_DRIVER_MEM=2g``) and recorded;
- ``setup_s`` is timed from just before the fresh worker process is
  started to its ready session;
- each workload runs a fixed warm-up before timing (see
  ``workloads.WORKLOADS``); the first run in a fresh JVM is reported by
  the traced run only;
- input generation, output deletion and checks stay outside every timer.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

DRIVER_MEM = "2g"
MAX_CPUS = 4
# an invocation must end within 180 s
STOP_STARTING_RUNS_S = 140
HARD_LIMIT_S = 172

END_TO_END_UNITS = {
    "setup_s": "s",
    "warm_cpu_s": "s",
    "retained_mb": "MB",
    "success_rate": "ratio",
}


def pinned_cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def worker_env(rundir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(rundir, "tmp")
    local = os.path.join(rundir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(pinned_cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # every JVM the worker starts keeps its temporary files in the
        # checkout (no hsperfdata under /tmp)
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        PYSPARK_PYTHON=sys.executable,
    )
    return env


def _group_members(pgid: int) -> list[int]:
    """Live (not zombie) processes in process group ``pgid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def stop_group(pgid: int) -> None:
    """Kill every process left in the worker's process group (the JVM
    and its Python workers) and wait until all have ended.  The worker
    has written its result and closed its outputs by then, so nothing
    is lost."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while _group_members(pgid):
        time.sleep(0.05)


def run_worker(rundir: str, args: list[str], timeout: float) -> tuple[dict, float]:
    """Run ``worker.py`` in a fresh process (its own process group) and
    return its result with the monotonic time it was started at."""
    result_path = os.path.join(rundir, "result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--result", result_path, *args]
    cwd = os.path.join(rundir, "cwd")
    os.makedirs(cwd, exist_ok=True)
    env = worker_env(rundir)
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"worker exited with {code if code is not None else 'a timeout'}")
    with open(result_path) as fh:
        result = json.load(fh)
    os.remove(result_path)
    return result, t0


def check_runs(runs: list[dict], check) -> tuple[int, list[str]]:
    """Count runs that returned and whose output the checker accepts."""
    ok, problems = 0, []
    for i, r in enumerate(runs):
        reason = r["error"].splitlines()[-1] if r["error"] else None
        if reason is None:
            reason = check(r["dir"]) if os.path.isdir(r["dir"]) else "no output written"
        if reason is None:
            ok += 1
        else:
            problems.append(f"run {i} ({r['phase']}): {reason}")
        shutil.rmtree(r["dir"], ignore_errors=True)
    return ok, problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "chewdata_spark", "__init__.py")):
        print(f"no chewdata_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    # everything one invocation writes, inputs included
    rundir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    out = os.path.join(rundir, "out")
    os.makedirs(out)
    data = wl.rows(args.seed)
    inputs = wl.write(data, os.path.join(rundir, "inputs"))
    checker = wl.checker(data, inputs)
    del data
    prepare_s = time.monotonic() - start
    common = ["--workload", args.workload, "--inputs", json.dumps(inputs), "--out", out,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--deadline", str(start + STOP_STARTING_RUNS_S)]
    try:
        res, t0 = run_worker(rundir, common, start + HARD_LIMIT_S - time.monotonic())
        setup_s = res["ready"] - t0
        worker_s = time.monotonic() - t0
        t_check = time.monotonic()
        ok, problems = check_runs(res["runs"], checker)
        check_s = time.monotonic() - t_check
    except (RuntimeError, OSError, KeyError, ValueError) as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    for p in problems:
        print(p, file=sys.stderr)

    attempted = len(res["runs"])
    if not attempted:
        print("benchmark failed: no config run finished before the deadline", file=sys.stderr)
        return 1
    if args.trace:
        metrics = layer_metrics(res)
        spans_path = os.path.join(WORK, "spans", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as fh:
            json.dump(res["trace"]["spans"], fh, indent=1)
    else:
        values = {
            "setup_s": setup_s,
            "warm_cpu_s": res["warm_cpu_s"],
            "retained_mb": res["memory_mb"]["retained"],
            "success_rate": ok / attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": pinned_cpus(), "driver_mem": DRIVER_MEM,
        "setup_s": setup_s, "import_s": res["import_s"],
        "get_spark_s": res["get_spark_s"], "warmup_s": res["warmup_s"],
        "timed_s": res.get("timed_s"), "warm_s": res.get("warm_s"),
        "records_per_s": wl.records / res["warm_s"] if "warm_s" in res else None,
        "cpu_warmup_s": res.get("cpu_warmup_s"), "cpu_timed_s": res.get("cpu_timed_s"),
        "host_probe_s": res["host_probe_s"],
        "memory_mb": res["memory_mb"],
        "steal_share": res.get("steal_share"),
        "problems": problems, "prepare_s": prepare_s, "worker_s": worker_s,
        "check_s": check_s, "wall_s": time.monotonic() - start,
        "spans": spans_path if args.trace else None,
    }
    print(json.dumps(detail))
    print(json.dumps({"correct": ok == attempted, "attempted": attempted,
                      "failed": attempted - ok, "metrics": metrics}))
    return 0


def layer_metrics(res: dict) -> dict:
    import tracing

    values = dict(res["trace"]["metrics"])
    values.update({
        "session.import_s": res["import_s"],
        "session.get_spark_s": res["get_spark_s"],
        "warmup.first_run_s": res["warmup_s"][0],
        "host.probe_s": res["host_probe_s"],
        "mem.heap_peak_mb": res["memory_mb"]["heap_peak"],
        "mem.non_heap_peak_mb": res["memory_mb"]["non_heap_peak"],
        "mem.python_peak_mb": res["memory_mb"]["python_peak"],
    })
    return {name: {"value": values.get(name, 0), "unit": unit}
            for name, unit in tracing.LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())
