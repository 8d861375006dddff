"""Interleaved A/B of Spark conf arms on a perfbench workload, in one warm JVM.

    python3 scripts/ab.py --workload curate_sa --seed 71 --rounds 8 \
        --arm on:spark.sql.codegen.useIdInClassName=true \
        --arm off:spark.sql.codegen.useIdInClassName=false

Each ``--arm name:key=value`` sets one runtime conf for that arm (repeat
the name to set several keys).  A copy of the first arm, ``<name>~``,
runs as the identical-arm control: the gap between the two is the noise
floor any other arm's difference must clear.  Every round runs each arm
once, in an order rotated by one per round, after the workload's
warm-up.  Inputs, the warm-up, the per-run process-tree CPU time and the
output checks are perfbench's own (``perfbench/`` is imported, not
changed); cores and heap are pinned as perfbench pins them.  Prints each
arm's median, min and max CPU and wall seconds; the last line is JSON.
Exits 1 if any run's output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import run as pb_run  # noqa: E402  (perfbench/run.py)
import worker as pb_worker  # noqa: E402
import workloads  # noqa: E402


def parse_arms(specs: list[str]) -> dict[str, dict[str, str]]:
    arms: dict[str, dict[str, str]] = {}
    for spec in specs:
        name, _, kv = spec.partition(":")
        key, eq, value = kv.partition("=")
        if not (name and key and eq):
            raise SystemExit(f"--arm wants name:key=value, got {spec!r}")
        arms.setdefault(name, {})[key] = value
    first = next(iter(arms))
    arms[first + "~"] = dict(arms[first])
    return arms


def summary(values: list[float]) -> dict:
    return {"median": statistics.median(values), "min": min(values), "max": max(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--arm", action="append", required=True, metavar="NAME:KEY=VALUE")
    args = ap.parse_args()
    arms = parse_arms(args.arm)
    wl = workloads.WORKLOADS[args.workload]

    rundir = os.path.join(pb_run.WORK, f"ab-{os.getpid()}")
    os.makedirs(os.path.join(rundir, "out"), exist_ok=True)
    os.environ.update(pb_run.worker_env(rundir))
    data = wl.rows(args.seed)
    inputs = wl.write(data, os.path.join(rundir, "inputs"))
    checker = wl.checker(data, inputs)

    from chewdata_spark.pipeline import Pipeline
    from chewdata_spark.session import get_spark

    spark = get_spark("ab", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    keys = {k for conf in arms.values() for k in conf}
    base = {k: spark.conf.get(k, None) for k in keys}

    def use(arm: str) -> None:
        for k in keys:
            value = arms[arm].get(k, base[k])
            if value is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, value)

    runner = pb_worker.Runner(spark, Pipeline, wl, inputs, os.path.join(rundir, "out"))
    names = list(arms)
    try:
        for i in range(max(wl.warmup, len(names))):
            use(names[i % len(names)])
            runner.once("warmup")
        for r in range(args.rounds):
            for arm in names[r % len(names):] + names[:r % len(names)]:
                use(arm)
                runner.once(arm)
        timed = [run for run in runner.runs if run["phase"] != "warmup"]
        ok, problems = pb_run.check_runs(runner.runs, checker)
    finally:
        spark.stop()
        shutil.rmtree(rundir, ignore_errors=True)

    report = {"workload": args.workload, "seed": args.seed, "arms": {},
              "correct": ok, "checked": len(runner.runs), "problems": problems}
    for arm in names:
        runs = [run for run in timed if run["phase"] == arm]
        cpu, wall = summary([run["cpu_s"] for run in runs]), summary([run["s"] for run in runs])
        report["arms"][arm] = {"conf": arms[arm], "cpu_s": cpu, "wall_s": wall}
        print(f"{arm:>12s}  cpu_s median {cpu['median']:.2f} [{cpu['min']:.2f}, {cpu['max']:.2f}]"
              f"  wall_s median {wall['median']:.2f} [{wall['min']:.2f}, {wall['max']:.2f}]")
    a, a_ctl = (report["arms"][n]["cpu_s"]["median"] for n in (names[0], names[-1]))
    report["control_gap"] = abs(a - a_ctl) / a
    print(f"identical-arm control: cpu_s medians {report['control_gap']:.1%} apart")
    print(*problems, sep="\n", file=sys.stderr)
    print(json.dumps(report))
    return 0 if ok == len(runner.runs) else 1


if __name__ == "__main__":
    sys.exit(main())
