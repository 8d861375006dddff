"""Steadiness report: run each workload several times in fresh
processes and show how far its end-to-end metrics spread.

    python3 perfbench/steady.py --workloads etl_stream curate_sa --runs 10 --seconds 10

Each untraced run gets its own seed (``--first-seed`` onwards).  For
every metric it prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the interquartile
range as a share of the median, and the min and max.  With
``--traced-runs N`` it also makes N traced runs on one seed and checks
that the count metrics repeat exactly.  The last line of stdout is the
whole report as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics that count work and so must not vary for one seed
COUNTS = (
    "spark.jobs", "spark.stages", "spark.tasks",
    "pipeline.compile_jobs", "pipeline.exec_jobs", "streaming.batches",
    "suffix.repeat_spans_sa_tiled_jobs", "suffix.sa_contamination_scores_jobs",
    "curation.sa_curate_corpus_jobs",
)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """The result line and the detail line of one run.py invocation."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=240)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med, "q1": q1, "q3": q3,
        "iqr_share": (q3 - q1) / med if med else 0.0,
        "min": min(values), "max": max(values), "n": len(values),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced-runs", type=int, default=0)
    args = ap.parse_args()

    report: dict = {}
    for wl in args.workloads:
        samples: dict[str, list[float]] = {}
        failures = 0
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res, detail = run_once(wl, seed, args.seconds, 0)
            failures += res["failed"] + (0 if res["correct"] else 1)
            for name, m in res["metrics"].items():
                samples.setdefault(name, []).append(m["value"])
            print(f"{wl} seed={seed} " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
            print(f"  detail {json.dumps(detail)}", flush=True)
        entry = {"failures": failures,
                 "metrics": {k: spread(v) for k, v in samples.items()},
                 "samples": samples}
        for name, s in entry["metrics"].items():
            print(f"{wl:14s} {name:15s} median={s['median']:.4g} q1={s['q1']:.4g} "
                  f"q3={s['q3']:.4g} iqr/median={s['iqr_share']:.3f} "
                  f"min={s['min']:.4g} max={s['max']:.4g}", flush=True)
        if args.traced_runs:
            traced = [run_once(wl, args.first_seed, args.seconds, 1)[0]["metrics"]
                      for _ in range(args.traced_runs)]
            counts = {k: [t[k]["value"] for t in traced] for k in COUNTS if k in traced[0]}
            entry["counts"] = counts
            entry["counts_repeat"] = all(len(set(v)) == 1 for v in counts.values())
            print(f"{wl} traced counts repeat: {entry['counts_repeat']} {counts}", flush=True)
        report[wl] = entry
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
