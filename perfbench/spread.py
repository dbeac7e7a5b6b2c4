"""Run the benchmark over several seeds and report each end-to-end
metric's median and spread (IQR / median), the check a benchmark's bounds
are held to:

    python3 perfbench/spread.py --workload clickstream corpus --seeds 1-10
    python3 perfbench/spread.py --workload corpus --seeds 1-3 --overhead

``--overhead`` also runs each seed traced and reports the end-to-end
difference tracing makes. ``--cpus 1`` runs on one Spark core (the
single-threaded baseline row). Each run's line carries its correctness
and every metric under the workload's own names with unit and sample
count; results also go to ``.perfbench_work/spread-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int, cpus: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = [json.loads(x) for x in out.stdout.splitlines() if x.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed} failed: {out.stderr[-2000:]}")
    rec = {"seed": seed, "trace": trace, "result": lines[-1]}
    for line in lines[:-1]:
        rec.update(line)
    return rec


def summarize(runs: list[dict], overhead: bool) -> dict:
    summary = {}
    for trace in sorted({r["trace"] for r in runs}):
        vals: dict[str, list[float]] = {}
        for r in runs:
            if r["trace"] == trace:
                for k, v in r["end_to_end"].items():
                    vals.setdefault(k, []).append(v["value"])
        summary[f"trace{trace}"] = {
            k: {"median": stats.median(v),
                "spread": stats.spread(v) if len(v) >= 2 else None, "n": len(v)}
            for k, v in vals.items()
        }
    if overhead:
        summary["tracing_overhead"] = {
            k: summary["trace1"][k]["median"] / v["median"] - 1.0
            for k, v in summary["trace0"].items()
        }
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--cpus", type=int, default=0)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    os.makedirs(".perfbench_work", exist_ok=True)
    for workload in args.workload:
        runs = []
        for seed in seeds(args.seeds):
            for trace in (0, 1) if args.overhead else (0,):
                rec = one_run(workload, seed, args.seconds, trace, args.cpus)
                runs.append(rec)
                print(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                                  "correct": rec["result"]["correct"],
                                  "failed": rec["result"]["failed"],
                                  "attempted": rec["result"]["attempted"],
                                  "metrics": rec["workload_metrics"],
                                  "wall_s": rec.get("wall_s")}), flush=True)
        summary = summarize(runs, args.overhead)
        print(json.dumps({"workload": workload, **summary}, indent=1))
        with open(f".perfbench_work/spread-{workload}.json", "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
