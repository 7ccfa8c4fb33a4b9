"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root)::

    python3 steadybench/spread.py --workload query --seeds 1-10 [--trace 1] [--out FILE]

For every end-to-end metric it prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the interquartile
range as a share of the median, next to the bound in BENCHMARK.json.
``--out`` also writes every run's result and condition stamp as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict:
    names = runs[0]["result"]["metrics"].keys()
    out = {}
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {
            "median": statistics.median(vals),
            "q1": q1,
            "q3": q3,
            "iqr_share": (q3 - q1) / statistics.median(vals) if med else None,
            "bound": bounds.get(name),
            "values": vals,
        }
    return out


def timed_curve(runs: list[dict]) -> dict:
    """Per timed-pass index, the median over runs of ``pass_s`` and
    ``jit_s``; and the median ``pass_s`` of the first and second half of
    the timed passes, pooled over runs. A timed pass still in warm-up
    shows as a falling curve and a second half faster than the first."""
    timed = []
    for r in runs:
        n = r["stamp"]["timed_passes"]
        timed.append(r["stamp"]["passes"][-n:])
    n = min(len(t) for t in timed)
    half = n // 2
    first = [p["pass_s"] for t in timed for p in t[:half]]
    second = [p["pass_s"] for t in timed for p in t[n - half:n]]
    return {
        "pass_s": [statistics.median(t[i]["pass_s"] for t in timed) for i in range(n)],
        "jit_s": [statistics.median(t[i]["jit_s"] for t in timed) for i in range(n)],
        "first_half_pass_s": statistics.median(first),
        "second_half_pass_s": statistics.median(second),
    }


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if len(lines) < 2 or not lines[-1].startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        run = {
            "seed": seed,
            "exit": proc.returncode,
            "wall_s": round(wall, 1),
            "stamp": json.loads(lines[-2])["stamp"],
            "result": json.loads(lines[-1]),
        }
        runs.append(run)
        vals = {k: v["value"] for k, v in run["result"]["metrics"].items()}
        print(json.dumps({"seed": seed, "exit": proc.returncode, "wall_s": run["wall_s"], **vals}),
              flush=True)
        for f in run["stamp"]["failures"]:
            print(f"seed {seed} check failed: {f}", flush=True)
    summary = summarize(runs, bounds) if args.trace == 0 else {}
    curve = timed_curve(runs)
    print(json.dumps(curve))
    for name, s in summary.items():
        print(
            f"{name:16s} median {s['median']:.4f}  q1 {s['q1']:.4f}  q3 {s['q3']:.4f}  "
            f"iqr/median {s['iqr_share']:.3f}  bound {s['bound']}"
        )
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(
                {"workload": args.workload, "summary": summary, "timed_curve": curve,
                 "runs": runs},
                fh, indent=1,
            )
    return 1 if any(r["exit"] for r in runs) else 0


if __name__ == "__main__":
    sys.exit(main())
