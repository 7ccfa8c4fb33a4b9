"""Render results/STEADINESS.md from the JSON files that spread.py wrote.

Usage (from the repository root)::

    python3 steadybench/report.py > steadybench/results/STEADINESS.md

Reads ``results/<workload>_set1.json`` and ``_set2.json`` (untraced,
ten seeds each), ``_traced.json`` (``--trace 1``) and ``_curve.json``
(one run with ``--warmup 0``).
"""

from __future__ import annotations

import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("query", "ingest")


def load(name: str) -> dict | None:
    path = os.path.join(RESULTS, name)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def sets_table(w: str) -> list[str]:
    s1, s2 = load(f"{w}_set1.json"), load(f"{w}_set2.json")
    if not s1:
        return [f"(no `{w}_set1.json`)"]
    out = [
        "| metric | bound | set 1 median | q1 | q3 | IQR/median | set 2 median | q1 | q3 | IQR/median | set 2 vs set 1 |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a in s1["summary"].items():
        b = s2["summary"][name] if s2 else None
        row = [name, str(a["bound"]), *(f"{a[k]:.4g}" for k in ("median", "q1", "q3"))]
        row.append(f"{a['iqr_share']:.3f}")
        if b:
            row += [*(f"{b[k]:.4g}" for k in ("median", "q1", "q3")), f"{b['iqr_share']:.3f}"]
            row.append(f"{b['median'] / a['median'] - 1:+.3f}")
        out.append("| " + " | ".join(row) + " |")
    for tag, s in (("set 1", s1), ("set 2", s2)):
        if s:
            for r in s["runs"]:
                for f in r["stamp"]["failures"]:
                    out.append(f"\n{tag}, seed {r['seed']}: check failed (exit {r['exit']}): "
                               + f.replace("\n", " "))
            walls = [r["wall_s"] for r in s["runs"]]
            c = s["timed_curve"]
            out.append(
                f"\n{tag}: seeds {s['runs'][0]['seed']}-{s['runs'][-1]['seed']}, run wall "
                f"median {statistics.median(walls):.1f} s (max {max(walls):.1f} s). Timed "
                f"passes, median over runs: pass_s {[round(x, 3) for x in c['pass_s']]}, "
                f"jit_s {[round(x, 2) for x in c['jit_s']]}; first-half pass_s "
                f"{c['first_half_pass_s']:.3f} vs second-half {c['second_half_pass_s']:.3f}."
            )
    return out


def traced(w: str) -> list[str]:
    t = load(f"{w}_traced.json")
    if not t:
        return [f"(no `{w}_traced.json`)"]
    out = []
    for r in t["runs"]:
        m = {k: v["value"] for k, v in r["result"]["metrics"].items()}
        selfs = {k: round(v, 3) for k, v in m.items() if k.startswith("self_s.") and v}
        out.append(
            f"- seed {r['seed']}: trace.pass_s {m['trace.pass_s']:.3f}, self times {selfs} "
            f"(sum {sum(selfs.values()):.3f}); unattributed share "
            f"{m['self_s.unattributed'] / m['trace.pass_s']:.4f}; trace.overhead_s "
            f"{m['trace.overhead_s']:.3f}; jvm.jit_s per timed pass "
            f"{[p['jit_s'] for p in r['stamp']['passes'][-r['stamp']['timed_passes']:]]}"
        )
    return out


def curve(w: str) -> list[str]:
    c = load(f"{w}_curve.json")
    if not c:
        return [f"(no `{w}_curve.json`)"]
    r = c["runs"][0]
    out = ["| pass | pass_s | wall_s | jvm.jit_s | jvm.gc_s |", "|---|---|---|---|---|"]
    for i, p in enumerate(r["stamp"]["passes"]):
        out.append(f"| {i} | {p['pass_s']} | {p['wall_s']} | {p['jit_s']} | {p['gc_s']} |")
    return out


def main() -> None:
    lines = [
        "# Steadiness record",
        "",
        "Generated by `python3 steadybench/report.py` from the JSON files in this",
        "directory (written by `spread.py`). Quartiles are",
        "`statistics.quantiles(values, n=4)`; IQR/median is (q3 - q1) / median.",
    ]
    for w in WORKLOADS:
        lines += ["", f"## {w}", "", "### Two sets of ten untraced runs", ""]
        lines += sets_table(w)
        lines += ["", "### Traced runs", ""] + traced(w)
        lines += ["", "### Warm-up curve (one run, `--warmup 0`)", ""] + curve(w)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
