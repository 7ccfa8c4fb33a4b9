"""Self-test of the benchmark at tiny scale (about three minutes).

Usage (from the repository root)::

    python3 steadybench/selftest.py

Checks, in order:

1. The seeded generator is deterministic: the same seed gives
   byte-identical tables and staged files, another seed gives different
   bytes, and the table schemas equal FIXTURES.md's (``gen.SCHEMAS``).
2. For each workload, a short untraced run prints every end-to-end metric
   of BENCHMARK.json with its unit, and a short traced run prints every
   per-layer metric with its unit; in the traced run the self times plus
   ``self_s.unattributed`` add up to ``trace.pass_s``.
3. In a directory that holds only BENCHMARK.json and the benchmark's own
   files, the command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def check_generator(tmp: str) -> None:
    a, b, c = (os.path.join(tmp, x) for x in "abc")
    gen.make_tables(a, 5)
    gen.make_tables(b, 5)
    gen.make_tables(c, 6)
    assert gen.digest_dir(a) == gen.digest_dir(b), "same seed, different table bytes"
    assert gen.digest_dir(a)[1] != gen.digest_dir(c)[1], "other seed, same table bytes"
    assert not gen.schema_drift(a), f"schema drift: {gen.schema_drift(a)}"
    sa, sb, sc = (gen.make_ingest(os.path.join(x, "staged"), s) for x, s in ((a, 5), (b, 5), (c, 6)))
    assert [open(p, "rb").read() for p in sa] == [open(p, "rb").read() for p in sb]
    assert [open(p, "rb").read() for p in sa] != [open(p, "rb").read() for p in sc]
    print("generator: deterministic, seed-sensitive, schemas match")


def run(bench: dict, cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--warmup", "0",
    ]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def check_runs(bench: dict) -> None:
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = run(bench, ROOT, w, trace)
            assert code == 0, f"{w} trace={trace}: exit {code}"
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want))}"
            m = {k: v["value"] for k, v in res["metrics"].items()}
            if trace:
                selfs = sum(v for k, v in m.items() if k.startswith("self_s."))
                assert math.isclose(selfs, m["trace.pass_s"], rel_tol=1e-3), (selfs, m)
            else:
                assert all(v > 0 for v in m.values()), m
            print(f"{w} trace={trace}: {len(m)} metrics with units, correct")


def check_bare_dir(bench: dict, tmp: str) -> None:
    bare = os.path.join(tmp, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), os.path.join(bare, p),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    code, lines = run(bench, bare, bench["workloads"][0]["name"], 0)
    assert code != 0 and not (lines and lines[-1].startswith("{")), (code, lines)
    print(f"bare directory: exit {code}, no result")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    work = os.path.join(ROOT, ".bench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        check_generator(tmp)
        check_bare_dir(bench, tmp)
        check_runs(bench)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
