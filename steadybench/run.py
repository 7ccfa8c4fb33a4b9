"""Steady-state benchmark of the engine: ``query`` and ``ingest`` workloads.

Usage (from the repository root)::

    python3 steadybench/run.py --workload query --seed 1 --seconds 10 --trace 0

One run: make the inputs from ``--seed``, set the engine up in a fresh JVM
(``setup_s``), run one cold pass (``first_pass_s``), ``WARMUP`` untimed
passes, then the timed passes, then check the outputs. The number of
timed passes is ``--seconds`` over the workload's nominal steady pass
time, so both sides of a comparison measure the same units. With
``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer split of the timed passes. The
line before it is the condition stamp.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import spans  # noqa: E402

SLOTS = 2
SHUFFLE_PARTITIONS = 4
DRIVER_HEAP = "2g"
# Untimed passes after the cold one, read off the traced warm-up curve
# (README.md): per-pass JIT time has flattened by then.
WARMUP = {"query": 9, "ingest": 4}
# Steady pass time on a 4-vCPU VM; sets the timed pass count.
NOMINAL_PASS_S = {"query": 2.5, "ingest": 5.0}
MIN_TIMED_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "tables.load_s": "s",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.materialize_s": "s",
    "registry.flush_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.planning_s": "s",
    "spark.executor_run_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "streaming.runtime.drain_s": "s",
    "streaming.runtime.micro_batches": "count",
    "streaming.runtime.upsert_s": "s",
    "sources.pgwire.copy_s": "s",
    "sources.pgwire.connections": "count",
    "sources.jdbc.write_s": "s",
    "sources.jdbc.read_s": "s",
    "bench.write_bytes": "bytes",
    "self_s.registry": "s",
    "self_s.operators": "s",
    "self_s.streaming.runtime": "s",
    "self_s.sources.pgwire": "s",
    "self_s.sources.jdbc": "s",
    "self_s.bench": "s",
    "self_s.unattributed": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
# span name -> per-layer duration metric
SPAN_METRIC = {
    "operators.build": "operators.build_s",
    "operators.materialize": "operators.materialize_s",
    "registry.flush": "registry.flush_s",
    "streaming.runtime.drain": "streaming.runtime.drain_s",
    "streaming.runtime.upsert": "streaming.runtime.upsert_s",
    "sources.pgwire.copy": "sources.pgwire.copy_s",
    "sources.jdbc.write": "sources.jdbc.write_s",
    "sources.jdbc.read": "sources.jdbc.read_s",
}


def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it: (value, pct)."""
    v = sorted(values)
    i = max(0, len(v) - 11)
    return v[i], 100.0 * (i + 1) / len(v)


def code_identity() -> str:
    head = os.path.join(ROOT, ".git")
    if os.path.isdir(head):
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        if out.returncode == 0:
            return "git:" + out.stdout.strip()
    h = hashlib.sha256()
    for sub in ("insight_gp_import_spark", "steadybench"):
        for r, _d, fs in sorted(os.walk(os.path.join(ROOT, sub))):
            for f in sorted(fs):
                if f.endswith(".py"):
                    p = os.path.join(r, f)
                    h.update(os.path.relpath(p, ROOT).encode() + b"\0")
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return "src:" + h.hexdigest()[:16]


def fs_type(path: str) -> str:
    best, kind = "", "?"
    with open("/proc/mounts") as fh:
        for line in fh:
            _dev, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, typ
    return f"{kind} ({best})"


def setup(work: str, data_dir: str, tr):
    """Fresh JVM to ready: session, op registry, first table scan."""
    from insight_gp_import_spark.registry import load_all_ops
    from insight_gp_import_spark.session import get_session
    from insight_gp_import_spark.tables import load_table

    watch = spans.Watch()
    t0 = time.perf_counter()
    with tr.span("session.start"):
        spark = get_session(
            app_name="steadybench",
            master=f"local[{SLOTS}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.driver.memory": DRIVER_HEAP,
                "spark.ui.enabled": "false",
                "spark.local.dir": f"{work}/spark-local",
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp "
                    f"-Dderby.stream.error.file={work}/derby.log"
                ),
            },
        )
    t1 = time.perf_counter()
    with tr.span("registry.load"):
        ops = load_all_ops()
    t2 = time.perf_counter()
    with tr.span("tables.load"):
        load_table(spark, data_dir, "lineitem").schema
    t3 = time.perf_counter()
    parts = {"session.start_s": t1 - t0, "registry.load_s": t2 - t1, "tables.load_s": t3 - t2}
    return spark, ops, watch.read(), parts


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.tr = spans.Tracer(bool(args.trace))
        self.work = os.path.join(
            ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.stamp: dict = {
            "code": code_identity(),
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "slots": SLOTS,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_heap": DRIVER_HEAP,
            "python": platform.python_version(),
            "load_start": [round(x, 2) for x in os.getloadavg()],
        }

    def inputs(self) -> tuple[str, list[str]]:
        data_dir = os.path.join(self.work, "data")
        gen.make_tables(data_dir, self.args.seed)
        drift = gen.schema_drift(data_dir)
        if drift:
            raise SystemExit(f"generated schema differs from FIXTURES.md: {drift}")
        staged = []
        rows = {t: n for t, n in gen.TABLE_ROWS.items()}
        if self.args.workload == "ingest":
            staged = gen.make_ingest(os.path.join(self.work, "staged"), self.args.seed)
            rows["staged"] = gen.ARRIVALS * gen.ROWS_PER_ARRIVAL
        nbytes, sha = gen.digest_dir(self.work)
        self.stamp["input"] = {"rows": rows, "bytes": nbytes, "sha256": sha}
        return data_dir, staged

    def main(self) -> int:
        import workloads

        os.makedirs(f"{self.work}/tmp", exist_ok=True)
        os.environ["TMPDIR"] = f"{self.work}/tmp"
        data_dir, staged = self.inputs()
        self.stamp["temp_fs"] = fs_type(os.environ["TMPDIR"])
        spark, ops, (setup_s_wall, setup_s), setup_parts = setup(self.work, data_dir, self.tr)
        self.spark = spark
        self.stamp["spark"] = spark.version
        self.stamp["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        jvm = spans.Jvm(spark)
        ledger = spans.SparkLedger(spark)
        if self.args.workload == "query":
            wl = workloads.Query(spark, ops, data_dir, self.tr)
        else:
            wl = workloads.Ingest(spark, f"{self.work}/passes", staged, self.tr)
        self.wl = wl
        n_timed = max(
            MIN_TIMED_PASSES, math.ceil(self.args.seconds / NOMINAL_PASS_S[self.args.workload])
        )
        n_warm = WARMUP[self.args.workload] if self.args.warmup is None else self.args.warmup
        self.stamp.update(warmup_passes=n_warm, timed_passes=n_timed)
        curve, timed, windows, units, layer_rows = [], [], [], [], []
        landed = written = 0
        for k in range(1 + n_warm + n_timed):
            is_timed = k > n_warm
            if k == n_warm + 1:
                ledger.jobs_since_cursor(stages=False)  # cursor to the timed window
            jit0, gc0 = jvm.read()
            conn0 = wl.stub.connections if hasattr(wl, "stub") else None
            root = len(self.tr.spans)
            e0, watch = time.time(), spans.Watch()
            with self.tr.span("pass"):
                lat = wl.run_pass()
            wall, net = watch.read()
            jit1, gc1 = jvm.read()
            curve.append({"pass_s": round(net, 4), "wall_s": round(wall, 4),
                          "jit_s": round(jit1 - jit0, 3), "gc_s": round(gc1 - gc0, 3)})
            if not is_timed:
                wl.after_pass(keep=False)
                continue
            timed.append(net)
            windows.append((e0, time.time()))
            units.extend((u, u * net / wall) for u in lat)  # the pass's steal share
            if self.tr.enabled:
                t_tr = time.perf_counter()
                row = self.layer_row(root, ledger, wl)
                row["jvm.jit_s"], row["jvm.gc_s"] = jit1 - jit0, gc1 - gc0
                if conn0 is not None:
                    row["sources.pgwire.connections"] = wl.stub.connections - conn0
                row["trace.pass_s"] = wall
                row["trace.overhead_s"] = time.perf_counter() - t_tr
                layer_rows.append(row)
            l_in, w_files = wl.after_pass(keep=True)
            landed += l_in
            written += w_files
            if self.tr.enabled:
                layer_rows[-1]["bench.write_bytes"] += w_files
        self.stamp["passes"] = curve
        failures = wl.check()
        if self.tr.enabled:
            metrics = self.layer_metrics(layer_rows, setup_parts)
        else:
            jobs = [
                j for j in ledger.jobs_since_cursor()
                if any(lo <= j["t"] <= hi for lo, hi in windows)
            ]
            spark_sums = self.sum_jobs(jobs)
            metrics = self.end_to_end(
                setup_s, curve[0]["pass_s"], timed, units, landed, written, spark_sums
            )
            self.stamp["wall"] = {
                "setup_s": round(setup_s_wall, 4),
                "latency_p50_s": round(statistics.median(w for w, _n in units), 4),
            }
        self.stamp["load_end"] = [round(x, 2) for x in os.getloadavg()]
        self.stamp["units"] = len(units)
        self.stamp["failures"] = failures
        print(json.dumps({"stamp": self.stamp}))
        attempted = len(units) + len(failures)
        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": metrics,
        }
        print(json.dumps(result))
        return 0 if not failures else 1

    def close(self) -> None:
        """Stop the sink, Spark and its JVM, wait for the JVM to exit, and
        remove the run's working directory."""
        from pyspark import SparkContext

        if hasattr(self, "wl"):
            self.wl.close()
        if hasattr(self, "spark"):
            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)

    @staticmethod
    def sum_jobs(jobs: list[dict]) -> dict:
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_s", "shuffle_w", "shuffle_r", "spill", "input"), 0
        )
        for j in jobs:
            out["jobs"] += 1
            for key in out:
                if key != "jobs":
                    out[key] += j[key]
        return out

    def end_to_end(self, setup_s, first_s, timed, units, landed, written, sp) -> dict:
        units = [n for _w, n in units]
        tail_s, tail_pct = tail(units)
        self.stamp["latency_tail_pct"] = round(tail_pct, 1)
        # query reads the corpus tables; ingest's input is what lands
        read = landed if self.args.workload == "ingest" else sp["input"]
        wamp = (written + sp["shuffle_w"] + sp["spill"]) / max(1, read)
        pid = self.spark.sparkContext._gateway.proc.pid
        values = {
            "setup_s": setup_s,
            "first_pass_s": first_s,
            "pass_s": statistics.median(timed),
            "latency_p50_s": statistics.median(units),
            "latency_tail_s": tail_s,
            "write_amp": wamp,
            "peak_rss_mb": spans.tree_hwm_mb(pid),
        }
        return {k: {"value": round(v, 6), "unit": END_TO_END[k]} for k, v in values.items()}

    def layer_row(self, root: int, ledger, wl) -> dict:
        """Per-layer values of the timed pass whose root span is ``root``."""
        sp = self.tr.spans
        row = dict.fromkeys(PER_LAYER, 0.0)
        for layer, s in spans.self_times(sp, root).items():
            key = f"self_s.{layer}"
            if key in row:
                row[key] += s
            else:
                row["self_s.unattributed"] += s  # a layer without its own metric
        for s in sp[root + 1:]:
            m = SPAN_METRIC.get(s["name"])
            if m:
                row[m] += s["end"] - s["start"]
        jobs = ledger.jobs_since_cursor()
        for j in jobs:
            i = spans.innermost(sp, root, j["t"])
            if i is not None and sp[i]["name"] == "operators.build":
                row["operators.build_jobs"] += 1
        sums = self.sum_jobs(jobs)
        wall = sp[root]["end"] - sp[root]["start"]
        row.update(
            {
                "spark.jobs": sums["jobs"],
                "spark.stages": sums["stages"],
                "spark.tasks": sums["tasks"],
                "spark.executor_run_s": sums["run_s"],
                "spark.busy_ratio": sums["run_s"] / (wall * SLOTS),
                "spark.shuffle_write_bytes": sums["shuffle_w"],
                "spark.shuffle_read_bytes": sums["shuffle_r"],
                "spark.spill_bytes": sums["spill"],
                "spark.planning_s": wl.planning_s(),
                "bench.write_bytes": sums["shuffle_w"] + sums["spill"],
            }
        )
        if self.args.workload == "ingest":
            ckpt = os.path.join(wl.base, "ckpt", "commits")
            row["streaming.runtime.micro_batches"] = len(
                [f for f in os.listdir(ckpt) if f.isdigit()]
            )
        return row

    def layer_metrics(self, rows: list[dict], setup_parts: dict) -> dict:
        out = {}
        for key, unit in PER_LAYER.items():
            if key in setup_parts:
                v = setup_parts[key]
            else:
                v = statistics.fmean(r[key] for r in rows)
            out[key] = {"value": round(v, 6), "unit": unit}
        return out


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WARMUP), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--warmup", type=int, default=None,
        help="untimed passes after the cold one (default: WARMUP); 0 records "
        "the whole warm-up curve in the stamp",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    try:
        import insight_gp_import_spark  # noqa: F401
    except ImportError as e:
        print(f"steadybench: engine package not found next to {HERE}: {e}", file=sys.stderr)
        return 2
    run = Run(args)
    try:
        return run.main()
    finally:
        run.close()


if __name__ == "__main__":
    sys.exit(main())
