"""The two workloads: one pass each, and the output checks.

Both are closed loops: one client, one unit at a time.

- ``query``: a unit is one B1-B10 op call plus the collect of its result.
- ``ingest``: a unit is one arrival, timed from when its staged file lands
  until its rows are visible in the COPY sink.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import duckdb

import gen
from spans import phases_s

# B1-B10 of BASELINE.md, as in bench.py; fixed here so the workload does
# not change when the suite does.
BENCH_QUERIES = {
    "q1": "agg_hash_groupby",
    "q2": "limit_topk",
    "q3": "join_star_multiway",
    "q4": "win_topn_per_group",
    "q5": "stream_tumbling",
    "q6": "stream_session",
    "q7": "dedup_exact",
    "q8": "sim_search_topk",
    "q9": "fn_json",
    "q10": "agg_grouping_sets",
}

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"
SINK_CONNECTIONS = 2  # COPY and JDBC writer connections


def digest(cols: list[str], rows: list[tuple]) -> str:
    from insight_gp_import_spark.compare import normalize

    return hashlib.sha256(repr(normalize(list(cols), rows)).encode()).hexdigest()


class _Collected:
    """A result already collected, shaped like the DataFrame ``compare`` reads."""

    def __init__(self, df, rows) -> None:
        self.columns, self.schema, self._rows = df.columns, df.schema, rows

    def collect(self):
        return self._rows


class Query:
    def __init__(self, spark, ops, data_dir: str, tracer) -> None:
        self.spark, self.ops, self.data_dir, self.tr = spark, ops, data_dir, tracer
        self.first: dict[str, tuple] = {}  # qid -> (collected result, digest)
        self.digests: list[dict[str, str]] = []
        self.results: dict[str, tuple] = {}  # qid -> (DataFrame, rows), last pass

    def run_pass(self) -> list[float]:
        from insight_gp_import_spark.registry import flush_tracked_persists

        tr, lat = self.tr, []
        self.results = {}
        for qid, op_id in BENCH_QUERIES.items():
            t0 = time.perf_counter()
            with tr.span("registry.flush", qid):
                flush_tracked_persists()
            with tr.span("operators.build", qid):
                df = self.ops[op_id].fn(self.spark, self.data_dir)
            with tr.span("operators.materialize", qid):
                rows = df.collect()
            lat.append(time.perf_counter() - t0)
            self.results[qid] = (df, rows)
        return lat

    def after_pass(self, keep: bool) -> tuple[int, int]:
        """Digest this pass's results; (bytes landed, bytes written to files)."""
        if keep:
            dig = {}
            for qid, (df, rows) in self.results.items():
                dig[qid] = digest(df.columns, rows)
                if qid not in self.first:
                    self.first[qid] = (_Collected(df, rows), dig[qid])
            self.digests.append(dig)
        return 0, 0  # reads only; Spark's local files are counted by run.py

    def planning_s(self) -> float:
        return sum(phases_s(df) for df, _rows in self.results.values())

    def check(self) -> list[str]:
        from insight_gp_import_spark.compare import compare

        bad = []
        for qid, (collected, first) in self.first.items():
            op = self.ops[BENCH_QUERIES[qid]]
            res = compare(op.name, collected, op.oracle, self.data_dir)
            if not res.ok:
                bad.append(f"{qid} {op.name}: {res.detail}")
            for i, d in enumerate(self.digests):
                if d[qid] != first:
                    bad.append(f"{qid} {op.name}: timed pass {i} digest differs")
        return bad

    def close(self) -> None:
        pass


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


class Ingest:
    """The paper's load path over seeded staged batches.

    Each pass starts from empty landing, checkpoint, bronze and silver
    directories and replays the same ``gen.ARRIVALS`` arrivals, so every
    pass does the same work. Per arrival: land the file atomically (some
    arrivals also re-land an earlier file: a redelivery), drain the
    landing directory with ``run_ingest_loop`` into bronze through
    ``idempotent_parquet_writer``, fold the new micro-batch into silver
    with ``upsert_merge`` (latest row per ``event_id``), and COPY the
    micro-batch into the wire-protocol stub. Once per pass, silver goes
    through ``write_jdbc`` into in-memory Derby and is read back with
    ``read_jdbc_partitioned``.
    """

    def __init__(self, spark, work: str, staged: list[str], tracer) -> None:
        from insight_gp_import_spark.sources.pgwire import PgWireStubServer

        self.spark, self.work, self.staged, self.tr = spark, work, staged, tracer
        self.blobs = [open(p, "rb").read() for p in staged]
        self.stub = PgWireStubServer().__enter__()
        self.k = 0
        self.failures: list[str] = []
        self.batches: list = []  # traced runs: micro-batch plans of this pass
        self.silver_rows: list | None = None
        con = duckdb.connect()
        try:
            src = f"read_parquet({staged!r})"
            self.expect_rows = con.execute(
                f"SELECT count(*) FROM (SELECT DISTINCT * FROM {src})"
            ).fetchone()[0]
            self.expect_keys = con.execute(
                f"SELECT count(DISTINCT event_id) FROM {src}"
            ).fetchone()[0]
            cur = con.execute(
                f"SELECT * FROM {src} QUALIFY row_number() OVER "
                "(PARTITION BY event_id ORDER BY ts DESC, value DESC) = 1"
            )
            self.expect_cols = [d[0] for d in cur.description]
            self.expect_latest = digest(self.expect_cols, cur.fetchall())
        finally:
            con.close()

    def _land(self, landing: str, i: int) -> int:
        name = os.path.basename(self.staged[i])
        tmp = os.path.join(landing, f".{name}.tmp")  # hidden from the file source
        with open(tmp, "wb") as fh:
            fh.write(self.blobs[i])
        os.replace(tmp, os.path.join(landing, name))
        return len(self.blobs[i])

    def run_pass(self) -> list[float]:
        from pyspark.sql import functions as F

        from insight_gp_import_spark.sources.jdbc import (
            JdbcSinkConfig,
            read_jdbc_partitioned,
            write_jdbc,
        )
        from insight_gp_import_spark.sources.pgwire import PgCopyConfig, write_postgres_copy
        from insight_gp_import_spark.streaming.runtime import (
            idempotent_parquet_writer,
            read_events_stream,
            run_ingest_loop,
            upsert_merge,
        )

        spark, tr = self.spark, self.tr
        self.base = base = os.path.join(self.work, f"pass{self.k:03d}")
        landing, ckpt, bronze = f"{base}/landing", f"{base}/ckpt", f"{base}/bronze"
        os.makedirs(landing)
        self.table = f"events_p{self.k}"
        copy_cfg = PgCopyConfig(
            host=self.stub.host, port=self.stub.port, table=self.table,
            num_partitions=SINK_CONNECTIONS,
        )
        inner = idempotent_parquet_writer(bronze)
        new_batches: list[int] = []

        def writer(df, batch_id):
            inner(df, batch_id)
            new_batches.append(batch_id)

        self.landed, self.batches, lat = 0, [], []
        silver = None
        for i in range(gen.ARRIVALS):
            unit = f"a{i}"
            t0 = time.perf_counter()
            with tr.span("bench.land", unit):
                self.landed += self._land(landing, i)
                if i in gen.REDELIVER:
                    self.landed += self._land(landing, gen.REDELIVER[i])
            with tr.span("streaming.runtime.drain", unit):
                new_batches.clear()
                run_ingest_loop(read_events_stream(spark, landing), ckpt, writer)
            with tr.span("streaming.runtime.upsert", unit):
                batch = (
                    spark.read.parquet(bronze)
                    .where(F.col("_batch").isin(new_batches))
                    .drop("_batch")
                )
                merged = upsert_merge(silver, batch, ["event_id"], "ts", "value")
                merged.write.parquet(f"{base}/silver/v{i}")
                silver = spark.read.parquet(f"{base}/silver/v{i}")
            with tr.span("sources.pgwire.copy", unit):
                write_postgres_copy(batch, copy_cfg)
            lat.append(time.perf_counter() - t0)
            self.batches.append(batch)
        cfg = JdbcSinkConfig(
            url="jdbc:derby:memory:steadybench;create=true",
            table="EVENTS_LATEST",
            mode="overwrite",
            num_partitions=SINK_CONNECTIONS,
            properties={"driver": DERBY},
        )
        with tr.span("sources.jdbc.write", "load"):
            write_jdbc(silver, cfg)
        with tr.span("sources.jdbc.read", "load"):
            self.n_back = read_jdbc_partitioned(spark, cfg, "event_id", 0, self.expect_keys).count()
        self.silver = silver
        return lat

    def after_pass(self, keep: bool) -> tuple[int, int]:
        """Exactly-once invariants of this pass; (bytes landed, bytes written
        to checkpoint, bronze, silver and the COPY sink)."""
        from insight_gp_import_spark.sources.pgwire import copy_encode_row

        sunk = self.stub.tables.pop(self.table, [])
        if len(sunk) != self.expect_rows:
            self.failures.append(
                f"pass {self.k}: sink has {len(sunk)} rows, staged distinct rows {self.expect_rows}"
            )
        if self.n_back != self.expect_keys:
            self.failures.append(
                f"pass {self.k}: Derby read-back {self.n_back} rows, keys {self.expect_keys}"
            )
        if keep:
            cols = self.silver.columns
            order = [cols.index(c) for c in self.expect_cols]
            self.silver_rows = [tuple(r[i] for i in order) for r in self.silver.collect()]
        written = sum(len(copy_encode_row(r)) for r in sunk) + sum(
            _dir_bytes(f"{self.base}/{d}") for d in ("ckpt", "bronze", "silver")
        )
        shutil.rmtree(self.base, ignore_errors=True)
        self.k += 1
        return self.landed, written

    def planning_s(self) -> float:
        return sum(phases_s(df) for df in self.batches)

    def check(self) -> list[str]:
        bad = list(self.failures)
        if self.silver_rows is None:
            bad.append("no timed pass kept silver")
        elif digest(self.expect_cols, self.silver_rows) != self.expect_latest:
            bad.append("silver latest-per-key differs from DuckDB over the staged files")
        return bad

    def close(self) -> None:
        self.stub.__exit__(None, None, None)
