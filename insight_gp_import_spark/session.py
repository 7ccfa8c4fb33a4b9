"""SparkSession factory with the configs this engine depends on.

The one load-bearing config is ``spark.sql.legacy.parquet.nanosAsLong``:
the ``events`` table is parquet TIMESTAMP(NANOS), which Spark 4.1.2
refuses to read by default (PARQUET_TYPE_ILLEGAL — SURVEY.md §1.3).
Verified this session that the conf IS runtime-settable
(``spark.conf.set``), so :func:`ensure_nanos_as_long` is also applied
defensively inside the events loader for sessions we did not build
(e.g. the verify driver's).

Scale defaults (100 TB design notes, SURVEY.md §4):

- AQE on: runtime broadcast-join conversion, skew-join splitting and
  partition coalescing replace hand-tuned shuffle counts at scale.
- ``shuffle.partitions`` defaults to ``SPARK_GRAFT_CPUS`` locally; on a
  real cluster this should be ~2-3x total executor cores or simply left
  to AQE's coalescing with a high initial value.
- ``maxPartitionBytes`` left at 128 MB: right for both local parquet and
  cluster HDFS/S3 scans.

Importing this module also installs a backport of CPython gh-103200 into
the process. A pyspark Python worker calls ``importlib.invalidate_caches()``
at the start of every task (``worker_util.setup_spark_files``). Before
Python 3.12, ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory there, for every zip importer on ``sys.path``:
pyspark.zip and its subpackages, the Spark jar, the shipped package zip.
That is about 230 ms per task. The backport re-reads an archive only when
its ``(st_ino, st_size, st_mtime_ns)`` changed since that importer last
read it, so a rewritten or new archive (``addPyFile``) is still picked up.
Every worker that runs an engine function imports the package, and so this
module, when it unpickles that function. On Python 3.12+ the backport is a
no-op, as is a second install.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_session(
    app_name: str = "insight-gp-import-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[*] runs executors INSIDE the driver JVM, whose default
        # heap is 1g — fine at sf0.1, OOM (GCLocker retry storms) on
        # 10x stress corpora. Start-time-only conf: applies when this
        # factory creates the JVM, ignored on an already-running one.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or (os.cpu_count() or 8)),
        )
        # Arrow for pandas_udf / applyInPandas / toPandas: batch transfer
        # instead of row-at-a-time pickling (SURVEY.md §3.2 boundary map).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Make a foreign SparkSession able to read TIMESTAMP(NANOS) parquet.

    Runtime-settable (verified); required before every ``events`` scan.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def ensure_events_read_confs(spark: SparkSession) -> None:
    """All confs a foreign session needs to read ``events`` parity-safely.

    Beyond ``nanosAsLong``, pins ``spark.sql.session.timeZone=UTC``: the
    µs-generation corpus stores ``ts`` as TIMESTAMP_NTZ, and the
    NTZ→TIMESTAMP cast reinterprets the wall-clock in the *session* zone —
    value-preserving only under UTC (DuckDB reads the same bytes as
    zone-less). Without this pin, a foreign session in any other zone
    silently shifts every ts by its offset and breaks oracle parity.
    Both confs are runtime-settable SQL confs (verified).
    """
    ensure_nanos_as_long(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _install_stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives
    (Python < 3.12 only; see the module docstring)."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(cls.invalidate_caches, "reread"):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            sig = None  # gone or unreadable: let the re-read decide
        if sig is not None and sig == getattr(self, "_read_sig", None):
            return
        # stat before reading: a rewrite racing the read is seen next time
        reread(self)
        self._read_sig = sig

    invalidate_caches.reread = reread
    cls.invalidate_caches = invalidate_caches


_install_stat_checked_zip_invalidation()
