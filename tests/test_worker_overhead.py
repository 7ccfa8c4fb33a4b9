"""Fixed per-task and per-connection costs on the COPY sink path.

- Python workers: pyspark calls ``importlib.invalidate_caches()`` at the
  start of every task. Before Python 3.12 that re-reads the central
  directory of every zip on ``sys.path``; importing the package installs
  a stat-checked version (``session._install_stat_checked_zip_invalidation``)
  that re-reads only archives that changed.
- The pgwire stub sends each reply as several small writes; it must set
  ``TCP_NODELAY`` so Nagle does not hold them for the client's delayed
  ACK (~40 ms per statement).
"""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipfile
import zipimport

import pytest

from insight_gp_import_spark import session


def _write_zip(path, files: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12+ repopulates zip caches lazily")
def test_invalidate_caches_skips_unchanged_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"igis_zip_probe.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("igis_zip_probe", "igis_zip_probe_new"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("igis_zip_probe").VALUE == 1
    importlib.invalidate_caches()  # each importer's first call reads

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"igis_zip_probe.py": "VALUE = 2\n",
                         "igis_zip_probe_new.py": "NEW = True\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    del sys.modules["igis_zip_probe"]
    assert importlib.import_module("igis_zip_probe").VALUE == 2
    assert importlib.import_module("igis_zip_probe_new").NEW is True
    sys.path_importer_cache.pop(archive, None)


def test_zip_invalidation_install_is_idempotent():
    before = zipimport.zipimporter.invalidate_caches
    session._install_stat_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is before


def test_pgwire_stub_round_trips_without_nagle_stalls():
    """20 BEGIN/COMMIT pairs: a few ms with TCP_NODELAY on the stub's
    side, >= 0.8 s when each reply's second write waits for a delayed
    ACK."""
    from insight_gp_import_spark.sources import PgWireClient, PgWireStubServer

    with PgWireStubServer() as srv:
        c = PgWireClient(srv.host, srv.port)
        t0 = time.perf_counter()
        for _ in range(20):
            c.query("BEGIN")
            c.query("COMMIT")
        elapsed = time.perf_counter() - t0
        c.close()
    assert elapsed < 0.5, elapsed
