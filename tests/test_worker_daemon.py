"""The Python worker daemon re-reads a zip archive only when it changed."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

from binance_etl_spark import worker_daemon


def _probe(batches):
    import importlib
    import time
    import zipimport

    import pandas as pd

    for _ in batches:
        pass
    fn = zipimport.zipimporter.invalidate_caches
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    yield pd.DataFrame({"src": [fn.__code__.co_filename], "ms": [ms]})


def test_workers_run_the_guarded_invalidate_caches(spark):
    (row,) = spark.range(1, numPartitions=1).mapInPandas(_probe, "src string, ms double").collect()
    if sys.version_info < (3, 13):  # 3.13+ keeps the stock, already lazy re-read
        assert row.src == worker_daemon.__file__
    assert row.ms < 50.0, f"invalidate_caches took {row.ms:.1f} ms in the worker"


def _write_zip(path, members: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_guarded_call_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # importing the module must not patch the importing process
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.invalidate_caches
    monkeypatch.setattr(worker_daemon, "_read_stamps", {})
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m.py": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    assert _load(importer, "m").VALUE == 1
    reads.clear()  # the constructor's own read

    worker_daemon.invalidate_caches(importer)  # first call: no stamp yet
    assert reads == [archive]
    worker_daemon.invalidate_caches(importer)  # unchanged archive
    assert reads == [archive]
    assert _load(importer, "m").VALUE == 1

    _write_zip(archive, {"m.py": "VALUE = 1\n", "n.py": "VALUE = 2\n"})
    worker_daemon.invalidate_caches(importer)
    assert reads == [archive, archive]
    assert _load(importer, "n").VALUE == 2
    worker_daemon.invalidate_caches(importer)
    assert reads == [archive, archive]
