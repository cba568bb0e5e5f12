"""The engine's Python worker daemon (session.get_spark): workers run the
stat-guarded zipimport refresh, archives that change are still re-read, and
unchanged ones are not."""

from __future__ import annotations

import importlib.util
import os
import uuid
import zipfile
import zipimport

import pandas as pd

from etl_ch_destination_spark.session import WORKER_DAEMON_DIR, WORKER_DAEMON_MODULE


def _daemon_module():
    spec = importlib.util.spec_from_file_location(
        WORKER_DAEMON_MODULE,
        os.path.join(WORKER_DAEMON_DIR, WORKER_DAEMON_MODULE + ".py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)


def test_get_spark_worker_runs_patched_invalidate_caches(spark):
    def probe(it):
        import zipimport as zi

        code = zi.zipimporter.invalidate_caches.__code__
        for _ in it:
            yield pd.DataFrame({"f": [os.path.basename(code.co_filename)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "f string").collect()
    assert rows[0]["f"] == WORKER_DAEMON_MODULE + ".py"


def test_addpyfile_zip_imports_after_workers_are_warm(spark, tmp_path):
    def ident(it):
        yield from it

    spark.range(4, numPartitions=4).mapInPandas(ident, "id long").collect()

    name = "graft_pyfile_" + uuid.uuid4().hex[:8]
    path = str(tmp_path / (name + ".zip"))
    _write_zip(path, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def use(it):
        mod = importlib.import_module(name)
        for pdf in it:
            yield pdf.assign(id=pdf["id"] * 0 + mod.VALUE)

    got = spark.range(4, numPartitions=4).mapInPandas(use, "id long").collect()
    assert [r["id"] for r in got] == [42] * 4


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    daemon = _daemon_module()
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"first_mod": "A = 1\n"})
    imp, twin = zipimport.zipimporter(path), zipimport.zipimporter(path)
    assert len(reads) == 1  # the twin reuses zipimport's directory cache

    daemon.invalidate_caches(imp)  # no stamp yet: read
    daemon.invalidate_caches(imp)  # unchanged: skipped
    assert len(reads) == 2
    daemon.invalidate_caches(twin)  # the guard is per importer
    daemon.invalidate_caches(twin)
    assert len(reads) == 3

    os.remove(path)
    _write_zip(path, {"first_mod": "A = 1\n", "second_mod": "B = 2\n"})
    assert imp.find_spec("second_mod") is None
    daemon.invalidate_caches(imp)
    assert len(reads) == 4
    assert imp.find_spec("second_mod") is not None
    daemon.invalidate_caches(imp)
    assert len(reads) == 4
