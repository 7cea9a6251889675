"""The Python worker daemon (``worker_daemon``): a zip archive's directory
is re-read only when the archive changed, per importer instance, and
Spark's Python tasks run under it.

The Spark-free tests build small archives in ``tmp_path`` and count
calls to ``zipimport._read_directory``, the directory parse that every
``importlib.invalidate_caches()`` used to repeat."""

from __future__ import annotations

import importlib
import os
import pathlib
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest

from migrate_blob_data_from_rdbms_to_amazon_s3_spark import worker_daemon


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in call order."""
    calls: list[str] = []
    read = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _archive(path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in members.items():
            zf.writestr(name, source)
    return str(path)


def test_importing_the_module_patches_zipimporter():
    assert zipimport.zipimporter.invalidate_caches is worker_daemon.invalidate_caches


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = _archive(tmp_path / "a.zip", {"zd_same.py": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads.clear()  # the constructor's own read, if the archive was uncached
    importer.invalidate_caches()  # an importer's first call always re-reads
    assert reads == [archive]
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == [archive]


def test_rewritten_archive_is_reread_and_its_new_member_imports(tmp_path, reads,
                                                                monkeypatch):
    archive = _archive(tmp_path / "b.zip", {"zd_first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)  # also calls invalidate_caches
    for name in ("zd_first", "zd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zd_first").X == 1
    with pytest.raises(ImportError):
        importlib.import_module("zd_second")
    n_reads = len(reads)

    _archive(archive, {"zd_first.py": "X = 1\n", "zd_second.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads[n_reads:].count(archive) == 1
    assert importlib.import_module("zd_second").Y == 2


def test_every_importer_of_a_changed_archive_refreshes(tmp_path, reads):
    """Two importers share one archive (the root and a package prefix):
    after a change both see the new members, not only the first one
    asked."""
    archive = _archive(tmp_path / "c.zip", {"zd_root.py": "", "pkg/__init__.py": ""})
    root = zipimport.zipimporter(archive)
    pkg = zipimport.zipimporter(f"{archive}/pkg")
    root.invalidate_caches()
    pkg.invalidate_caches()
    reads.clear()

    _archive(archive, {"zd_root.py": "", "pkg/__init__.py": "",
                       "zd_new.py": "", "pkg/zd_pkg_new.py": ""})
    root.invalidate_caches()
    pkg.invalidate_caches()
    assert reads == [archive, archive]
    assert root.find_spec("zd_new") is not None
    assert pkg.find_spec("zd_pkg_new") is not None


def test_archive_that_cannot_be_stat_ed_is_reread(tmp_path, reads):
    archive = _archive(tmp_path / "d.zip", {"zd_gone.py": ""})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    reads.clear()
    (tmp_path / "d.zip").unlink()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive, archive]
    assert importer.find_spec("zd_gone") is None


def test_sessions_fork_python_workers_from_the_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        worker_daemon.__name__
    )


def test_python_task_runs_with_the_patched_importer(spark):
    """Inside a ``mapInPandas`` task ``invalidate_caches`` is the
    daemon's, and a repeat ``importlib.invalidate_caches()`` re-reads no
    archive although the worker imports from zip archives."""

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        calls = []
        read = zipimport._read_directory

        def counted(archive):
            calls.append(archive)
            return read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        patched = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({
            "code_file": [patched.__code__.co_filename],
            "n_zip_importers": [sum(isinstance(f, zipimport.zipimporter)
                                    for f in sys.path_importer_cache.values())],
            "n_reads": [len(calls)],
        })

    row = spark.range(100, numPartitions=1).mapInPandas(
        probe, "code_file string, n_zip_importers int, n_reads int"
    ).collect()[0]
    assert row.code_file.endswith("worker_daemon.py")
    assert row.n_zip_importers > 0
    assert row.n_reads == 0


def test_driver_started_elsewhere_gets_python_workers(tmp_path):
    """A driver started in another directory that reaches the package
    through its own ``sys.path``, with no ``PYTHONPATH``, still runs
    Python tasks: in local mode ``get_spark`` puts the package's parent
    directory on the workers' path (``spark.executorEnv.PYTHONPATH``)."""
    root = pathlib.Path(worker_daemon.__file__).resolve().parents[1]
    driver = tmp_path / "driver.py"
    driver.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(root)!r})
        from migrate_blob_data_from_rdbms_to_amazon_s3_spark import get_spark
        spark = get_spark(app_name="driver-elsewhere", cpus=1)
        rows = spark.range(3).mapInPandas(lambda it: it, "id long").collect()
        print("ROWS", sorted(r.id for r in rows))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, str(driver)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "ROWS [0, 1, 2]" in out.stdout, out.stderr[-3000:]
