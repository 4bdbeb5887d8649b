"""The Python worker daemon (``neuroner_spark.worker_daemon``): workers
skip re-reading unchanged zip and jar directories on every task, and
files shipped with ``addPyFile`` still import."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from neuroner_spark import worker_daemon


def _write_zip(path, members: dict) -> None:
    """Replace ``path`` with a zip of ``members`` (name -> source)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def directory_reads(monkeypatch):
    """Install the daemon's hook in this process for one test and
    return the list of archives whose directory is read meanwhile."""
    # setattr to the current values so that undo restores the stock ones
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    worker_daemon.install()
    reads = []
    keyed = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return keyed(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_hook_skips_unchanged_archives_and_rereads_rewritten_ones(
    directory_reads, tmp_path, monkeypatch
):
    archive = str(tmp_path / "wd_hook.zip")
    _write_zip(archive, {"wd_hook_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_hook_a").X == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        assert directory_reads.count(archive) == 1  # the importer's first read
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert directory_reads.count(archive) == 1  # unchanged: not re-read
        _write_zip(archive, {"wd_hook_a.py": "X = 1\n", "wd_hook_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert directory_reads.count(archive) == 2  # rewritten: re-read once
        assert importlib.import_module("wd_hook_b").Y == 2
        importlib.invalidate_caches()
        assert directory_reads.count(archive) == 2
    finally:
        for name in ("wd_hook_a", "wd_hook_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_run_the_hook_and_import_files_added_later(spark, tmp_path):
    """Workers fork from the package's daemon, import a ``.py`` and a
    ``.zip`` that ``addPyFile`` ships after the session's first Python
    stage, and read no zip directory on a worker's later tasks."""
    assert spark.range(2).mapInPandas(lambda it: it, "id long").count() == 2
    (tmp_path / "wd_added_py.py").write_text("VALUE = 'py'\n")
    _write_zip(tmp_path / "wd_added.zip", {"wd_added_zip.py": "VALUE = 'zip'\n"})
    spark.sparkContext.addPyFile(str(tmp_path / "wd_added_py.py"))
    spark.sparkContext.addPyFile(str(tmp_path / "wd_added.zip"))

    def probe(batches):
        import os
        import zipimport

        import wd_added_py
        import wd_added_zip

        from neuroner_spark import worker_daemon

        for _ in batches:
            pass
        # count directory reads from here to this worker's next task:
        # they include that task's setup_spark_files invalidation
        first = not hasattr(zipimport, "_wd_test_reads")
        if first:
            zipimport._wd_test_reads = []
            keyed = zipimport._read_directory

            def counting(archive):
                zipimport._wd_test_reads.append(archive)
                return keyed(archive)

            zipimport._read_directory = counting
        reads = len(zipimport._wd_test_reads)
        zipimport._wd_test_reads.clear()
        yield pd.DataFrame(
            {
                "hooked": [zipimport.zipimporter.invalidate_caches is worker_daemon.invalidate_caches],
                "py": [wd_added_py.VALUE],
                "zip": [wd_added_zip.VALUE],
                "pid": [os.getpid()],
                "first": [first],
                "reads": [reads],
            }
        )

    # more tasks than the 4 slots' workers: some worker runs several
    rows = (
        spark.range(0, 24, 1, 24)
        .mapInPandas(
            probe, "hooked boolean, py string, zip string, pid long, first boolean, reads long"
        )
        .collect()
    )
    assert {(r.hooked, r.py, r.zip) for r in rows} == {(True, "py", "zip")}
    later = [r for r in rows if not r.first]
    assert later, rows
    assert [r.reads for r in later] == [0] * len(later), rows
