import importlib
import sys
import zipfile
import zipimport

import pytest

from spark_frontier import worker_daemon


def test_worker_task_flush_rereads_no_archive(spark):
    """A task's importlib.invalidate_caches() (PySpark runs one before
    every task) re-parses no zip directory: the session's workers are
    forked from worker_daemon, which made the flush a stat per archive."""

    def count_rereads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"rereads": [len(reads)], "zip_importers": [n_zip]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(count_rereads, "rereads long, zip_importers long")
        .collect()
    )
    assert len(rows) == 4
    # the workers import pyspark from pyspark.zip, so the flush has
    # zipimporters to skip
    assert all(r["zip_importers"] > 0 for r in rows)
    assert [r["rereads"] for r in rows] == [0] * 4


@pytest.mark.skipif(not worker_daemon.EAGER_REREAD,
                    reason="this interpreter re-reads zip directories lazily")
def test_patched_flush_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")

    def write(**modules):
        with zipfile.ZipFile(archive, "w") as zf:
            for name, body in modules.items():
                zf.writestr(f"{name}.py", body)

    write(wd_old="X = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("wd_old").X == 1
        importlib.invalidate_caches()  # first flush records the stamp
        reads.clear()

        importlib.invalidate_caches()
        assert archive not in reads  # unchanged: one stat, no re-read

        write(wd_old="X = 1\n", wd_new="Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("wd_new").Y == 2
    finally:
        for name in ("wd_old", "wd_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
