"""The Python worker daemon's zip-directory cache: an unchanged archive
is never re-read on invalidation, a rewritten one is, and the engine's
session really runs its Python tasks under the daemon, SQL and RDD
tasks alike."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from lucene_solr_spark import pyworker


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    # re-set the patched attributes to themselves first, so monkeypatch
    # restores the stock zipimport when the test ends
    monkeypatch.setattr(zipimport, "_read_directory",
                        zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    pyworker.install()
    for mod in ("lss_zip_a", "lss_zip_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)

    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"lss_zip_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("lss_zip_a").VALUE == 1

    reads = []
    counted = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return counted(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"lss_zip_a": "VALUE = 1\n",
                         "lss_zip_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("lss_zip_b").VALUE == 2


def test_tasks_run_under_the_daemon(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(1, numPartitions=1).mapInPandas(
        probe, "m string").collect()
    assert [r["m"] for r in got] == ["lucene_solr_spark.pyworker"]


def test_sql_and_rdd_tasks_share_one_daemon(spark):
    # a worker's parent is the daemon that forked it
    def parent(batches):
        import os

        for _ in batches:
            pass
        yield pd.DataFrame({"ppid": [os.getppid()]})

    def rdd_parent(_):
        import os

        return os.getppid()

    sql = spark.range(1, numPartitions=1).mapInPandas(
        parent, "ppid long").collect()
    rdd = spark.sparkContext.parallelize([0], 1).map(rdd_parent).collect()
    assert [r["ppid"] for r in sql] == rdd
