"""The worker zip-directory cache (``datafusion_remote_table_spark.zipcache``):
an unchanged archive is not re-read, a changed one is, and only PySpark
worker processes get the wrapper."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from datafusion_remote_table_spark import zipcache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding ``zc_mod_a``, the wrapper installed (the
    stock method restored afterwards), and a counter of this archive's
    ``zipimport._read_directory`` calls."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "VALUE = 1\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipcache, "_stamps", {})
    monkeypatch.syspath_prepend(path)
    zipcache.install()
    import zc_mod_a  # noqa: F401  (creates the path's zipimporter)

    reads.clear()
    yield path, reads
    zipimport._zip_directory_cache.pop(path, None)
    sys.path_importer_cache.pop(path, None)
    for mod in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(mod, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()  # first call stamps the archive: one read
    n = len(reads)
    assert n == 1
    for _ in range(3):
        importlib.invalidate_caches()
    # a second importer over the same archive shares the stamp
    zipimport.zipimporter(path).invalidate_caches()
    assert len(reads) == n


def test_rewritten_in_place_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    ino = os.stat(path).st_ino
    # the rewrite changes the size: a same-size rewrite inside one
    # filesystem timestamp tick keeps the stat stamp (module docstring)
    _write_zip(path, {"zc_mod_a": "VALUE = 1\n", "zc_mod_b": "VALUE = 2\n"})
    assert os.stat(path).st_ino == ino
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    import zc_mod_b

    assert zc_mod_b.VALUE == 2


def test_replaced_by_rename_is_reread(archive, tmp_path):
    path, reads = archive
    importlib.invalidate_caches()
    other = zipimport.zipimporter(path)  # a second importer, holding the old directory
    fresh = str(tmp_path / "fresh.zip")
    _write_zip(fresh, {"zc_mod_a": "VALUE = 1\n", "zc_mod_b": "VALUE = 3\n"})
    os.replace(fresh, path)
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    # the other importer adopts the re-read directory without a read of its own
    other.invalidate_caches()
    assert len(reads) == n + 1
    assert other._files is zipimport._zip_directory_cache[path]
    import zc_mod_b

    assert zc_mod_b.VALUE == 3


def test_install_twice_is_a_noop(archive):
    path, reads = archive
    zipcache.install()
    assert zipcache.installed()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1


def _installed_in_subprocess(env: dict[str, str]) -> str:
    code = (
        "import datafusion_remote_table_spark\n"
        "from datafusion_remote_table_spark import zipcache\n"
        "print(zipcache.installed())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, capture_output=True, text=True, timeout=120, check=True
    )
    return out.stdout.strip().splitlines()[-1]


def test_driver_keeps_the_stock_method():
    env = {k: v for k, v in os.environ.items() if k != zipcache.WORKER_ENV}
    assert _installed_in_subprocess(env) == "False"
    # the same import with the env the JVM gives its workers installs it
    assert _installed_in_subprocess({**env, zipcache.WORKER_ENV: "x"}) == "True"


def test_executor_and_planner_workers_get_the_wrapper(spark):
    from pyspark.sql.datasource import DataSource, DataSourceReader
    from pyspark.sql.types import StructField, StructType, StringType

    def report(batches):
        import pandas as pd

        import datafusion_remote_table_spark  # noqa: F401
        from datafusion_remote_table_spark import zipcache as zc

        for _ in batches:
            pass
        yield pd.DataFrame({"installed": [str(zc.installed())]})

    rows = spark.range(1, numPartitions=1).mapInPandas(report, "installed string").collect()
    assert [r.installed for r in rows] == ["True"]

    class _EmptyReader(DataSourceReader):
        def read(self, partition):
            return iter(())

    class ZipcacheProbe(DataSource):
        @classmethod
        def name(cls):
            return "zipcache_probe"

        def schema(self):
            # runs in the planner worker's create_data_source: no user schema
            import datafusion_remote_table_spark  # noqa: F401
            from datafusion_remote_table_spark import zipcache as zc

            return StructType([StructField(f"installed_{zc.installed()}", StringType())])

        def reader(self, schema):
            return _EmptyReader()

    spark.dataSource.register(ZipcacheProbe)
    assert spark.read.format("zipcache_probe").load().schema.names == ["installed_True"]
