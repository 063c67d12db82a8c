"""The engine's Python worker daemon (daemon.py): a zip archive on the
import path keeps its directory across importlib.invalidate_caches() until
the file changes, and get_spark's workers run with the wrapper installed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from youtubeanalyzerproject_big_data__spark import daemon


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """(importer, write): module ``zipmod_probe`` imported from a zip on
    sys.path, with the daemon's wrapper installed; ``write(src)`` rewrites
    the archive."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)
    archive = str(tmp_path / "mods.zip")

    def write(src: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zipmod_probe.py", src)

    write("VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    import zipmod_probe

    assert zipmod_probe.VALUE == 1
    yield sys.path_importer_cache[archive], write
    sys.modules.pop("zipmod_probe", None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_keeps_its_directory(zip_module):
    importer, _ = zip_module
    assert isinstance(importer, zipimport.zipimporter)
    importlib.invalidate_caches()  # first call reads at the current stamp
    files = importer._files
    for _ in range(3):
        importlib.invalidate_caches()
        assert importer._files is files
    daemon._reread(importer)  # the stock method re-reads every time
    assert importer._files is not files


def test_rewritten_archive_is_reread(zip_module):
    importer, write = zip_module
    importlib.invalidate_caches()
    files = importer._files
    write("VALUE = 22  # new content, new size\n")
    importlib.invalidate_caches()
    assert importer._files is not files
    del sys.modules["zipmod_probe"]
    import zipmod_probe

    assert zipmod_probe.VALUE == 22


def test_get_spark_workers_run_the_wrapper(spark):
    from youtubeanalyzerproject_big_data__spark.session import DAEMON_MODULE, get_spark

    before = spark.conf.getAll
    try:
        s = get_spark()
        assert s.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

        def probe(batches):
            import zipimport

            import pandas as pd

            fn = zipimport.zipimporter.invalidate_caches
            for b in batches:
                yield pd.DataFrame({"wrapper": [f"{fn.__module__}.{fn.__qualname__}"] * len(b)})

        got = {r["wrapper"] for r in s.range(8).repartition(4).mapInPandas(probe, "wrapper string").collect()}
        assert got == {f"{DAEMON_MODULE}.invalidate_caches"}
    finally:
        after = spark.conf.getAll  # put back the SQL confs get_spark applied
        for key in after.keys() - before.keys():
            if spark.conf.isModifiable(key):
                spark.conf.unset(key)
        for key, value in before.items():
            if after.get(key) != value and spark.conf.isModifiable(key):
                spark.conf.set(key, value)
