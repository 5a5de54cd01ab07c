"""The zip-archive re-read guard (osml10n_spark/_zipguard.py): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a rewritten one is, and every engine UDF worker runs with the guard.
"""
import importlib
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osml10n_spark import _zipguard

GUARD = "osml10n_spark._zipguard.invalidate_caches"


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches is _zipguard.invalidate_caches
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("zg_first").VALUE == 1
        importlib.invalidate_caches()      # stamps the importer
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"zg_first": "VALUE = 1\n",
                             "zg_second": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("zg_second").VALUE == 2
    finally:
        for name in ("zg_first", "zg_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_worker_runs_with_the_guard_after_localize(spark):
    """The probe is chained onto the cascade UDF, so it runs in the same
    Python worker that unpickled the engine's UDF."""
    from osml10n_spark.engine.localize import localize

    @pandas_udf("string")
    def guard_name(s: pd.Series) -> pd.Series:
        import zipimport
        f = zipimport.zipimporter.invalidate_caches
        return pd.Series([f"{f.__module__}.{f.__qualname__}"] * len(s))

    df = spark.createDataFrame(
        [("a", {"name": "Berlin"}, 13.4, 52.5)],
        "image_id string, tags map<string,string>, lon double, lat double")
    row = localize(df, "de", add_cells=False) \
        .select("caption_l10n", guard_name(F.col("caption_l10n")).alias("g")) \
        .collect()[0]
    assert row.caption_l10n == "Berlin"
    assert row.g == GUARD
