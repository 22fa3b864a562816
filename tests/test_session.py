"""The session factory: the Python worker daemon and ``local_df``."""

from __future__ import annotations

import math
import zipfile

import pytest

from qdrant_spark._pydaemon import worker_path
from qdrant_spark.session import local_df

VERSION_PY = b"__version__: str = '4.1.2'\n"


def test_worker_imports_installed_pyspark(spark):
    """A task's worker imports pyspark from a directory, and holds no zip
    importer for ``importlib.invalidate_caches()`` to re-read on every
    task (Spark's default daemon: ``.../pyspark.zip/pyspark/__init__.py``
    and 16 importers)."""

    def probe(it):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        zips = sum(isinstance(v, zipimport.zipimporter)
                   for v in sys.path_importer_cache.values())
        for _ in it:
            pass
        yield pa.RecordBatch.from_pydict(
            {"file": [pyspark.__file__], "zip_importers": [zips]})

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        probe, "file string, zip_importers long").collect()
    assert ".zip" not in row.file and ".jar" not in row.file, row.file
    assert row.zip_importers == 0


def _zip(path, members: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


def _package(root, name: str, files: dict[str, bytes]) -> None:
    pkg = root / name
    pkg.mkdir(parents=True)
    for fname, data in {"__init__.py": b"", **files}.items():
        (pkg / fname).write_bytes(data)


@pytest.fixture
def archives(tmp_path):
    """Spark's three archives (pyspark, py4j, a jar without Python) and
    a site dir that holds an installed py4j."""
    spark_zip = _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": b"", "pyspark/version.py": VERSION_PY})
    py4j_zip = _zip(tmp_path / "py4j-src.zip", {"py4j/__init__.py": b""})
    jar = _zip(tmp_path / "spark-core.jar", {"org/Spark.class": b"\0"})
    site = tmp_path / "site"
    _package(site, "py4j", {})
    return [spark_zip, py4j_zip, jar], site


def test_worker_path_drops_archives_for_same_release(archives):
    zips, site = archives
    _package(site, "pyspark", {"version.py": VERSION_PY})
    path = ["/cwd", *zips, str(site)]
    assert worker_path(path) == (["/cwd", str(site)], None)


def test_worker_path_keeps_user_archives(archives, tmp_path):
    zips, site = archives
    _package(site, "pyspark", {"version.py": VERSION_PY})
    user = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": b""})
    assert worker_path([*zips, user, str(site)]) == ([user, str(site)], None)


def test_worker_path_keeps_archives_for_other_release(archives):
    zips, site = archives
    _package(site, "pyspark", {"version.py": b"__version__ = '4.0.0'\n"})
    path = [*zips, str(site)]
    kept, why = worker_path(path)
    assert kept == path and "differs" in why


def test_worker_path_keeps_archives_without_installed_pyspark(archives):
    zips, site = archives
    path = [*zips, str(site)]
    kept, why = worker_path(path)
    assert kept == path and "no installed pyspark" in why


def test_worker_path_without_archives_is_unchanged(tmp_path):
    assert worker_path([str(tmp_path)]) == ([str(tmp_path)], None)


@pytest.mark.parametrize("arrow_fallback", ["true", "false"])
def test_local_df_falls_back_for_nan_and_mixed_key_maps(spark, arrow_fallback):
    """Rows the Arrow path cannot carry (a NaN, which it would turn into
    NULL; a map with int and str keys, which it rejects) come back equal
    to plain ``createDataFrame``, whether or not Spark's own Arrow
    fallback is on."""
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    spark.conf.set(key, arrow_fallback)
    try:
        nan_rows = [(1, float("nan"), [1.0, float("nan")])]
        nan_schema = "id long, x double, v array<double>"
        got = local_df(spark, nan_rows, nan_schema).collect()
        # NaN != NaN: compare the rows' reprs
        assert repr(got) == repr(
            spark.createDataFrame(nan_rows, nan_schema).collect())
        assert math.isnan(got[0].x) and math.isnan(got[0].v[1])

        map_rows = [(1, {1: "a", "b": "c"})]
        map_schema = "id long, m map<string,string>"
        got = local_df(spark, map_rows, map_schema).collect()
        assert got == spark.createDataFrame(map_rows, map_schema).collect()
        assert got[0].m == {"1": "a", "b": "c"}
    finally:
        spark.conf.unset(key)


def test_local_df_propagates_other_errors(spark, monkeypatch):
    """An error outside the Arrow conversion is a bug, not a shape to fall
    back from."""
    import pandas as pd

    create = spark.createDataFrame

    def broken(data, *args, **kwargs):
        if isinstance(data, pd.DataFrame):
            raise RuntimeError("boom")
        return create(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", broken)
    with pytest.raises(RuntimeError, match="boom"):
        local_df(spark, [(1, 2.0)], "id long, x double")


@pytest.mark.parametrize("gib, want", [
    (15, "6144m"),    # a 15 GiB box: 40 %
    (256, "49152m"),  # capped at 48g
    (1, "512m"),      # never under 512m
])
def test_default_driver_memory_sized_from_box(monkeypatch, gib, want):
    """Without ``SPARK_GRAFT_DRIVER_MEM`` the driver heap is 40 % of
    physical memory, capped at 48g — not a fixed 48g that outgrows a
    small box."""
    from qdrant_spark import session

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._default_driver_memory() == want
