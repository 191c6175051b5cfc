"""The Python worker daemon (``_daemon.py``): workers import the installed
pyspark, not Spark's zip, and fork from a frozen heap; the path reorder
only happens when the zip and the installed pyspark are the same version."""

import os
import zipfile

from ai_textbook_processor_spark._daemon import prefer_installed_pyspark


def _fake_spark_home(tmp_path, version):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    return str(tmp_path / "spark"), [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")]


def _fake_site_packages(tmp_path, version):
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f'__version__: str = "{version}"\n')
    return str(site)


def test_matching_version_moves_zips_behind(tmp_path):
    home, zips = _fake_spark_home(tmp_path, "9.9.9")
    site = _fake_site_packages(tmp_path, "9.9.9")
    path = [str(tmp_path), *zips, "/stdlib", site]
    assert prefer_installed_pyspark(path, home) == [str(tmp_path), "/stdlib", site, *zips]


def test_version_mismatch_keeps_spark_order(tmp_path):
    home, zips = _fake_spark_home(tmp_path, "9.9.8")
    site = _fake_site_packages(tmp_path, "9.9.9")
    path = [str(tmp_path), *zips, "/stdlib", site]
    assert prefer_installed_pyspark(path, home) == path


def test_no_installed_pyspark_keeps_spark_order(tmp_path):
    home, zips = _fake_spark_home(tmp_path, "9.9.9")
    path = [str(tmp_path), *zips, "/stdlib"]
    assert prefer_installed_pyspark(path, home) == path
    assert prefer_installed_pyspark(path, None) == path


def test_worker_imports_installed_pyspark_from_frozen_heap(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        import gc

        import pyspark

        return pd.Series([f"{pyspark.__file__}|{gc.get_freeze_count()}"] * len(x))

    rows = spark.range(4).repartition(2).select(probe("id").alias("p")).distinct().collect()
    assert rows
    for r in rows:
        pyspark_file, frozen = r.p.rsplit("|", 1)
        assert "pyspark.zip" not in pyspark_file, pyspark_file
        assert os.path.isfile(pyspark_file)
        assert int(frozen) > 0
