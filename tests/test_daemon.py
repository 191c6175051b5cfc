"""The Python worker daemon (``_daemon.py``): workers import the installed
pyspark, not Spark's zip, search no archive without Python, cache no zip
importer and fork from a frozen heap; a Spark lib zip is only dropped when
the rest of the path holds its package at the zip's version."""

import os
import sys
import zipfile
import zipimport

from ai_textbook_processor_spark._daemon import forget_importers, trim_worker_path


def _fake_spark_home(tmp_path, version, py4j_version="0.10.9.9"):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
        z.writestr("py4j/version.py", f"__version__ = '{py4j_version}'\n")
    return str(tmp_path / "spark"), [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")]


def _fake_site_packages(tmp_path, version, py4j_version="0.10.9.9"):
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f'__version__: str = "{version}"\n')
    (site / "py4j").mkdir()
    (site / "py4j" / "__init__.py").write_text("")
    (site / "py4j" / "version.py").write_text(f'__version__ = "{py4j_version}"\n')
    return str(site)


def _jar(tmp_path, name, members):
    path = tmp_path / name
    with zipfile.ZipFile(path, "w") as z:
        for m in members:
            z.writestr(m, "x")
    return str(path)


def test_matching_version_drops_zips(tmp_path):
    home, zips = _fake_spark_home(tmp_path, "9.9.9")
    site = _fake_site_packages(tmp_path, "9.9.9")
    path = [str(tmp_path), *zips, "/stdlib", site]
    assert trim_worker_path(path, home) == [str(tmp_path), "/stdlib", site]


def test_version_mismatch_keeps_spark_order(tmp_path):
    home, zips = _fake_spark_home(tmp_path, "9.9.8")
    site = _fake_site_packages(tmp_path, "9.9.9", py4j_version="0.10.9.8")
    path = [str(tmp_path), *zips, "/stdlib", site]
    assert trim_worker_path(path, home) == path


def test_each_spark_zip_is_checked_against_its_own_package(tmp_path):
    # pyspark differs, py4j matches: only the py4j zip goes
    home, zips = _fake_spark_home(tmp_path, "9.9.8")
    site = _fake_site_packages(tmp_path, "9.9.9")
    path = [str(tmp_path), *zips, "/stdlib", site]
    assert trim_worker_path(path, home) == [str(tmp_path), zips[0], "/stdlib", site]
    # py4j differs, pyspark matches: only pyspark.zip goes
    (tmp_path / "b").mkdir()
    home, zips = _fake_spark_home(tmp_path / "b", "9.9.9")
    site = _fake_site_packages(tmp_path / "b", "9.9.9", py4j_version="0.10.9.8")
    path = [*zips, site]
    assert trim_worker_path(path, home) == [zips[1], site]


def test_no_installed_pyspark_keeps_spark_order(tmp_path):
    home, zips = _fake_spark_home(tmp_path, "9.9.9")
    path = [str(tmp_path), *zips, "/stdlib"]
    assert trim_worker_path(path, home) == path
    assert trim_worker_path(path, None) == path


def test_python_free_jar_is_dropped_even_on_version_mismatch(tmp_path):
    home, zips = _fake_spark_home(tmp_path, "9.9.8")
    site = _fake_site_packages(tmp_path, "9.9.9", py4j_version="0.10.9.8")
    jar = _jar(tmp_path, "spark-core.jar", ["org/apache/spark/A.class", "META-INF/MANIFEST.MF"])
    path = [str(tmp_path), *zips, jar, site]
    assert trim_worker_path(path, home) == [str(tmp_path), *zips, site]
    assert trim_worker_path([jar, site], None) == [site]


def test_zip_holding_python_stays(tmp_path):
    src = _jar(tmp_path, "deps.zip", ["mypkg/__init__.py", "mypkg/data.bin"])
    pyc = _jar(tmp_path, "compiled.zip", ["mypkg2/__init__.pyc"])
    not_a_zip = tmp_path / "notes.zip"
    not_a_zip.write_text("plain text")
    path = [src, pyc, str(not_a_zip), str(tmp_path / "missing.zip")]
    assert trim_worker_path(path, None) == path


def test_forget_importers_purges_dropped_paths_and_sub_paths(tmp_path):
    jar = _jar(tmp_path, "spark-core.jar", ["org/apache/spark/A.class"])
    keep = _jar(tmp_path, "deps.zip", ["mypkg/__init__.py"])
    keys = [jar, os.path.join(jar, "org"), keep, jar + "-other"]
    saved = {k: sys.path_importer_cache.get(k) for k in keys}
    try:
        sys.path_importer_cache[jar] = zipimport.zipimporter(jar)
        sys.path_importer_cache[os.path.join(jar, "org")] = zipimport.zipimporter(
            os.path.join(jar, "org")
        )
        sys.path_importer_cache[keep] = zipimport.zipimporter(keep)
        sys.path_importer_cache[jar + "-other"] = None
        forget_importers({jar})
        assert jar not in sys.path_importer_cache
        assert os.path.join(jar, "org") not in sys.path_importer_cache
        assert keep in sys.path_importer_cache
        assert jar + "-other" in sys.path_importer_cache
    finally:
        for k, v in saved.items():
            sys.path_importer_cache.pop(k, None)
            if v is not None:
                sys.path_importer_cache[k] = v


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


def test_worker_caches_no_zip_importer(spark):
    """Inside a Spark worker no zip importer is cached (each one makes
    every task's importlib.invalidate_caches() re-read its archive), and
    the path holds no Spark lib zip and no archive without Python."""
    import json

    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        import json
        import sys
        import zipimport

        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        return pd.Series([json.dumps({"zips": zips, "path": sys.path})] * len(x))

    rows = spark.range(4).repartition(2).select(probe("id").alias("p")).distinct().collect()
    assert rows
    lib = os.path.realpath(os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"), "python", "lib"))
    for r in rows:
        got = json.loads(r.p)
        assert got["zips"] == [], got["zips"]
        for entry in got["path"]:
            assert os.path.dirname(os.path.realpath(entry)) != lib, entry
            assert not os.path.basename(entry).startswith(("pyspark.zip", "py4j-")), entry
            if os.path.isfile(entry) and zipfile.is_zipfile(entry):
                with zipfile.ZipFile(entry) as z:
                    assert any(n.endswith((".py", ".pyc")) for n in z.namelist()), entry
