"""Python workers of a ``get_spark`` session import pyspark outside Spark's
archives (``worker_daemon``), so ``importlib.invalidate_caches()`` before
each task re-reads no zip central directory.

Covered: the workers of the shared session hold no ``zipimporter``; the path
filter as a pure function (drops only ``pyspark.zip``, ``py4j-*-src.zip`` and
``*.jar``, and only when an installed pyspark of the archive's version and
py4j resolve elsewhere); a fresh driver that imports the package from a zip,
run outside the checkout, so the daemon is importable only through
``spark.executorEnv.PYTHONPATH``."""

import json
import os
import subprocess
import sys
import zipfile

import pytest

from pandora_apache_avro_idl_to_apache_parquet_spark.worker_daemon import (
    without_spark_archives,
)

PKG = "pandora_apache_avro_idl_to_apache_parquet_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_pyspark_outside_archives(spark):
    # nested, so the worker gets it by value: tests/ is not on its path
    def _worker_imports(batches):
        import json
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({"pyspark_file": [pyspark.__file__],
                                          "zips": [json.dumps(zips)]})

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(_worker_imports, "pyspark_file string, zips string")
           .collect()[0])
    assert ".zip" not in row.pyspark_file and ".jar" not in row.pyspark_file
    assert json.loads(row.zips) == []


# --------------------------------------------------------------- path filter


def _site(root, pyspark_version="4.1.2", with_pyspark=True, with_py4j=True):
    """A site-packages stand-in: pyspark (with dist-info) and py4j."""
    os.makedirs(root)
    if with_pyspark:
        os.makedirs(os.path.join(root, "pyspark"))
        open(os.path.join(root, "pyspark", "__init__.py"), "w").close()
        info = os.path.join(root, f"pyspark-{pyspark_version}.dist-info")
        os.makedirs(info)
        with open(os.path.join(info, "METADATA"), "w") as fh:
            fh.write(f"Metadata-Version: 2.1\nName: pyspark\nVersion: {pyspark_version}\n")
    if with_py4j:
        os.makedirs(os.path.join(root, "py4j"))
        open(os.path.join(root, "py4j", "__init__.py"), "w").close()
    return root


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return path


@pytest.fixture()
def spark_lib(tmp_path):
    """Spark's three archives plus two zips that are not Spark's."""
    lib = tmp_path / "lib"
    lib.mkdir()
    return {
        "pyspark": _zip(str(lib / "pyspark.zip"), {
            "pyspark/__init__.py": "",
            "pyspark/version.py": "__version__: str = '4.1.2'\n"}),
        "py4j": _zip(str(lib / "py4j-0.10.9.9-src.zip"), {"py4j/__init__.py": ""}),
        "jar": _zip(str(lib / "spark-core_2.13-4.1.2.jar"), {"META-INF/MANIFEST.MF": ""}),
        "stdlib": _zip(str(lib / "python311.zip"), {"json_extra.py": ""}),
        "py_files": _zip(str(lib / "deps.zip"), {"deps/__init__.py": ""}),
    }


def test_path_filter_drops_only_spark_archives(tmp_path, spark_lib):
    site = _site(str(tmp_path / "site"))
    path = [str(tmp_path), spark_lib["pyspark"], spark_lib["py4j"], spark_lib["jar"],
            spark_lib["py_files"], spark_lib["stdlib"], site]
    assert without_spark_archives(path) == [
        str(tmp_path), spark_lib["py_files"], spark_lib["stdlib"], site]


@pytest.mark.parametrize("site_kw", [
    {"with_pyspark": False},
    {"with_py4j": False},
    {"pyspark_version": "4.0.0"},
], ids=["no-pyspark", "no-py4j", "version-differs"])
def test_path_filter_keeps_path_without_matching_install(tmp_path, spark_lib, site_kw):
    site = _site(str(tmp_path / "site"), **site_kw)
    path = [spark_lib["pyspark"], spark_lib["py4j"], spark_lib["jar"],
            spark_lib["py_files"], site]
    assert without_spark_archives(path) == path


def test_path_filter_without_spark_archives_is_identity(tmp_path, spark_lib):
    site = _site(str(tmp_path / "site"))
    path = [spark_lib["py_files"], spark_lib["stdlib"], site]
    assert without_spark_archives(path) == path


# ------------------------------------------------------ fresh driver from a zip

_JOB = f"""
import json, sys
sys.path.insert(0, sys.argv[1])
from {PKG}.session import get_spark


def square(batches):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyspark
    for b in batches:
        ids = b.column(0)
        yield pa.RecordBatch.from_arrays(
            [ids, pc.multiply(ids, ids), pa.array([pyspark.__file__] * len(b))],
            names=["id", "sq", "pyspark_file"])


spark = get_spark(app="worker-daemon-smoke", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
rows = (spark.range(10, numPartitions=2)
        .mapInArrow(square, "id long, sq long, pyspark_file string").collect())
print(json.dumps({{
    "rows": sorted([r.id, r.sq] for r in rows),
    "pyspark_files": sorted({{r.pyspark_file for r in rows}}),
    "daemon": spark.conf.get("spark.python.daemon.module"),
}}))
spark.stop()
"""


def test_driver_importing_package_from_zip(tmp_path):
    engine = str(tmp_path / "engine.zip")
    with zipfile.ZipFile(engine, "w") as zf:
        for root, dirs, files in os.walk(os.path.join(REPO, PKG)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, str(job), engine], cwd=str(tmp_path), env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] == [[i, i * i] for i in range(10)]
    assert out["daemon"] == f"{PKG}.worker_daemon"
    assert all(".zip" not in f for f in out["pyspark_files"])
