"""The Python worker daemon (``datafusion_impl_spark.worker_daemon``) and the
import path of Spark's Python workers: forked workers start with pyspark
from the installed package and the regexp kernel already imported, the
package imports no pyspark on its own, and Python UDFs run whatever the
driver's working directory is."""

import importlib.metadata
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest

from datafusion_impl_spark.worker_daemon import _zip_version, prefer_installed_pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KERNEL = "datafusion_impl_spark.functions.regexp"


def _zip(path, version_py: str | None):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        if version_py is not None:
            zf.writestr("pyspark/version.py", version_py)
    return str(path)


def _site(tmp_path, version: str | None):
    """A site-packages directory holding a pyspark distribution's metadata
    (none when ``version`` is None)."""
    site = tmp_path / "site-packages"
    site.mkdir()
    if version is not None:
        info = site / f"pyspark-{version}.dist-info"
        info.mkdir()
        (info / "METADATA").write_text(f"Metadata-Version: 2.1\nName: pyspark\nVersion: {version}\n")
    return str(site)


def test_same_version_zip_moves_behind_the_installed_package(tmp_path):
    spark_zip = _zip(tmp_path / "pyspark.zip", "__version__: str = '4.1.2'\n")
    py4j = str(tmp_path / "py4j-0.10.9.9-src.zip")
    site = _site(tmp_path, "4.1.2")
    assert prefer_installed_pyspark([spark_zip, py4j, site]) == [py4j, site, spark_zip]


@pytest.mark.parametrize(
    "version_py, installed",
    [
        ("__version__: str = '4.0.0'\n", "4.1.2"),  # different version
        (None, "4.1.2"),  # zip without pyspark/version.py
        ("__version__: str = '4.1.2'\n", None),  # no installed pyspark
    ],
    ids=["other-version", "no-version-py", "not-installed"],
)
def test_path_is_unchanged_unless_versions_match(tmp_path, version_py, installed):
    spark_zip = _zip(tmp_path / "pyspark.zip", version_py)
    py4j = str(tmp_path / "py4j-0.10.9.9-src.zip")
    path = [spark_zip, py4j, _site(tmp_path, installed)]
    assert prefer_installed_pyspark(list(path)) == path


def test_package_import_loads_no_pyspark():
    code = textwrap.dedent(
        """
        import sys
        import datafusion_impl_spark
        assert "pyspark" not in sys.modules, "package import loaded pyspark"
        assert callable(datafusion_impl_spark.get_spark)
        """
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True, timeout=120)


def test_workers_fork_from_the_warm_daemon(spark):
    """A pandas UDF that never references the kernel finds it imported: the
    daemon preloaded it before forking. pyspark comes from the installed
    package whenever that matches the version of Spark's zip."""

    # No ``from __future__ import annotations`` in this file: pandas_udf
    # infers its type from these hints.
    def probe(ids: pd.Series) -> pd.Series:
        import pyspark

        zips = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
        report = json.dumps([KERNEL in sys.modules, pyspark.__file__, zips])
        return pd.Series([report] * len(ids))

    from pyspark.sql import functions as F

    udf = F.pandas_udf(probe, "string")
    rows = spark.range(0, 8, 1, 4).select(udf("id").alias("r")).distinct().collect()
    reports = [json.loads(r.r) for r in rows]
    assert reports and all(warm for warm, _, _ in reports), reports
    installed = importlib.metadata.version("pyspark")
    for _, pyspark_file, zips in reports:
        if zips and all(_zip_version(z) == installed for z in zips):
            assert ".zip" not in pyspark_file, pyspark_file


def test_udf_runs_when_driver_cwd_is_outside_checkout(tmp_path):
    """The driver imports the package from its own sys.path, not from
    PYTHONPATH or its working directory; the workers must still import it
    to unpickle the parity UDF."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from datafusion_impl_spark.functions import regexp_extract_safe
        from datafusion_impl_spark.session import get_spark

        spark = get_spark("worker-import-path")
        df = spark.createDataFrame([("id-42",)], "s string")
        out = df.select(regexp_extract_safe("s", F.lit(r"id-(\\d+)"), F.lit(1)).alias("x"))
        print("EXTRACTED", out.first().x)
        spark.stop()
        """
    )
    root = os.path.realpath(ROOT)
    pypath = [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != root
    ]
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(pypath),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "EXTRACTED 42" in proc.stdout
