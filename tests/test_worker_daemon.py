"""The Python worker daemon's import-path trim, with and without Spark."""
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from newspaper_spark.worker_daemon import trim

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, files: dict) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _pkg_dir(root, pkg: str, version: str) -> str:
    os.makedirs(os.path.join(root, pkg))
    for name, data in (("__init__.py", ""), ("version.py", version)):
        with open(os.path.join(root, pkg, name), "w") as f:
            f.write(data)
    return str(root)


def test_trim_rule(tmp_path):
    site = _pkg_dir(tmp_path / "site", "same", "v = '1'\n")
    _pkg_dir(tmp_path / "site", "other", "v = '1'\n")
    no_py = _zip(tmp_path / "core.jar", {"org/A.class": b"\xca\xfe", "META-INF/MANIFEST.MF": "x"})
    match = _zip(tmp_path / "same.zip", {"same/__init__.py": "", "same/version.py": "v = '1'\n"})
    mismatch = _zip(tmp_path / "other.zip", {"other/__init__.py": "", "other/version.py": "v = '2'\n"})
    alone = _zip(tmp_path / "alone.zip", {"alone/__init__.py": "", "alone/version.py": "v = '1'\n"})
    path = [str(tmp_path), no_py, match, mismatch, alone, site]
    cache = {k: object() for k in (
        no_py, no_py + "/org", match, match + "/same", mismatch, mismatch + "/other",
        alone, site, match + "x")}

    dropped = trim(path, cache)

    assert dropped == [no_py, match]
    assert path == [str(tmp_path), mismatch, alone, site]
    assert set(cache) == {mismatch, mismatch + "/other", alone, site, match + "x"}


def _spark_zips_redundant() -> bool:
    """True when site-packages' pyspark and py4j are the versions of
    $SPARK_HOME's zips, which is when the daemon drops them."""
    from pyspark.find_spark_home import _find_spark_home

    lib = os.path.join(_find_spark_home(), "python", "lib")
    zips = [os.path.join(lib, n) for n in os.listdir(lib) if n.endswith(".zip")]
    path = zips + [p for p in sys.path if os.path.isdir(p)]
    return sorted(trim(path, {})) == sorted(zips)


@pytest.mark.skipif(not _spark_zips_redundant(),
                    reason="installed pyspark/py4j differ from $SPARK_HOME's zips, "
                           "so workers keep the zips on their path")
def test_workers_run_without_archives(spark):
    # defined here so that it is pickled by value: workers cannot
    # import this test module
    def archives(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        found = [p for p in sys.path if os.path.isfile(p)] + [
            k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        return pd.Series([",".join(found)] * len(s))

    got = (spark.range(8).repartition(4)
           .select(F.pandas_udf(archives, "string")("id").alias("a"))
           .distinct().collect())
    assert [r.a for r in got] == [""]


def test_extraction_from_any_working_directory(tmp_path):
    """Workers find the package (and its daemon) with PYTHONPATH unset
    and the driver started outside the repository."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from newspaper_spark.plans.session import get_spark
        from newspaper_spark.operators.extract import extract_articles
        spark = get_spark(app_name="cwd-test", cores=1)
        df = spark.createDataFrame(
            [("c1", 0, "user", "<html><body><p>" + "ok text here " * 30 + "</p></body>", "", None)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
        print("STATUS", extract_articles(df).first().status)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert "STATUS ok" in proc.stdout, proc.stderr[-3000:]
