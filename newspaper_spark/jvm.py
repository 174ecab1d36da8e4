"""A Hadoop local filesystem that sets permissions without forking.

Without the native Hadoop library, ``RawLocalFileSystem.setPermission``
forks ``chmod`` for every file and directory level that the parquet
writer and the commit protocol create: 107 forks per ``job_resume``
pass, ~16 ms each (4-core host, BENCH.md "Hadoop local-FS chmod per
created path"). ``resources/NioLocalFileSystem.java`` makes the same
chmod(2) call through ``java.nio`` and keeps the checksummed layer, so
``.crc`` files are still written and verified.

The class ships as source. It is compiled on first use with the Janino
compiler in Spark's own jars (only the ``java`` binary Spark runs on is
needed) into a per-user cache directory keyed by the source and Spark's
jar set.
"""
from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings

CLASS = "newspaper_spark.NioLocalFileSystem"
SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "resources", "NioLocalFileSystem.java")
COMPILE_TIMEOUT_S = 120


def class_dir() -> str | None:
    """The classpath directory holding :data:`CLASS`, compiled on first
    use; None when it cannot be built."""
    from pyspark.find_spark_home import _find_spark_home

    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "*.jar")))
    with open(SOURCE, "rb") as f:
        source = f.read()
    key = hashlib.sha256(
        source + "\0".join(os.path.basename(j) for j in jars).encode()).hexdigest()[:16]
    # a per-user cache, never the checkout or TMPDIR
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                         "newspaper_spark", f"jvm-{key}")
    built = os.path.join(cache, *CLASS.split(".")) + ".class"
    if os.path.isfile(built):
        return cache
    compiler = [j for j in jars if os.path.basename(j).startswith(("janino-", "commons-compiler-"))]
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    tmp = None
    try:
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.dirname(cache), prefix=".build-")
        proc = subprocess.run(
            [java, "-cp", os.pathsep.join(compiler),
             "org.codehaus.commons.compiler.samples.CompilerDemo",
             "-d", tmp, "-classpath", os.pathsep.join(jars), SOURCE],
            capture_output=True, text=True, timeout=COMPILE_TIMEOUT_S)
        if proc.returncode == 0:
            try:
                os.replace(tmp, cache)
            except OSError:  # a concurrent build got there first
                pass
        else:
            warnings.warn(f"{CLASS} did not compile; keeping Hadoop's local "
                          f"filesystem:\n{proc.stderr[-2000:]}")
    except (OSError, subprocess.TimeoutExpired) as e:
        warnings.warn(f"{CLASS} could not be compiled ({e}); keeping Hadoop's local filesystem")
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)
    return cache if os.path.isfile(built) else None


def local_fs_conf() -> dict:
    """Spark confs that serve the ``file`` scheme with :data:`CLASS`:
    when the next session launches the JVM and the class compiles, or
    when the running JVM can load it. Otherwise (spark-submit, a JVM
    launched elsewhere, a failed build) none, and the stock filesystem
    stays."""
    from pyspark import SparkContext

    fs_impl = {"spark.hadoop.fs.file.impl": CLASS}
    if SparkContext._jvm is not None:
        loadable = SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(CLASS)
        return fs_impl if loadable else {}
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # the JVM was launched for us
        return {}
    d = class_dir()
    return {"spark.driver.extraClassPath": d, **fs_impl} if d else {}
