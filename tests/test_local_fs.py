"""The JVM's local filesystem (newspaper_spark/jvm.py): permissions set
without forking chmod, file modes and .crc checks unchanged, and the
stock filesystem kept when the class is not available.

The job tests run in a subprocess, so the pytest process never starts a
second JVM."""
import json
import os
import stat
import subprocess
import sys
import textwrap

import pytest

from newspaper_spark import jvm

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, tmp_path, env=None) -> dict:
    """Run ``script`` with the repository importable; its last line of
    standard output is a JSON object."""
    proc = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {REPO!r})\n"
         + textwrap.dedent(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


_JOB = """
    import glob, json, os
    from newspaper_spark.plans.job import ExtractionJob, audit_output
    from newspaper_spark.plans.session import get_spark

    out = os.path.abspath("out")
    # a caller's own classpath entry keeps the filesystem class loadable
    os.makedirs("lib")
    spark = get_spark(app_name="local-fs-test", cores=2,
                      extra_conf={"spark.driver.extraClassPath": os.path.abspath("lib")})
    rows = [(f"c{i}", t, "assistant",
             f"<html><body><p>{'some article words ' * 30}{i} {t}</p></body></html>", "", None)
            for i in range(12) for t in range(2)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    calls = []

    def crash_second_group(group):
        calls.append(group)
        if len(calls) == 2:
            raise RuntimeError("injected crash")

    try:
        ExtractionJob(spark, out, n_buckets=4, buckets_per_commit=2).run(
            df, fail_injector=crash_second_group)
    except RuntimeError:
        pass
    manifest = ExtractionJob(spark, out, n_buckets=4, buckets_per_commit=2).run(df)
    audit = audit_output(spark, out)
    modes = {os.path.relpath(p, out): os.stat(p).st_mode
             for root, _, files in os.walk(out) for p in [root] + [os.path.join(root, f) for f in files]}

    # flip one byte of a data file's first column chunk, then read it back
    data = sorted(glob.glob(out + "/bucket=*/part-*.parquet"))[0]
    with open(data, "r+b") as f:
        f.seek(4)
        b = f.read(1)
        f.seek(4)
        f.write(bytes([b[0] ^ 0xFF]))
    try:
        spark.read.parquet(data).collect()
        read_error = None
    except Exception as e:
        read_error = str(e)
    print(json.dumps({
        "fs_impl": spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"),
        "rows": sum(b["rows"] for b in manifest["buckets"].values()),
        "audit_ok": audit["ok"], "modes": modes, "read_error": read_error}))
    spark.stop()
"""


@pytest.fixture(scope="module")
def job_run(tmp_path_factory):
    """A crash-and-resume job with a chmod that logs each call first on
    PATH, for the JVM and every process it starts."""
    tmp = tmp_path_factory.mktemp("local_fs")
    (tmp / "bin").mkdir()
    log = tmp / "chmod.log"
    wrapper = tmp / "bin" / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$@" >> {log}\nexec /bin/chmod "$@"\n')
    wrapper.chmod(0o755)
    env = dict(os.environ, PATH=f"{tmp / 'bin'}{os.pathsep}{os.environ['PATH']}")
    got = _run(_JOB, tmp, env)
    got["chmod_calls"] = log.read_text().splitlines() if log.exists() else []
    return got


def test_job_forks_no_chmod(job_run):
    assert job_run["fs_impl"] == jvm.CLASS
    assert job_run["rows"] == 24 and job_run["audit_ok"]
    assert job_run["chmod_calls"] == []


def test_output_modes_unchanged(job_run):
    modes = job_run["modes"]
    # the manifest is written by Python (tempfile.mkstemp, 0600), not Hadoop
    hadoop = {p: m for p, m in modes.items() if p != "_manifest.json"}
    assert any(p.endswith(".parquet") for p in hadoop) and any(p.endswith(".crc") for p in hadoop)
    wrong = {p: oct(stat.S_IMODE(m)) for p, m in hadoop.items()
             if stat.S_IMODE(m) != (0o755 if stat.S_ISDIR(m) else 0o644)}
    assert wrong == {}


def test_flipped_byte_fails_the_read(job_run):
    assert job_run["read_error"] is not None
    assert "org.apache.hadoop.fs.ChecksumException" in job_run["read_error"]


def test_stock_filesystem_when_class_unavailable(tmp_path):
    """A source that does not compile leaves the stock filesystem; so
    does a running JVM that cannot load the class. Jobs still write."""
    broken = tmp_path / "Broken.java"
    broken.write_text("package newspaper_spark; public class NioLocalFileSystem {")
    got = _run(f"""
        import json
        from newspaper_spark import jvm
        from newspaper_spark.plans.session import get_spark

        def write(name):
            spark = get_spark(app_name="fallback-test", cores=1)
            spark.range(10).write.parquet(name)
            got = (spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"),
                   spark.read.parquet(name).count())
            spark.stop()
            return got

        jvm.SOURCE = {str(broken)!r}
        build_failed = write("a")
        jvm.SOURCE = {jvm.SOURCE!r}  # the JVM is up, without the class on its path
        not_loadable = write("b")
        print(json.dumps({{"build_failed": build_failed, "not_loadable": not_loadable}}))
    """, tmp_path, dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache")))
    assert got == {"build_failed": [None, 10], "not_loadable": [None, 10]}


def test_permissions_without_and_with_fallback(spark, tmp_path):
    """rwx modes go through java.nio; the sticky bit falls back to the
    stock (forking) path. Both set the requested mode."""
    j = spark.sparkContext._jvm
    fs = j.org.apache.hadoop.fs.FileSystem.get(
        j.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    if fs.getClass().getName() != jvm.CLASS:
        pytest.skip("the test session runs Hadoop's stock local filesystem")
    for mode in ("640", "751", "1777"):
        p = tmp_path / mode
        p.mkdir()
        fs.setPermission(j.org.apache.hadoop.fs.Path(str(p)),
                         j.org.apache.hadoop.fs.permission.FsPermission(mode))
        assert oct(stat.S_IMODE(os.stat(p).st_mode)) == "0o" + mode
