"""Python worker daemon: pyspark's own daemon, started on an import path
without redundant archives.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
task, and Python 3.11's ``zipimporter.invalidate_caches()`` re-reads the
central directory of each archive it has cached. The JVM puts
``pyspark.zip``, the py4j source zip and the spark-core jar (which holds
no ``.py`` file) ahead of site-packages, so every UDF task paid to
re-read ~6,700 archive entries, once per cached zipimporter, before its
first row. ``get_spark`` starts this module as the daemon, so it runs in
the daemon before anything imports pyspark, and the forked workers
inherit the trimmed path.

An archive is dropped only when it holds no ``.py`` file, or when every
top-level package in it is importable from a directory on the path with
a byte-identical ``<pkg>/version.py``. Otherwise it stays, and the
worker pays the re-reads but never mixes two versions of a package.
"""
import os
import sys
import zipfile


def _redundant(archive: str, dirs: list) -> bool:
    try:
        with zipfile.ZipFile(archive) as zf:
            tops = {n.split("/", 1)[0] for n in zf.namelist() if n.endswith(".py")}
            for pkg in tops:
                # the directory copy the import system would find first
                copy = next((os.path.join(d, pkg, "version.py") for d in dirs
                             if os.path.isfile(os.path.join(d, pkg, "__init__.py"))), None)
                if copy is None:
                    return False
                with open(copy, "rb") as f:
                    if f.read() != zf.read(f"{pkg}/version.py"):
                        return False
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    return True


def trim(path: list, importer_cache: dict) -> list:
    """Drop the redundant archives from ``path`` and their entries (at
    or under each archive) from ``importer_cache``, in place; return the
    dropped archives."""
    dirs = [p for p in path if os.path.isdir(p)]
    dropped = [p for p in path if os.path.isfile(p) and _redundant(p, dirs)]
    path[:] = [p for p in path if p not in dropped]
    # runpy's search for this module cached a zipimporter per archive,
    # and PathFinder.invalidate_caches() walks this cache, not the path
    for key in [k for k in importer_cache
                if any(k == a or k.startswith(a + os.sep) for a in dropped)]:
        del importer_cache[key]
    return dropped


if __name__ == "__main__":
    trim(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
