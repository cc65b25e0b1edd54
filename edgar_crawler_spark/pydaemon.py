"""Python worker daemon that keeps Spark's archives off the workers' path.

The JVM starts every Python worker daemon with `pyspark.zip`, the py4j
zip and the spark-core jar at the front of PYTHONPATH. PySpark's
worker calls `importlib.invalidate_caches()` before every task, and on
CPython 3.11 that makes each `zipimporter` in `sys.path_importer_cache`
re-read its archive's central directory in pure Python: about 0.2
CPU-s per task before any UDF code runs. When the same `pyspark` is
installed as a plain directory, this daemon drops the archives before
importing `pyspark`; the workers it forks inherit that path, so a task
finds no zip importers to refresh.

Started by the JVM as `python -m edgar_crawler_spark.pydaemon <worker
module>`, selected by `session.get_spark`; it then runs the stock
`pyspark.daemon.manager()`.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__[^=\n]*=\s*['"]([^'"]+)['"]""")


def _archive_names(archive: str) -> tuple[str | None, set[str]]:
    """The archived `pyspark` version (None if absent) and the
    top-level module names the archive can import."""
    with zipfile.ZipFile(archive) as z:
        names = z.namelist()
        version = None
        if "pyspark/version.py" in names:
            m = _VERSION.search(z.read("pyspark/version.py").decode("utf-8"))
            version = m.group(1) if m else None
    modules = {
        n.split("/", 1)[0].split(".", 1)[0]
        for n in names if n.endswith((".py", ".pyc"))
    }
    return version, modules


def _dir_has(d: str, name: str) -> bool:
    return os.path.isdir(os.path.join(d, name)) or os.path.isfile(
        os.path.join(d, name + ".py"))


def without_archives(path: list[str]) -> list[str]:
    """`path` without its zip and jar entries, or `path` unchanged.

    Archives are dropped only when `pyspark` still resolves from a
    directory on `path` whose `pyspark/version.py` gives the same
    version as the archived one, and only archives whose every module
    is also found in such a directory.
    """
    archives: dict[str, set[str]] = {}
    archived_version = None
    for p in path:
        if not os.path.isfile(p):
            continue
        try:
            version, modules = _archive_names(p)
        except (OSError, zipfile.BadZipFile):
            continue
        archives[p] = modules
        archived_version = archived_version or version
    dirs = [d or "." for d in path if not os.path.isfile(d)]
    installed = next(
        (os.path.join(d, "pyspark", "version.py") for d in dirs
         if os.path.isfile(os.path.join(d, "pyspark", "version.py"))), None)
    if archived_version is None or installed is None:
        return list(path)
    with open(installed, encoding="utf-8") as f:
        m = _VERSION.search(f.read())
    if m is None or m.group(1) != archived_version:
        return list(path)
    drop = {
        a for a, modules in archives.items()
        if all(any(_dir_has(d, name) for d in dirs) for name in modules)
    }
    return [p for p in path if p not in drop]


def _drop_archives() -> None:
    kept = without_archives(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    # interpreter start-up already cached an importer per path entry
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    daemon.manager()
