"""Python worker daemon: Spark's archives off the workers' path, and a
frozen heap the workers share.

The JVM starts every Python worker daemon with `pyspark.zip`, the py4j
zip and the spark-core jar at the front of PYTHONPATH. PySpark's
worker calls `importlib.invalidate_caches()` before every task, and on
CPython 3.11 that makes each `zipimporter` in `sys.path_importer_cache`
re-read its archive's central directory in pure Python: about 0.2
CPU-s per task before any UDF code runs. When the same `pyspark` is
installed as a plain directory, this daemon drops the archives before
importing `pyspark`; the workers it forks inherit that path, so a task
finds no zip importers to refresh.

Before it starts serving, the daemon also imports what every Arrow UDF
task of the engine imports anyway (`_preload`: pandas, which loads
pyarrow, PySpark's Arrow serializers, and the engine packages the UDF
closures reference), then calls `gc.freeze()`. This is CPython's
pre-fork pattern: the workers it forks share those pages instead of
each importing its own copy, and the stock daemon's `gc.collect()`
after every task of a reused worker walks only the objects created
since the fork. A worker that imported pandas, pyarrow and the engine
itself tracks ≈75k objects, and each of those per-task collections
took a median 51 ms (max 117 ms, over the 112 tasks of one perfbench
`extract_stored` run on 4 cores), which the worker's next task waits
for; from the frozen heap they took a median 0.4 ms (max 5 ms) over
≈1.7k tracked objects. A trivial `mapInPandas` task went from 20.7
to 15.1 ms of wall time at 4 cores (`tools/task_overhead.py`), and the
daemon with its 4 workers from 280 to 179 MB PSS after an extraction
job. Workers of the stock daemon (spark-submit `--py-files`, see
`session.py`) still collect their whole heap after every task.

Forking with the preloaded modules is safe although the daemon then
has five threads. Its threads at `manager()` are the main thread, the
three OpenBLAS pool threads (numpy's pthread BLAS pool, which
`import pyspark` starts already, so the stock daemon forks with them
too) and `jemalloc_bg_thd` (pyarrow's bundled jemalloc, started by
`import pyarrow`; Arrow configures `background_thread:true`). Neither
holds anything the child inherits half-done: both libraries register
`pthread_atfork` handlers. OpenBLAS's stops its pool before the fork
and restarts it on the next BLAS call. jemalloc's takes every arena and
background-thread lock before the fork, re-initialises them in the
child and marks the child's background threads stopped, so a worker
allocates with a consistent jemalloc that purges on its own allocation
path. Checked on the pinned stack (numpy 1.26.4 / OpenBLAS 0.3.23,
pyarrow 16.1.0): a fresh child holds one thread and, after Arrow and
BLAS work, the restarted BLAS pool but no jemalloc thread; 150 forks
taken while the parent allocated Arrow buffers and ran BLAS all
exited cleanly. Python-level threads: none.

Started by the JVM as `python -m edgar_crawler_spark.pydaemon <worker
module>`, selected by `session.get_spark`; it then runs the stock
`pyspark.daemon.manager()`.
"""

from __future__ import annotations

import gc
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


def _preload() -> None:
    """Import what every engine Arrow UDF task loads, then freeze the
    heap so forked workers share it and never collect it."""
    import pandas  # noqa: F401  (imports pyarrow)
    import pyspark.sql.pandas.serializers  # noqa: F401

    from edgar_crawler_spark import extraction, frontier  # noqa: F401
    from edgar_crawler_spark.operators import extract_job  # noqa: F401

    gc.freeze()


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    _preload()
    daemon.manager()
