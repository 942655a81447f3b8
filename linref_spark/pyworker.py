"""Entry points for the engine's code in Spark's Python workers.

Every pandas UDF, ``mapInPandas`` function and ``applyInPandas`` function
the engine ships is built here (:func:`pandas_udf`) or wrapped here
(:func:`pandas_fn`). Its first call in a worker process runs
:func:`install`, which makes ``zipimport.zipimporter.invalidate_caches``
skip archives that have not changed.

Why: a Spark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). On
CPython 3.10-3.12 that makes every zip importer on the worker re-parse the
central directory of its archive. A worker holds about 16 of them, over
``pyspark.zip``, py4j's zip and the ``spark-core`` jar, and the re-reads
cost about 0.19 CPU-s of a 0.21 CPU-s task on a 4-core host (DESIGN.md
§7). CPython 3.13 made the method a lazy cache drop, so there the guard is
not installed.

The guarded method stats the archive and compares ``(st_mtime_ns,
st_size, st_ino)`` with the stamp taken before the importer last read it.
A match returns at once; anything else (a changed or replaced zip, an
importer never stamped, a failed stat) calls the original method, so a
changed or newly shipped archive is re-read exactly as before.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark.sql import functions as F

# 3.10 gave zipimporter an eager invalidate_caches; 3.13 made it lazy.
EAGER_ZIP_INVALIDATE = (3, 10) <= sys.version_info[:2] < (3, 13)

_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _stamp(archive: str) -> tuple:
    st = os.stat(archive)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _guarded_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads a changed archive only."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_linref_stamp", None):
        return
    # stamp taken before the read: a change during the read stays visible
    _reread(self)
    self._linref_stamp = stamp


def installed() -> bool:
    """Whether this process's zip importers run the guarded method."""
    return zipimport.zipimporter.invalidate_caches is _guarded_invalidate


def install() -> bool:
    """Install the guard in this process, once; return whether it is in place.

    Existing importers are stamped with their archive's current state, which
    is right only when they have just been re-read. In a Python worker that
    holds at the first call of an engine function: the task's
    ``setup_spark_files`` re-read every importer before the function was
    unpickled. Hence the engine calls it only from the wrappers below.
    """
    if not EAGER_ZIP_INVALIDATE:
        return False
    if installed():
        return True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            try:
                finder._linref_stamp = _stamp(finder.archive)
            except OSError:
                pass
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate
    return True


def pandas_udf(return_type):
    """``F.pandas_udf(return_type)`` as a decorator whose function calls
    :func:`install` first.

    ``functools.wraps`` keeps the type hints reachable through
    ``__wrapped__``: pandas_udf infers the eval type from them.
    """

    def decorate(fn):
        @functools.wraps(fn)
        def run(*args):
            install()
            return fn(*args)

        return F.pandas_udf(run, return_type)

    return decorate


def pandas_fn(fn):
    """Wrap a one-argument ``mapInPandas`` or ``applyInPandas`` function so
    it calls :func:`install` first.

    The wrapper keeps the single positional parameter: ``applyInPandas``
    checks the function's arity and rejects ``*args``.
    """

    @functools.wraps(fn)
    def run(data):
        install()
        return fn(data)

    return run
