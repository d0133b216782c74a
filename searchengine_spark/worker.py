"""Worker-side wrapper for every function the engine hands to Spark's
Python runner (``mapInArrow``, ``mapInPandas``, ``applyInPandas``, pandas
UDFs).

At the start of every task a reused Python worker calls
``importlib.invalidate_caches()`` (pyspark ``worker_util.setup_spark_files``).
On CPython 3.11 that makes every ``zipimport.zipimporter`` cached in
``sys.path_importer_cache`` re-read its archive's whole central directory.
A worker holds one such finder per imported subpackage of ``pyspark.zip``
and of this package's shipped zip, plus finders over the jars on the
worker's path (Spark puts its core jar there), so the call costs tens to
hundreds of milliseconds of CPU per task — more than a small kernel's own
work.

``engine_kernel`` drops those finders when the task's kernel finishes, so
the next task's ``invalidate_caches()`` finds none to refresh.  Dropping
them is safe: a deleted ``sys.path_importer_cache`` entry is rebuilt from
``sys.path_hooks`` on the next lookup that needs it, and the rebuilt
``zipimporter`` reuses the directory data kept in
``zipimport._zip_directory_cache``.  Modules already imported keep their
loaders.  The one behaviour given up is noticing an archive rewritten in
place under the same path, which Spark does not do: it never overwrites a
file already added with ``addPyFile``.
"""

from __future__ import annotations

import functools
import sys
import zipimport
from collections.abc import Iterator


def release_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``; no
    other state is touched."""
    cache = sys.path_importer_cache
    for path in [p for p, finder in cache.items() if isinstance(finder, zipimport.zipimporter)]:
        del cache[path]


def _release_after(results: Iterator):
    try:
        yield from results
    finally:
        release_zip_finders()


def engine_kernel(fn):
    """Wrap a one-argument kernel so that it releases the worker's zip
    finders when it is done.  A kernel that returns an iterator (the
    ``mapInArrow``/``mapInPandas`` shape) releases them when the iterator
    is exhausted or closed early; any other kernel (``applyInPandas``, a
    pandas UDF) when its call returns.  The wrapper keeps one positional
    parameter, because pyspark picks a grouped-map function's form from its
    argument count.  Wrapped functions carry ``_releases_zip_finders``."""

    @functools.wraps(fn)
    def wrapper(arg):
        out = fn(arg)
        if isinstance(out, Iterator):
            return _release_after(out)
        release_zip_finders()
        return out

    wrapper._releases_zip_finders = True
    return wrapper
