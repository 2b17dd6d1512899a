"""Python-worker entry hygiene shared by every UDF body the package ships.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``). The JVM puts ``pyspark.zip``, the
py4j zip and the spark-core jar on the worker's ``PYTHONPATH``, so
``sys.path_importer_cache`` holds a ``zipimport.zipimporter`` per archive
(and per package directory inside it). On CPython 3.11 each such finder's
``invalidate_caches()`` re-reads its archive's whole central directory:
tens of thousands of records, 0.17-0.35 s of fixed cost per task before any
package code runs, and the dominant cost of small batched-series stages.

Dropping those finders is safe: the dict is a cache by contract, and a
dropped entry is rebuilt lazily by ``sys.path_hooks`` on the next import
miss, so ``--py-files`` zips keep importing. Once dropped the entries stay
gone for the worker's later tasks (the reused worker imports nothing new),
so every later call is a scan of ~100 dict keys.

The drop has to happen inside the task body, not at package import: the
first task's serializer set-up re-imports PySpark modules after the UDF is
unpickled and re-creates the entries. Hence the rule: every function passed
to ``mapInPandas`` / ``mapInArrow`` / ``applyInPandas`` /
``applyInPandasWithState`` or decorated with ``pandas_udf`` calls
``release_zip_finders()`` as its first statement (``tests/test_worker.py``
enforces it over the package AST).
"""

from __future__ import annotations

import sys
import zipimport


def release_zip_finders() -> None:
    """Pop every ``zipimporter`` from ``sys.path_importer_cache``."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)
