"""Worker-side start-up hook.

The session factory always prepends this directory to PYTHONPATH
(batchprocessingetl_spark/compat.py — see that module's docstring), so
Python workers (`python -m pyspark.daemon` and its forks) import this
module at interpreter startup. It carries two worker-side fixes:

- it re-installs the vendored protobuf alias before pyspark's lazy
  ``StateMessage_pb2`` imports run inside transformWithState tasks
  (a no-op where protobuf is really installed);
- it makes ``zipimporter.invalidate_caches`` lazy, so the
  ``importlib.invalidate_caches()`` pyspark runs once per task stops
  re-reading pyspark.zip and the spark-core jar (CPython < 3.12).

It also puts the package root on the worker's ``sys.path``.
Self-locating: compat.py sits one directory up.
"""

import os
import sys

_pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _pkg_root not in sys.path:
    sys.path.insert(0, _pkg_root)

try:
    from batchprocessingetl_spark.compat import ensure_protobuf, lazy_zip_invalidation
except Exception:  # never break an interpreter over an optional shim
    pass
else:
    for _fix in (ensure_protobuf, lazy_zip_invalidation):
        try:
            _fix()
        except Exception:
            pass
