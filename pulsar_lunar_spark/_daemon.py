"""``pyspark.daemon`` with the archive entries taken off ``sys.path``.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar on the
Python worker's path, and every task calls
``importlib.invalidate_caches()``, which re-reads the central directory
of each zip archive on the path (the jar alone has over 5,000 entries).
When pyspark and py4j also import from a directory, the archives are
dead weight: drop them, with their cached finders, before pyspark is
imported. ``get_spark`` names this module as ``spark.python.daemon.module``
for local-master sessions.
"""

import importlib.util
import os
import sys


def drop_archives() -> None:
    """Take every archive (file) entry off ``sys.path`` with its cached
    finder; put the path back if pyspark or py4j is then not found."""
    path = list(sys.path)
    sys.path[:] = [entry for entry in path if not os.path.isfile(entry)]
    for entry in set(path) - set(sys.path):
        sys.path_importer_cache.pop(entry, None)
    if not all(importlib.util.find_spec(name) for name in ("pyspark", "py4j")):
        sys.path[:] = path  # their finders are rebuilt on the next import


if __name__ == "__main__":
    drop_archives()

    from pyspark.daemon import manager

    manager()
