"""Every query module and the message log import without a live Spark
session: nothing at module level may need a SparkContext (a DDL-string
``pandas_udf`` return type, for example, is parsed by the JVM). The
package itself imports no pyspark at all: the Python worker daemon
(``pulsar_lunar_spark._daemon``) must clean ``sys.path`` before pyspark
is first imported."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import importlib
from pyspark import SparkContext
from pulsar_lunar_spark.queries.registry import _QUERY_MODULES
for name in (*_QUERY_MODULES, "pulsar_lunar_spark.sources.log"):
    importlib.import_module(name)
assert SparkContext._active_spark_context is None, "an import started Spark"
print(len(_QUERY_MODULES))
"""


def test_modules_import_without_spark_context():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert int(proc.stdout.split()[-1]) > 0


def test_package_import_leaves_pyspark_unimported():
    probe = (
        "import sys, pulsar_lunar_spark\n"
        "assert 'pyspark' not in sys.modules, 'the package imported pyspark'\n"
        "assert callable(pulsar_lunar_spark.get_spark)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
