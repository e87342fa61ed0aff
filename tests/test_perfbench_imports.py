"""The sink benchmark (``perfbench/``) drives the package through names it
imports from it: ``write_routed``, ``statement_texts``, ``UNSET``,
``SinkMetrics``, ``start_sink_stream``, ``split_mapping_errors``,
``compile_mapping``, ``decode_records``, ``add_ttl_writetime`` and
``route_writes``. Importing its stage modules puts a rename or removal of
any of them under this suite; the import runs in a fresh interpreter and
must not start Spark."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import perfbench.probe, perfbench.sink, perfbench.streamrun
from pyspark import SparkContext
assert SparkContext._active_spark_context is None, "importing started Spark"
"""


def test_benchmark_stage_modules_import_without_spark():
    done = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
