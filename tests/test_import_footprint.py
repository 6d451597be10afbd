"""The modules a Python worker unpickles on every sink and pull task must
import without pandas or pyarrow: a cold worker pays for every module that
chain loads before its first task can run."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sink_and_pull_source_import_without_pandas_or_pyarrow():
    code = (
        "import sys\n"
        "import logspout_kinesis_tests_spark.streaming.sink\n"
        "import logspout_kinesis_tests_spark.streaming.pull_source\n"
        "print(sorted(m for m in ('pandas', 'pyarrow') if m in sys.modules))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "[]"
