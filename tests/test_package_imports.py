"""Every module of the package imports on its own.  Most tests load only
the modules they exercise, so a dangling import left by a deletion in a
module no test touches would otherwise go unseen."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_package_module_imports():
    code = (
        "import importlib, pkgutil\n"
        "import logspout_kinesis_tests_spark as pkg\n"
        "names = [pkg.__name__] + [m.name for m in pkgutil.walk_packages(\n"
        "    pkg.__path__, pkg.__name__ + '.')]\n"
        "for name in names:\n"
        "    importlib.import_module(name)\n"
        "print(len(names))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr
    assert int(res.stdout.strip()) > 1
