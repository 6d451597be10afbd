"""Import pyspark on Spark's Python workers from the installed, compiled
package instead of ``pyspark.zip``.

Spark starts every Python process it launches (the task-worker daemon, the
data-source planner daemons, the streaming source runner) with
``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-*-src.zip`` first on
``PYTHONPATH``.  The zip holds no bytecode, so each cold process compiles
every pyspark module it imports: about 1 s for the streaming source runner
on a 4-vCPU host, against 0.2 s from an installed package's
``__pycache__``.

``session.get_spark`` puts this directory on the workers' ``PYTHONPATH``.
Python's ``site`` module imports this file at start-up, after site-packages
is on ``sys.path`` and before anything imports pyspark.  When the first
pyspark found outside Spark's zips has the same ``__version__`` as the zip's,
the zips move to just behind that entry; they stay on the path as the
fallback.  Otherwise ``sys.path`` is left as it is, so a pyspark of another
version is never imported in place of the zip's.

Standard library only, and imports no pyspark.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _is_pyspark_zip(entry: str) -> bool:
    return os.path.basename(entry) == "pyspark.zip"


def _is_py4j_zip(entry: str) -> bool:
    name = os.path.basename(entry)
    return name.startswith("py4j-") and name.endswith("-src.zip")


def pyspark_version(entries: list[str]) -> str | None:
    """``__version__`` of the pyspark that ``entries`` would import, read from
    its ``version.py`` without importing it; None if there is none."""
    spec = PathFinder.find_spec("pyspark", entries)
    if spec is None or spec.origin is None or spec.loader is None:
        return None
    version_py = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        text = spec.loader.get_data(version_py).decode("utf-8")
    except (OSError, UnicodeDecodeError):
        return None
    for line in text.splitlines():
        name, sep, value = line.partition("=")
        if sep and name.partition(":")[0].strip() == "__version__":
            return value.strip().strip("'\"")
    return None


def prefer_installed_pyspark(path: list[str]) -> list[str]:
    """``path`` with Spark's pyspark and py4j zips moved to just behind the
    entry that holds an installed pyspark of the zip's version; ``path``
    unchanged when there is no such entry or no pyspark zip."""
    zips = [e for e in path if _is_pyspark_zip(e)]
    zip_version = pyspark_version(zips) if zips else None
    if zip_version is None:
        return list(path)
    zips += [e for e in path if _is_py4j_zip(e)]
    rest = [e for e in path if e not in zips]
    for i, entry in enumerate(rest):
        if PathFinder.find_spec("pyspark", [entry]) is None:
            continue
        if pyspark_version([entry]) != zip_version:
            return list(path)
        return rest[: i + 1] + [e for e in path if e in zips] + rest[i + 1 :]
    return list(path)


if __name__ == "sitecustomize":
    sys.path[:] = prefer_installed_pyspark(sys.path)
