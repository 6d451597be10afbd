"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (single JVM); the config choices are
nonetheless made for a real multi-executor cluster at ~100 TB:

- AQE on (runtime shuffle coalescing, broadcast-join conversion, skew-join
  splitting) — load-bearing for the star joins and LSH bucket joins.
- ``spark.sql.shuffle.partitions`` sized to the local core count in tests;
  at cluster scale the AQE coalescer makes the static number mostly moot.
- Arrow enabled for the (rare) Pandas-UDF paths.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are stable regardless of host timezone.
- Spark's Python processes import the installed, compiled pyspark instead
  of Spark's ``pyspark.zip`` when the two versions match
  (``worker_site/sitecustomize.py``).  Spark puts that zip first on every
  worker's path and it holds no bytecode, so each cold worker, planner and
  streaming source runner compiled pyspark on start: most of a streaming
  query's set-up.  :func:`get_spark` hands that directory to the JVM it
  launches through the launch environment's ``PYTHONPATH``, which the JVM
  passes to every Python process it starts.  A JVM that ``get_spark`` did
  not launch is left alone.  On a cluster the entry names a driver-side
  directory; an executor that lacks it ignores it, and its workers import
  from the zip as before.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import importlib.util
import os
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: Runtime confs every query in this engine relies on.  They are applied both
#: at build time (``get_spark``) and defensively at query time
#: (``ensure_runtime_confs``) because the verification driver constructs its
#: own SparkSession that our code does not control.
RUNTIME_CONFS: dict[str, str] = {
    # The driver's events table stores TIMESTAMP(NANOS) which vanilla Spark
    # refuses to read; read them as raw int64 ns and convert ourselves
    # (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


#: Directory whose only file is the workers' ``sitecustomize.py``.
WORKER_SITE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "worker_site"
)

#: application ids the package zip has already been shipped to.
_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Functions shipped into tasks (``foreachPartition`` senders,
    ``pandas_udf``/``mapInPandas`` bodies) are pickled *by reference* when
    they live in an importable module — the worker must import
    ``logspout_kinesis_tests_spark`` itself.  That works only if the driver
    process happened to start in the repo directory.  Zipping the package
    and ``addPyFile``-ing it once per application removes the cwd
    dependency on any cluster (workers fetch the zip and prepend it to
    ``sys.path``).  Each driver process makes its own zip, so a later
    process never ships an earlier one's code.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    sc.addPyFile(_zip_package())
    _SHIPPED.add(app_id)


@functools.cache
def _zip_package() -> str:
    """Zip this package's sources, once per process, under a name no other
    process uses; the zip is removed when this process exits."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zpath = tempfile.mkstemp(prefix="logspout_kinesis_tests_spark_", suffix=".zip")
    atexit.register(_remove, zpath)
    with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
    return zpath


def _remove(path: str) -> None:
    # the temp directory may be gone first (a caller cleaning up its own)
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs this engine needs to *any* session.

    Safe to call repeatedly; all keys in :data:`RUNTIME_CONFS` are
    runtime-mutable SQL confs (verified — none are static SparkConf entries).
    Also ships the package zip to executors (see :func:`ship_package`).
    """
    for key, value in RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    ship_package(spark)
    return spark


def get_spark(
    app_name: str = "logspout-kinesis-tests-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) —
    the harness contract — but any existing session is reused as-is with
    runtime confs applied.

    When this call launches the JVM, it appends :data:`WORKER_SITE_DIR` to
    ``PYTHONPATH`` for the launch only, so that every Python process the
    JVM starts imports the installed pyspark rather than Spark's uncompiled
    ``pyspark.zip``: that cut a consume query's set-up from about 6.5 s to
    about 3 s on a 4-vCPU host.  This process's own environment is restored.
    Nothing is added when this interpreter already has a ``sitecustomize``:
    Python imports only the first one found, so ours would shadow it.  A JVM
    this call did not launch is left as it is.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local mode: the driver JVM is the only process; give codegen and
        # broadcast space.  On a real cluster these come from spark-submit.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    pythonpath = os.environ.get("PYTHONPATH")
    hand_over = (
        SparkContext._gateway is None
        and importlib.util.find_spec("sitecustomize") is None
    )
    if hand_over:
        entries = [e for e in (pythonpath or "").split(os.pathsep) if e]
        os.environ["PYTHONPATH"] = os.pathsep.join([*entries, WORKER_SITE_DIR])
    try:
        spark = builder.getOrCreate()
    finally:
        if hand_over and pythonpath is None:
            del os.environ["PYTHONPATH"]
        elif hand_over:
            os.environ["PYTHONPATH"] = pythonpath
    spark.sparkContext.setLogLevel("WARN")
    _silence_bounded_window_warns(spark)
    return ensure_runtime_confs(spark)


def _silence_bounded_window_warns(spark: SparkSession) -> None:
    """Quiet the per-execution ``WindowExec: No Partition Defined`` WARN.

    The repo's only empty-partition windows run over constant-bounded tables
    (top-N cut lists, ≤256-row shard offsets — see
    ``tests/test_plan_quality.py::ALLOWED_GLOBAL_WINDOWS``), and the
    optimizer folds any constant partition key back out of the window spec,
    so the warning cannot be avoided in the plan.  The plan lint
    ``test_no_unbounded_global_windows`` is the real gate — with the logger
    quieted, any warning that DOES surface in a log comes from a session we
    don't own and deserves a look.
    """
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # non-log4j2 logging backends: keep the noise
        pass
