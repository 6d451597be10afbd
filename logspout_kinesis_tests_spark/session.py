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
- Python workers import the installed, compiled pyspark instead of Spark's
  ``pyspark.zip`` when the two versions match (:func:`redirect_worker_imports`,
  ``worker_site/sitecustomize.py``).  Spark puts that zip first on every
  worker's path and it holds no bytecode, so each cold worker, planner and
  streaming source runner compiled pyspark on start: most of a streaming
  query's set-up.  Only sessions that :func:`get_spark` builds are redirected.
  On a cluster the entry names a driver-side directory; an executor that
  lacks it ignores it, and its workers import from the zip as before.
"""

from __future__ import annotations

import importlib.util
import os
import tempfile
import zipfile
import zipimport

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
    once per application and ``addPyFile``-ing it removes the cwd
    dependency on any cluster (workers fetch the zip and prepend it to
    ``sys.path``).
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"logspout_kinesis_tests_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
    sc.addPyFile(zpath)
    _SHIPPED.add(app_id)


def skip_unchanged_zip_rereads() -> None:
    """Make ``importlib.invalidate_caches()`` skip zip archives that did not
    change since they were last read.

    pyspark's Python worker calls ``importlib.invalidate_caches()`` before
    every task, so that zips added with ``addPyFile`` become importable.
    Since Python 3.10 that calls ``invalidate_caches`` on every
    ``zipimporter`` in ``sys.path_importer_cache``, and each re-reads its
    archive's whole directory.  A worker that imports pyspark from
    ``pyspark.zip`` holds one importer per package imported from it:
    130-204 ms a task on a 4-vCPU host.  With :func:`redirect_worker_imports`
    4 remain, for Spark's two zips (now behind site-packages) and a jar on
    the worker's path: still 79-98 ms a task.  After this call an importer
    re-reads only when its archive's (mtime_ns, size, inode) differs from
    its last read, and importers of one archive share that read.  A
    rewritten archive is still re-read, and a new ``addPyFile`` zip is a new
    path, read on first use.

    Idempotent.  Called at the top of the executor-side task entry points,
    so it holds in every reused worker from its second task on.
    """
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "skips_unchanged", False):
        return
    read_stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:  # archive gone: the original empties the importer
            read_stamps.pop(self.archive, None)
            self._read_stamp = None
            original(self)
            return
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_read_stamp", None) == stamp:
            return
        cached = zipimport._zip_directory_cache.get(self.archive)
        if read_stamps.get(self.archive) == stamp and cached is not None:
            self._files = cached  # another importer of this archive read it
        else:
            # stat before read: a write in between leaves an old stamp,
            # which the next call sees as a change
            original(self)
            read_stamps[self.archive] = stamp
        self._read_stamp = stamp

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


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


def redirect_worker_imports(sc: SparkContext) -> None:
    """Append :data:`WORKER_SITE_DIR` to the ``PYTHONPATH`` of every Python
    process Spark starts for ``sc``.

    ``sc.environment`` is the driver's copy of ``spark.executorEnv.*``;
    every Python function, UDF and data source wrapped after this call
    carries it to its worker, the planner daemons and the streaming source
    runner included (``spark.python.daemon.module`` would reach only the
    task daemon).  Entries configured there already are kept, ahead of ours.
    Nothing is added when this interpreter already has a ``sitecustomize``:
    Python imports only the first one found, so ours would shadow it.
    """
    configured = sc.environment.get("PYTHONPATH", "")
    entries = [e for e in configured.split(os.pathsep) if e]
    if WORKER_SITE_DIR in entries or importlib.util.find_spec("sitecustomize"):
        return
    sc.environment["PYTHONPATH"] = os.pathsep.join([*entries, WORKER_SITE_DIR])


def get_spark(
    app_name: str = "logspout-kinesis-tests-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) —
    the harness contract — but any existing session is reused as-is with
    runtime confs applied.

    A session this call builds also has its Python workers import the
    installed pyspark rather than Spark's uncompiled ``pyspark.zip``
    (:func:`redirect_worker_imports`): that cut a consume query's set-up
    from about 6.5 s to about 3 s on a 4-vCPU host.  A reused session's
    workers are left as they are.
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
    builds = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    if builds:
        redirect_worker_imports(spark.sparkContext)
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
