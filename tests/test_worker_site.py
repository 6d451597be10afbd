"""Spark's Python processes import the installed, compiled pyspark instead
of Spark's uncompiled ``pyspark.zip`` (``worker_site/sitecustomize.py``), and
only when the versions match; ``get_spark`` hands that module to the JVM it
launches only when it shadows no other ``sitecustomize``."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import types
import zipfile

import pyspark
import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from logspout_kinesis_tests_spark import session
from logspout_kinesis_tests_spark.session import WORKER_SITE_DIR, get_spark
from logspout_kinesis_tests_spark.streaming.pull_source import (
    FileShardClient,
    pull_stream,
)

SITECUSTOMIZE = os.path.join(WORKER_SITE_DIR, "sitecustomize.py")


def _load_policy():
    """The module loaded by file path under another name, so loading it
    leaves this interpreter's ``sys.path`` alone."""
    spec = importlib.util.spec_from_file_location("worker_site_policy", SITECUSTOMIZE)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _package_files(package: str, version: str) -> dict[str, str]:
    return {
        f"{package}/__init__.py": "",
        f"{package}/version.py": f"__version__: str = '{version}'\n",
    }


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, files: dict[str, str]) -> str:
    for name, text in files.items():
        full = root / name
        full.parent.mkdir(parents=True, exist_ok=True)
        full.write_text(text)
    return str(root)


@pytest.fixture()
def layout(tmp_path):
    """Spark's two zips (pyspark 4.1.2, py4j 0.10.9.9) and its jar, a
    stdlib-like entry without pyspark, site-packages entries holding
    pyspark 4.1.2 and 3.5.0, and one holding py4j 0.10.9.9."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    jars = tmp_path / "spark" / "jars"
    jars.mkdir(parents=True)
    return types.SimpleNamespace(
        pyspark_zip=_zip(lib / "pyspark.zip", _package_files("pyspark", "4.1.2")),
        py4j_zip=_zip(lib / "py4j-0.10.9.9-src.zip", _package_files("py4j", "0.10.9.9")),
        jar=_zip(jars / "spark-core_2.13-4.1.2.jar", {"org/apache/spark/A.class": ""}),
        stdlib=_tree(tmp_path / "stdlib", {"json_like.py": ""}),
        same=_tree(tmp_path / "site-same", _package_files("pyspark", "4.1.2")),
        other=_tree(tmp_path / "site-other", _package_files("pyspark", "3.5.0")),
        py4j=_tree(tmp_path / "site-py4j", _package_files("py4j", "0.10.9.9")),
    )


def test_drops_spark_archives_when_versions_match(layout):
    policy = _load_policy()
    path = [layout.pyspark_zip, layout.py4j_zip, layout.jar, layout.stdlib,
            layout.same, layout.py4j, "/nowhere"]
    assert policy.drop_spark_archives(path) == [
        layout.stdlib, layout.same, layout.py4j, "/nowhere",
    ]


def test_keeps_py4j_zip_without_another_py4j(layout):
    policy = _load_policy()
    path = [layout.pyspark_zip, layout.py4j_zip, layout.jar, layout.stdlib, layout.same]
    assert policy.drop_spark_archives(path) == [layout.py4j_zip, layout.stdlib, layout.same]


def test_keeps_py4j_zip_when_py4j_versions_differ(layout, tmp_path):
    policy = _load_policy()
    py4j_old = _tree(tmp_path / "site-py4j-old", _package_files("py4j", "0.10.9.7"))
    path = [layout.pyspark_zip, layout.py4j_zip, layout.same, py4j_old]
    assert policy.drop_spark_archives(path) == [layout.py4j_zip, layout.same, py4j_old]


def test_unchanged_when_versions_differ(layout):
    """Only the jar goes: it holds no ``.py`` file."""
    policy = _load_policy()
    path = [layout.pyspark_zip, layout.py4j_zip, layout.jar, layout.stdlib,
            layout.other, layout.same, layout.py4j]
    assert policy.drop_spark_archives(path) == [
        layout.pyspark_zip, layout.py4j_zip, layout.stdlib, layout.other,
        layout.same, layout.py4j,
    ]


def test_unchanged_without_pyspark_outside_the_zip(layout):
    """Only the jar goes."""
    policy = _load_policy()
    path = [layout.pyspark_zip, layout.py4j_zip, layout.jar, layout.stdlib, layout.py4j]
    assert policy.drop_spark_archives(path) == [
        layout.pyspark_zip, layout.py4j_zip, layout.stdlib, layout.py4j,
    ]


def test_unchanged_without_a_pyspark_zip(layout):
    """The py4j zip goes only together with pyspark's."""
    policy = _load_policy()
    path = [layout.py4j_zip, layout.stdlib, layout.same, layout.py4j]
    assert policy.drop_spark_archives(path) == path


def test_py4j_zip_stays_when_pyspark_zip_stays(layout, tmp_path):
    policy = _load_policy()
    unreadable = _zip(tmp_path / "pyspark.zip", {"pyspark/__init__.py": ""})
    path = [unreadable, layout.py4j_zip, layout.same, layout.py4j]
    assert policy.drop_spark_archives(path) == path


def _startup_state(pythonpath: list[str]) -> dict:
    code = (
        "import json, sys\n"
        "print(json.dumps({'path': sys.path, 'modules': sorted(sys.modules),\n"
        "                  'importers': sorted(sys.path_importer_cache)}))\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    res = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=60,
    )
    assert res.returncode == 0, res.stderr
    return json.loads(res.stdout)


def test_startup_imports_only_the_stdlib(layout):
    """Run as Python's real start-up hook: Spark's archives leave the path
    and the importer cache, and the hook adds no pyspark and no module
    outside the standard library."""
    archives = [layout.pyspark_zip, layout.py4j_zip, layout.jar]
    before = _startup_state([*archives, layout.same, layout.py4j])
    after = _startup_state([*archives, layout.same, layout.py4j, WORKER_SITE_DIR])
    assert before["path"][1:4] == archives
    assert not set(archives) & set(after["path"])
    assert not set(archives) & set(after["importers"])
    added = set(after["modules"]) - set(before["modules"]) - {"sitecustomize"}
    assert not any(m.split(".")[0] == "pyspark" for m in after["modules"])
    assert {m for m in added if m.split(".")[0] not in sys.stdlib_module_names} == set()


def _launch_pythonpath(spark, monkeypatch) -> str | None:
    """``PYTHONPATH`` as ``get_spark``'s ``getOrCreate()`` call sees it; the
    call returns ``spark`` and launches nothing."""
    seen = []

    def get_or_create(self):
        seen.append(os.environ.get("PYTHONPATH"))
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    before = os.environ.get("PYTHONPATH")
    # the fixture's arguments, so that no conf of the shared session changes
    assert get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8) is spark
    assert os.environ.get("PYTHONPATH") == before
    return seen[0]


def test_redirect_keeps_configured_entries(spark, monkeypatch):
    """A JVM that ``get_spark`` launches gets ``worker_site`` behind the
    configured ``PYTHONPATH`` entries."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert _launch_pythonpath(spark, monkeypatch) == WORKER_SITE_DIR
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/a", "/b"]))
    assert _launch_pythonpath(spark, monkeypatch) == os.pathsep.join(
        ["/a", "/b", WORKER_SITE_DIR]
    )


def test_no_entry_when_a_sitecustomize_exists(spark, tmp_path, monkeypatch):
    (tmp_path / "sitecustomize.py").write_text("")
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setenv("PYTHONPATH", "/a")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert _launch_pythonpath(spark, monkeypatch) == "/a"


def test_get_spark_leaves_a_session_it_did_not_build(spark, monkeypatch):
    """With a JVM already running, ``get_spark`` launches none, so it hands
    nothing over."""
    monkeypatch.setenv("PYTHONPATH", "/a")
    assert _launch_pythonpath(spark, monkeypatch) == "/a"


_FRESH_SESSION = r"""
import json, os, sys, zipfile
from logspout_kinesis_tests_spark.session import get_spark

before = os.environ.get("PYTHONPATH")
spark = get_spark("worker-site-launch", master="local[1]", shuffle_partitions=1)
sc = spark.sparkContext


def zip_importers(_):
    import sys, zipimport

    import py4j, pyspark

    importers = [k for k, v in sys.path_importer_cache.items()
                 if isinstance(v, zipimport.zipimporter)]
    return importers, pyspark.__file__, py4j.__file__


importers, pyspark_file, py4j_file = sc.parallelize([0], 1).map(zip_importers).collect()[0]
archive = os.path.join(sys.argv[1], "added_after_a_task.zip")
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("added_after_a_task.py", "VALUE = 7\n")
sc.addPyFile(archive)
added = sc.parallelize([0], 1).map(lambda _: __import__("added_after_a_task").VALUE).collect()
print(json.dumps({
    "jvm_pythonpath": spark._jvm.System.getenv("PYTHONPATH"),
    "before": before, "after": os.environ.get("PYTHONPATH"),
    "importers": importers, "pyspark": pyspark_file, "py4j": py4j_file, "added": added,
    "zips": [f for f in os.listdir(os.environ["TMPDIR"]) if f.endswith(".zip")],
}))
spark.stop()
"""


def test_fresh_session_workers_drop_spark_archives(tmp_path):
    """A JVM that ``get_spark`` launches carries ``worker_site`` in its
    environment while the driver's is left as it was; a task holds no
    importer for an archive of Spark's that it does not import from (pyspark
    calls ``invalidate_caches`` on each one before every task), and a zip
    added with ``addPyFile`` after a task still imports in the next one.
    The package zip that the driver ships is gone once it exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = dict(os.environ, PYTHONPATH=repo, SPARK_DRIVER_MEMORY="1g", TMPDIR=str(tmpdir))
    res = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION, str(tmp_path)], cwd=str(tmp_path),
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])

    assert WORKER_SITE_DIR in out["jvm_pythonpath"].split(os.pathsep)
    assert out["before"] == out["after"] == repo
    in_zip = ".zip" + os.sep
    assert not [k for k in out["importers"] if ".jar" in k]
    if in_zip not in out["pyspark"]:
        assert not [k for k in out["importers"] if k.endswith("pyspark.zip")]
    if in_zip not in out["py4j"]:
        assert not [k for k in out["importers"] if os.path.basename(k).startswith("py4j-")]
    assert out["added"] == [7]
    # the driver's package zip sat in its temp directory while it ran
    assert len(out["zips"]) == 1
    assert out["zips"][0].startswith("logspout_kinesis_tests_spark")
    assert not list(tmpdir.glob("*.zip"))


def test_workers_and_source_runner_import_installed_pyspark(spark, tmp_path):
    """A Python task and a ``record_pull`` client method, which runs in the
    streaming source runner, both import pyspark from outside the zip when
    the zip's version equals the installed one, and the zip's pyspark
    otherwise."""

    def where(_):
        import sys

        import pyspark

        return pyspark.__file__, [p for p in sys.path if p.endswith("pyspark.zip")]

    task_file, worker_zips = spark.sparkContext.parallelize([0], 1).map(where).collect()[0]

    root = tmp_path / "shards" / "shard-000"
    root.mkdir(parents=True)
    (root / "0000.jsonl").write_text(json.dumps({"data": "m", "partition_key": "k"}) + "\n")
    report = str(tmp_path / "runner.txt")

    def reporting_client(root, report):
        # defined here so that it is pickled by value into the runner
        class Reporting(FileShardClient):
            def list_shards(self, stream):
                import pyspark

                with open(report, "a") as f:
                    f.write(pyspark.__file__ + "\n")
                return super().list_shards(stream)

        return Reporting(root)

    q = (
        pull_stream(spark, reporting_client,
                    {"root": str(tmp_path / "shards"), "report": report})
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert q.exception() is None
    with open(report) as f:
        runner_files = set(f.read().split())

    from_zip = bool(worker_zips) and (
        _load_policy().package_version("pyspark", worker_zips) != pyspark.__version__
    )
    in_zip = ".zip" + os.sep
    assert (in_zip in task_file) == from_zip, task_file
    assert runner_files
    assert all((in_zip in p) == from_zip for p in runner_files), runner_files
