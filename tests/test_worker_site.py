"""Python workers import the installed, compiled pyspark instead of Spark's
uncompiled ``pyspark.zip`` (``worker_site/sitecustomize.py``), and only when
the versions match; ``get_spark`` puts that module on the workers' path only
when it shadows no other ``sitecustomize``."""

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

from logspout_kinesis_tests_spark import session
from logspout_kinesis_tests_spark.session import (
    WORKER_SITE_DIR,
    get_spark,
    redirect_worker_imports,
)
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


def _pyspark_files(version: str) -> dict[str, str]:
    return {
        "pyspark/__init__.py": "",
        "pyspark/version.py": f"__version__: str = '{version}'\n",
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
    """Spark's two zips (pyspark 4.1.2), a stdlib-like entry without
    pyspark, and site-packages entries holding pyspark 4.1.2 and 3.5.0."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    return types.SimpleNamespace(
        pyspark_zip=_zip(lib / "pyspark.zip", _pyspark_files("4.1.2")),
        py4j_zip=_zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        stdlib=_tree(tmp_path / "stdlib", {"json_like.py": ""}),
        same=_tree(tmp_path / "site-same", _pyspark_files("4.1.2")),
        other=_tree(tmp_path / "site-other", _pyspark_files("3.5.0")),
    )


def test_reorders_when_versions_match(layout):
    policy = _load_policy()
    path = [layout.pyspark_zip, layout.py4j_zip, layout.stdlib, layout.same, "/nowhere"]
    assert policy.prefer_installed_pyspark(path) == [
        layout.stdlib, layout.same, layout.pyspark_zip, layout.py4j_zip, "/nowhere",
    ]


def test_unchanged_when_versions_differ(layout):
    policy = _load_policy()
    path = [layout.pyspark_zip, layout.py4j_zip, layout.stdlib, layout.other, layout.same]
    assert policy.prefer_installed_pyspark(path) == path


def test_unchanged_without_pyspark_outside_the_zip(layout):
    policy = _load_policy()
    path = [layout.pyspark_zip, layout.py4j_zip, layout.stdlib, "/nowhere"]
    assert policy.prefer_installed_pyspark(path) == path


def test_unchanged_without_a_pyspark_zip(layout):
    """The py4j zip moves only together with pyspark's."""
    policy = _load_policy()
    path = [layout.py4j_zip, layout.stdlib, layout.same]
    assert policy.prefer_installed_pyspark(path) == path


def test_py4j_zip_stays_when_pyspark_zip_stays(layout, tmp_path):
    policy = _load_policy()
    unreadable = _zip(tmp_path / "pyspark.zip", {"pyspark/__init__.py": ""})
    path = [unreadable, layout.py4j_zip, layout.same]
    assert policy.prefer_installed_pyspark(path) == path


def _startup_modules(pythonpath: list[str]) -> dict:
    code = (
        "import json, sys\n"
        "print(json.dumps({'path': sys.path, 'modules': sorted(sys.modules)}))\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    res = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=60,
    )
    assert res.returncode == 0, res.stderr
    return json.loads(res.stdout)


def test_startup_imports_only_the_stdlib(layout):
    """Run as Python's real start-up hook: the zips move, and the hook adds
    no pyspark and no module outside the standard library."""
    zips = [layout.pyspark_zip, layout.py4j_zip]
    before = _startup_modules([*zips, layout.same])
    after = _startup_modules([*zips, layout.same, WORKER_SITE_DIR])
    assert before["path"][1:3] == zips
    assert after["path"].index(layout.pyspark_zip) == after["path"].index(layout.same) + 1
    added = set(after["modules"]) - set(before["modules"]) - {"sitecustomize"}
    assert not any(m.split(".")[0] == "pyspark" for m in after["modules"])
    assert {m for m in added if m.split(".")[0] not in sys.stdlib_module_names} == set()


def _redirected(environment: dict) -> dict:
    sc = types.SimpleNamespace(environment=dict(environment))
    redirect_worker_imports(sc)
    return sc.environment


def test_redirect_keeps_configured_entries():
    assert _redirected({}) == {"PYTHONPATH": WORKER_SITE_DIR}
    configured = os.pathsep.join(["/a", "/b"])
    assert _redirected({"PYTHONPATH": configured, "X": "1"}) == {
        "PYTHONPATH": os.pathsep.join(["/a", "/b", WORKER_SITE_DIR]), "X": "1",
    }
    assert _redirected({"PYTHONPATH": WORKER_SITE_DIR}) == {"PYTHONPATH": WORKER_SITE_DIR}


def test_no_entry_when_a_sitecustomize_exists(tmp_path, monkeypatch):
    (tmp_path / "sitecustomize.py").write_text("")
    monkeypatch.syspath_prepend(str(tmp_path))
    assert _redirected({}) == {}
    assert _redirected({"PYTHONPATH": "/a"}) == {"PYTHONPATH": "/a"}


def test_get_spark_leaves_a_session_it_did_not_build(spark, monkeypatch):
    environment = dict(spark.sparkContext.environment)
    monkeypatch.setattr(session, "WORKER_SITE_DIR", "/elsewhere/worker_site")
    # the fixture's arguments, so that no conf of the shared session changes
    assert get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8) is spark
    assert spark.sparkContext.environment == environment


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
        _load_policy().pyspark_version(worker_zips) != pyspark.__version__
    )
    in_zip = ".zip" + os.sep
    assert (in_zip in task_file) == from_zip, task_file
    assert runner_files
    assert all((in_zip in p) == from_zip for p in runner_files), runner_files
