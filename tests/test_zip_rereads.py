"""``session.skip_unchanged_zip_rereads``: ``importlib.invalidate_caches()``
re-reads a zip archive only when the archive changed, and zips shipped with
``addPyFile`` still import in the next task."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.config import EngineConfig
from logspout_kinesis_tests_spark.session import skip_unchanged_zip_rereads
from logspout_kinesis_tests_spark.streaming.sink import (
    FileRecordingClient,
    make_batch_writer,
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    skip_unchanged_zip_rereads()
    patched = zipimport.zipimporter.invalidate_caches
    archive = str(tmp_path / "mods.zip")
    mod_a, mod_b = (f"zcache_{s}_{uuid.uuid4().hex[:8]}" for s in "ab")
    _write_zip(archive, {mod_a: "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module(mod_a).VALUE == "a"
        importlib.invalidate_caches()  # the importer's first stamp
        reads.clear()

        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, {mod_a: "VALUE = 'a'\n", mod_b: "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(mod_b).VALUE == "b"

        skip_unchanged_zip_rereads()
        assert zipimport.zipimporter.invalidate_caches is patched
    finally:
        for name in (mod_a, mod_b):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_added_pyfile_imports_after_sender_ran(spark, tmp_path):
    """pyspark invalidates import caches per task so that an ``addPyFile``
    zip imports in the next task; that must hold in a worker whose
    importers were patched by ``_send_partition``."""
    sc = spark.sparkContext
    cfg = EngineConfig(docker_host="dh-test")
    df = spark.range(0, 8, 1, numPartitions=4).select(
        F.col("id").cast("string").alias("value"),
        F.lit(cfg.docker_host).alias("partition_key"),
    )

    def probe(module: str):
        def task(_rows):
            patched = getattr(
                zipimport.zipimporter.invalidate_caches, "skips_unchanged", False
            )
            yield patched, importlib.import_module(module).VALUE

        return task

    # idle Python workers are handed out in turn, so a probe may land on a
    # worker no sender ran in; try until one lands on a patched worker
    for attempt in range(8):
        out_dir = str(tmp_path / f"puts-{attempt}")
        make_batch_writer(lambda: FileRecordingClient(out_dir), cfg)(df, attempt)
        module = f"zcache_probe_{uuid.uuid4().hex[:8]}"
        archive = str(tmp_path / f"{module}.zip")
        _write_zip(archive, {module: f"VALUE = {attempt}\n"})
        sc.addPyFile(archive)
        results = sc.parallelize([0], 1).mapPartitions(probe(module)).collect()
        assert results[0][1] == attempt
        if results[0][0]:
            break
    else:
        raise AssertionError("no probe task ran in a worker a sender had patched")
