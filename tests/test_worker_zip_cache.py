"""The worker's zip-directory cache: inside a PySpark worker,
``importlib.invalidate_caches()`` keeps an unchanged archive's directory
instead of re-reading it (the ~0.23 s per-task floor), re-reads an
archive that changed, and the driver keeps the stock method."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, *args: str) -> str:
    """Run ``script`` in a fresh interpreter with the package importable."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    done = subprocess.run([sys.executable, "-c", textwrap.dedent(script), *args],
                          env=env, capture_output=True, text=True, timeout=120)
    assert done.returncode == 0, done.stderr
    return done.stdout.strip()


# A PySpark worker process has pyspark.worker loaded (pyspark.daemon imports
# it before forking each worker); the package is imported after it.
_WORKER_PRELUDE = """
    import importlib, os, sys, zipfile, zipimport
    import pyspark.worker
    import flink_1_12_0_spark

    def write(archive, names):
        tmp = archive + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for name in names:
                z.writestr(f"{name}.py", f"NAME = {name!r}\\n")
        os.replace(tmp, archive)
"""


def test_worker_keeps_zip_directory_across_micro_batches(spark, tmp_path):
    """Two micro-batches through ``sharded_keyed_process``; in the worker
    the per-key fn calls ``importlib.invalidate_caches()`` and reports
    whether the pyspark archive's cached directory is still the same
    object.  The stock method re-reads the archive into a fresh dict."""
    from flink_1_12_0_spark.streaming.core import run_to_memory
    from flink_1_12_0_spark.streaming.stateful import sharded_keyed_process

    src = str(tmp_path / "src")
    for b in range(2):
        spark.createDataFrame(pd.DataFrame({"k": range(8), "b": [b] * 8}),
                              "k bigint, b bigint").coalesce(1) \
            .write.mode("append").parquet(src)
    sdf = (spark.readStream.schema("k bigint, b bigint")
           .option("maxFilesPerTrigger", 1).parquet(src))

    def report(key, pdfs, state):
        import importlib
        import sys
        import zipimport

        archives = [p for p in sys.path if p.endswith("pyspark.zip")]
        importlib.invalidate_caches()  # the first read in a fresh worker
        before = [zipimport._zip_directory_cache.get(a) for a in archives]
        importlib.invalidate_caches()
        after = [zipimport._zip_directory_cache.get(a) for a in archives]
        batches = sorted({int(b) for pdf in pdfs for b in pdf["b"]})
        yield pd.DataFrame({
            "k": [key[0]] * len(batches), "b": batches,
            "archives": [len(archives)] * len(batches),
            "same": [all(x is not None and x is y
                         for x, y in zip(before, after))] * len(batches)})

    out = run_to_memory(
        sharded_keyed_process(sdf, ["k"], report,
                              "k bigint, b bigint, archives int, same boolean"),
        output_mode="update").collect()
    assert {(r["k"], r["b"]) for r in out} == {(k, b) for k in range(8)
                                               for b in range(2)}
    assert all(r["archives"] >= 1 for r in out)
    assert [r for r in out if not r["same"]] == []


def test_worker_shares_unchanged_archive_directory(tmp_path):
    """Every importer of an unchanged archive keeps the one directory
    dict across ``invalidate_caches()`` calls."""
    out = _run(_WORKER_PRELUDE + """
    archive = os.path.join(sys.argv[1], "mods.zip")
    write(archive, ["first"])
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(archive)]
    for imp in importers:
        imp.invalidate_caches()
    files = zipimport._zip_directory_cache[archive]
    for imp in importers:
        imp.invalidate_caches()
    print(all(imp._files is files for imp in importers)
          and zipimport._zip_directory_cache[archive] is files)
    """, str(tmp_path))
    assert out == "True"


def test_worker_rereads_rewritten_archive(tmp_path):
    """An archive on ``sys.path`` rewritten with a new module is re-read
    after ``invalidate_caches()``, so the new module imports."""
    out = _run(_WORKER_PRELUDE + """
    archive = os.path.join(sys.argv[1], "mods.zip")
    write(archive, ["first"])
    sys.path.insert(0, archive)
    import first
    importlib.invalidate_caches()
    write(archive, ["first", "second"])
    importlib.invalidate_caches()
    import second
    print(first.NAME, second.NAME)
    """, str(tmp_path))
    assert out == "first second"


def test_driver_keeps_stock_invalidate_caches():
    """Outside a worker, importing the package leaves zipimport as is."""
    out = _run("""
    import zipimport
    stock = zipimport.zipimporter.invalidate_caches
    import flink_1_12_0_spark
    from pyspark.sql import SparkSession
    print(zipimport.zipimporter.invalidate_caches is stock)
    """)
    assert out == "True"
