"""Python workers of a `get_spark` session fork from
`kinesyslog_spark.worker_daemon`: a task finds no cached zipimporter for
the archives on its PYTHONPATH (pyspark's per-task
`importlib.invalidate_caches()` would re-read each one's directory), and
imports from those archives still work. The task bodies are local
functions so that they ship by value: workers cannot import this
module."""

from __future__ import annotations


def test_tasks_hold_no_archive_importers(spark):
    def archive_importers(_):
        import os
        import sys
        import zipimport

        archives = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                    if p.endswith((".zip", ".jar"))]
        cached = [k for k, v in sys.path_importer_cache.items()
                  if isinstance(v, zipimport.zipimporter) and v.archive in archives]
        return archives, cached

    sc = spark.sparkContext
    for _ in range(3):  # the first task warms the worker; reused workers too
        (archives, cached), = sc.parallelize([0], 1).map(archive_importers).collect()
        assert any(a.endswith("pyspark.zip") for a in archives), archives
        assert cached == []


def test_task_imports_unloaded_pyspark_module(spark):
    def import_linalg(_):
        import pyspark.ml.linalg

        return pyspark.ml.linalg.Vectors.dense([1.0, 2.0]).norm(1)

    rdd = spark.sparkContext.parallelize([0, 1], 2).map(import_linalg)
    assert rdd.collect() == [3.0, 3.0]
