"""Python-worker daemon of every `get_spark` session (`spark.python.daemon.module`).

pyspark's worker calls `importlib.invalidate_caches()` before every task
(`worker_util.setup_spark_files`). On CPython < 3.13 each cached
`zipimporter` then re-reads its whole archive directory: a worker holds 16
importers over pyspark.zip (1,328 entries), plus two over the spark-core jar
that Spark also puts on the workers' path. Spark's own archives (anything
under `$SPARK_HOME`) never change while a worker lives, so their importers
keep their directory; any other zip (`sc.addPyFile`) still gets the stock
re-read. Then this runs pyspark's own daemon.
"""
import os
import sys
import zipimport

_SPARK_HOME = os.path.join(os.path.realpath(os.environ.get("SPARK_HOME", "/nonexistent")), "")


class _SparkZipImporter(zipimport.zipimporter):
    def __init__(self, path):
        super().__init__(path)
        self._read_only = os.path.realpath(self.archive).startswith(_SPARK_HOME)

    def invalidate_caches(self):
        if not self._read_only:
            super().invalidate_caches()


if __name__ == "__main__":
    # before pyspark's first import, so every importer of its zip is ours
    sys.path_hooks[sys.path_hooks.index(zipimport.zipimporter)] = _SparkZipImporter
    sys.path_importer_cache.clear()

    from pyspark import daemon

    daemon.manager()
