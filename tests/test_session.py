"""The Python-worker daemon that `get_spark` sets (tsgen/worker_daemon.py).

Spark's own archives keep their cached zip directory across the per-task
`importlib.invalidate_caches()`; a zip shipped with `addPyFile` still gets
the stock re-read; plain UDFs that live outside `tsgen` still run; and the
workers find `tsgen` from any working directory.
"""
import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent.parent


def _directory_kept(spark, module: str) -> list[bool]:
    """Inside one task that imports `module` from a zip: for every cached
    importer of that zip, whether its cached directory is the same object
    after `importlib.invalidate_caches()`."""

    def fn(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        path = importlib.import_module(module).__file__
        imps = [
            v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter) and path.startswith(v.archive)
        ]
        before = [zipimport._zip_directory_cache.get(v.archive) for v in imps]
        importlib.invalidate_caches()
        after = [zipimport._zip_directory_cache.get(v.archive) for v in imps]
        yield pd.DataFrame({"kept": [a is b for a, b in zip(before, after)]}, dtype=bool)

    return [r.kept for r in spark.range(1).mapInPandas(fn, "kept boolean").collect()]


def test_spark_archives_keep_their_directory(spark):
    kept = _directory_kept(spark, "pyspark")
    assert kept and all(kept), kept


def test_add_py_file_zip_keeps_the_stock_reread(spark, tmp_path):
    archive = tmp_path / "tsgen_daemon_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("tsgen_daemon_probe.py", "def triple(x):\n    return 3 * x\n")
    spark.sparkContext.addPyFile(str(archive))

    @F.udf("bigint")
    def triple(x):
        import tsgen_daemon_probe

        return tsgen_daemon_probe.triple(x)

    assert [r.y for r in spark.range(3).select(triple("id").alias("y")).collect()] == [0, 3, 6]
    kept = _directory_kept(spark, "tsgen_daemon_probe")
    assert kept and not any(kept), kept


def test_plain_udf_outside_tsgen_runs(spark):
    square = F.udf(lambda x: x * x, "bigint")
    got = sorted(r.y for r in spark.range(4).select(square("id").alias("y")).collect())
    assert got == [0, 1, 4, 9]


def test_workers_find_tsgen_from_any_cwd(tmp_path):
    # a fresh session whose cwd and PYTHONPATH do not hold the repo: the
    # daemon module and decompose's mapInPandas body import tsgen on workers
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from tsgen import decompose, generators
        from tsgen.session import get_spark

        spark = get_spark("any-cwd")
        df = decompose.decompose(generators.generate(spark, 4, 16, "sine"))
        print("rows", df.count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", TSGEN_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 64" in out.stdout
