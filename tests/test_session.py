"""How `get_spark` starts a session (tsgen/session.py, tsgen/worker_daemon.py).

Python workers: Spark's own archives keep their cached zip directory across
the per-task `importlib.invalidate_caches()`; a zip shipped with `addPyFile`
still gets the stock re-read; plain UDFs that live outside `tsgen` still
run; and the workers find `tsgen` from any working directory.

Driver JVM: the first session on a host publishes one complete AppCDS
archive and leaves no JVM behind; the next one maps it; a broken cache or a
host conf directory with real files gives a normal start with a clean
stdout; and the driver heap defaults to half the host's memory, at most 16g.
"""
import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsgen import session

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


def test_driver_memory_default_is_half_the_host_at_most_16g(spark, tmp_path, monkeypatch):
    assert spark.sparkContext.getConf().get("spark.driver.memory") == session.driver_memory()
    monkeypatch.delenv("TSGEN_DRIVER_MEM", raising=False)
    for total_kb, want in ((16_469_000, "8041m"), (67_108_864, "16384m"), (2_000_000, "976m")):
        meminfo = tmp_path / "meminfo"
        meminfo.write_text(f"MemFree:  1000 kB\nMemTotal:  {total_kb} kB\n")
        assert session.driver_memory(str(meminfo)) == want


def test_driver_memory_env_overrides_the_default(monkeypatch):
    monkeypatch.setenv("TSGEN_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


# One JSON line on stdout: the driver JVM's pid, its archive flags, a
# spark-defaults probe and a row count. Anything else on stdout is noise.
_PROBE = textwrap.dedent(
    f"""
    import json, sys
    sys.path.insert(0, {str(ROOT)!r})
    from pyspark import SparkContext
    from tsgen.session import get_spark

    spark = get_spark("cds-probe")
    args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    print(json.dumps({{
        "pid": SparkContext._gateway.proc.pid,
        "flags": [a.split("=")[0] for a in args if "Archive" in a],
        "probe": spark.conf.get("spark.tsgen.probe", None),
        "rows": spark.range(7).count(),
    }}))
    """
)
_DEAD_PID = 2**22 + 1  # above any pid_max


def _session(cache: Path, **env) -> dict:
    """Run `_PROBE` in a fresh process with `cache` as XDG_CACHE_HOME; its
    one stdout line, after checking that it exited 0 with nothing else on
    stdout."""
    full = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS")}
    full.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2", TSGEN_DRIVER_MEM="1g", **env)
    out = subprocess.run([sys.executable, "-c", _PROBE], cwd=cache.parent, env=full,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout
    return json.loads(lines[0])


def _entry(cache: Path) -> Path:
    (entry,) = (cache / "tsgen" / "cds").iterdir()
    return entry


def _archives(cache: Path) -> list[Path]:
    """The files of the cache entry, checked to be one complete archive."""
    files = [p for p in _entry(cache).iterdir() if p.name != "conf"]
    assert len(files) == 1, files
    assert files[0].name == f"driver-{files[0].stat().st_size}.jsa"
    return files


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache filled by a host's first session, and that session's report."""
    cache = tmp_path_factory.mktemp("cds") / "cache"
    info = _session(cache)
    return cache, info, os.path.exists(f"/proc/{info['pid']}")


def test_first_session_publishes_one_archive_and_leaves_no_jvm(built):
    cache, info, jvm_alive = built
    assert info["flags"] == ["-XX:ArchiveClassesAtExit"] and info["rows"] == 7
    assert not jvm_alive
    _archives(cache)
    assert not any((_entry(cache) / "conf").iterdir())


def test_second_session_maps_the_archive(built, tmp_path):
    cache, _, _ = built
    before = _archives(cache)
    info = _session(cache, JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={tmp_path}/cl.%p.log")
    assert info["flags"] == ["-XX:SharedArchiveFile"] and info["rows"] == 7
    logs = "".join(p.read_text() for p in tmp_path.glob("cl.*.log"))
    assert "source: shared objects file (top)" in logs
    assert _archives(cache) == before


@pytest.mark.parametrize("damage", ["truncated", "leftover", "garbage"])
def test_a_broken_cache_starts_normally(built, tmp_path, damage):
    cache = tmp_path / "cache"
    shutil.copytree(built[0], cache)
    (archive,) = _archives(cache)
    archive.chmod(0o644)
    if damage == "truncated":  # published, then cut short: mapping it would crash the JVM
        os.truncate(archive, archive.stat().st_size // 2)
    elif damage == "leftover":  # a dump whose JVM was killed
        os.truncate(archive, archive.stat().st_size // 2)
        archive.rename(archive.with_name(f"driver.{_DEAD_PID}.tmp"))
    else:
        archive.unlink()
        archive.with_name("driver-65536.jsa").write_bytes(os.urandom(65536))
    info = _session(cache)
    assert info["rows"] == 7
    if damage == "garbage":  # the JVM refuses it and starts without
        assert info["flags"] == ["-XX:SharedArchiveFile"]
    else:  # dumped anew, and the damaged file is gone
        assert info["flags"] == ["-XX:ArchiveClassesAtExit"]
        _archives(cache)


def test_host_conf_dir_is_honoured_without_an_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.tsgen.probe 1\n")
    info = _session(tmp_path / "cache", SPARK_CONF_DIR=str(conf))
    assert info["probe"] == "1" and info["flags"] == [] and info["rows"] == 7
    assert not (tmp_path / "cache").exists()
