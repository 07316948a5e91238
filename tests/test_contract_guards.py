"""Structural guards for the driver contract and the benchmark.

Cheap tests that catch whole classes of bookkeeping mistakes: a benchmark
session query referring to a renamed registry query, a second registration
silently replacing a query (the r10 dedup_incremental shadowing lesson), an
oracle SQL string that no longer parses after an edit (the full sweep would
catch it too, but this runs in seconds inside pytest), a test module that
defines one test name twice, a module that reads a testdata table past
`io.read_table`, a session built past `session.get_spark`, or an import
that nothing reads.
"""
from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _session_query_names() -> list[str]:
    """The SESSION_QUERIES tuple of perfbench/workloads.py, read without
    importing it (the module imports the benchmark's data generator)."""
    tree = ast.parse((ROOT / "perfbench" / "workloads.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "SESSION_QUERIES" for t in node.targets
        ):
            return list(ast.literal_eval(node.value))
    raise AssertionError("no `SESSION_QUERIES = (...)` in perfbench/workloads.py")


def test_perfbench_session_queries_are_registered():
    from tsgen.queries import registry

    reg = registry()
    names = _session_query_names()
    assert names
    missing = [n for n in names if n not in reg]
    assert not missing, f"SESSION_QUERIES names not in registry: {missing}"


def test_duplicate_registry_name_raises():
    import pytest

    from tsgen.queries import _REGISTRY, Query, register, registry

    before = registry()
    name = next(iter(before))
    other = Query(name, lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match=name):
        register(name)(other.spark_fn)
    with pytest.raises(ValueError, match=name):
        _REGISTRY[name] = other
    with pytest.raises(ValueError, match=name):
        _REGISTRY.update({"not_a_registered_query": other, name: other})
    after = registry()
    assert list(after) == list(before)
    assert all(after[n] is before[n] for n in before)


def test_registry_starts_with_generator_queries():
    """The generator queries register when tsgen.queries is imported, so they
    lead the registry even when a stage module is imported first."""
    import subprocess
    import sys

    code = (
        "import tsgen.queries_statemodels\n"
        "from tsgen import expr\n"
        "from tsgen.queries import registry\n"
        "gens = [f'gen_{f}' for f in expr.FAMILIES]\n"
        "gens += ['gen_labeled', 'series_stats', 'sample_data_mixed']\n"
        "assert list(registry())[:len(gens)] == gens, list(registry())[:len(gens)]\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)


def test_all_oracles_parse_in_duckdb():
    # EXPLAIN binds every table and function without executing — a
    # seconds-fast syntax/semantic check over all 398 oracle strings.
    import duckdb

    from tsgen.queries import registry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    bad = []
    for name, q in registry().items():
        if not q.oracle:
            continue
        try:
            con.execute(f"EXPLAIN {q.oracle}")
        except Exception as exc:  # noqa: BLE001 — collect all, report once
            bad.append(f"{name}: {type(exc).__name__}: {str(exc)[:120]}")
    assert not bad, "oracles failed to parse:\n" + "\n".join(bad)


def test_no_shadowed_test_functions():
    """A second top-level `def test_x` in one module silently replaces the
    first, so pytest never runs it."""
    dups = []
    for path in sorted((ROOT / "tests").glob("*.py")):
        seen: set[str] = set()
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name.startswith("test") and node.name in seen:
                dups.append(f"{path.name}::{node.name}")
            seen.add(node.name)
    assert not dups, dups


# The file-stream sources take the on-disk schema of the table they replay;
# `io.read_table` would hand them the normalized one (events_stream docstring).
RAW_SCHEMA_READS = {
    ("streaming.py", 'schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema'),
    ("streaming.py", 'schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema'),
}


def test_testdata_tables_are_read_through_read_table():
    """Path layout, the events `ts` policy and the fan-out choice live in
    `io.read_table`; a module that reads `{sf_dir}/<name>.parquet` itself or
    flips the nanos conf at run time bypasses them."""
    bad = []
    for path in sorted((ROOT / "tsgen").glob("*.py")):
        text = path.read_text()
        if re.search(r"conf\.set\([^)]*nanosAsLong", text):
            bad.append(f"{path.name}: runtime conf.set of nanosAsLong")
        if path.name == "io.py":
            continue
        for n, line in enumerate(text.splitlines(), 1):
            line = line.strip()
            if 'read.parquet(f"{sf_dir}' in line and (path.name, line) not in RAW_SCHEMA_READS:
                bad.append(f"{path.name}:{n}: {line}")
    assert not bad, "\n".join(bad)


def test_sessions_are_built_by_get_spark():
    """`get_spark` is the one caller of `SparkSession.builder`, so every
    session gets its settings, the Python-worker daemon among them."""
    bad = []
    paths = [*ROOT.glob("*.py")]
    for d in ("tsgen", "tools", "examples", "tests"):
        paths += (ROOT / d).rglob("*.py")
    for path in sorted(paths):
        if path == ROOT / "tsgen" / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "builder"
                and ast.unparse(node.value).split(".")[-1] == "SparkSession"
            ):
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not bad, "SparkSession.builder outside tsgen/session.py:\n" + "\n".join(bad)


def _unused_imports(path: Path) -> list[str]:
    """Names `path` imports but never reads. A module reads a name when it
    loads it anywhere in the file or lists it in `__all__`; `__future__`
    imports and lines marked `# noqa` are side-effect imports."""
    text = path.read_text()
    tree = ast.parse(text)
    lines = text.splitlines()
    read = {
        n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
    }
    imported = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            read |= {e.value for e in node.value.elts if isinstance(e, ast.Constant)}
        elif (
            isinstance(node, (ast.Import, ast.ImportFrom))
            and getattr(node, "module", None) != "__future__"
            and "# noqa" not in lines[node.lineno - 1]
        ):
            imported += [
                (node.lineno, a.asname or a.name.split(".")[0]) for a in node.names if a.name != "*"
            ]
    return [f"{path.relative_to(ROOT)}:{n} {name}" for n, name in imported if name not in read]


def test_no_unused_imports():
    """No linter runs in tier-1, so this is the unused-import check for the
    library, the tests, the tools and the examples (`__init__.py` files
    re-export by importing)."""
    bad = []
    for d in ("tsgen", "tests", "tools", "examples"):
        for path in sorted((ROOT / d).rglob("*.py")):
            if path.name != "__init__.py":
                bad += _unused_imports(path)
    assert not bad, "\n".join(bad)
