"""Structural guards for the driver contract and the bench suite.

Cheap tests that catch whole classes of bookkeeping mistakes before a
driver round does: a bench suite entry referring to a renamed registry
query (the r10 dedup_incremental shadowing lesson), an oracle SQL
string that no longer parses after an edit (the full sweep would catch
it too, but this runs in seconds inside pytest), or a test module that
defines one test name twice.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _bench_suite_names() -> list[str]:
    """String constants of the `suite = [...]` literal in bench.py."""
    tree = ast.parse((ROOT / "bench.py").read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "suite" for t in node.targets
        ):
            return [
                c.value
                for c in ast.walk(node.value)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
            ]
    raise AssertionError("no `suite = [...]` assignment found in bench.py")


def test_bench_suite_names_are_registered():
    from tsgen.queries import registry

    reg = registry()
    suite = _bench_suite_names()
    assert len(suite) > 100  # the registry-backed block, not a stub
    missing = [n for n in suite if n not in reg]
    assert not missing, f"bench.py suite names not in registry: {missing}"


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
