"""Bench coverage contract (round-13): every declared query has a
timing home — the HEADLINE best-of-2 loop, the EXTENDED single-pass
loop, or a dedicated bench section (SECTION_OWNER) — so a new query
cannot ship unmeasured (r12 verdict: ~18 names had no timing
anywhere, making the 2x-of-baseline gate unenforceable on them)."""

from __future__ import annotations

import inspect
import re


def test_every_declared_query_has_a_timing_home():
    import bench
    from zvdb_spark.queries.registry import QUERY_ORDER

    covered = (
        set(bench.HEADLINE)
        | set(bench.EXTENDED)
        | set(bench.SECTION_OWNER)
    )
    missing = [n for n in QUERY_ORDER if n not in covered]
    assert not missing, (
        f"declared queries with no bench timing: {missing} — add them "
        "to bench.py's EXTENDED loop (or map them to the section that "
        "times their operator in SECTION_OWNER)"
    )
    stale = sorted(covered - set(QUERY_ORDER))
    assert not stale, f"bench times undeclared names: {stale}"


def test_timing_homes_do_not_overlap():
    import bench

    assert not set(bench.HEADLINE) & set(bench.EXTENDED)
    assert not (
        set(bench.HEADLINE) | set(bench.EXTENDED)
    ) & set(bench.SECTION_OWNER), (
        "a query both looped and section-owned would publish two "
        "competing timings"
    )


def test_section_owner_targets_are_real_bench_sections():
    import bench

    src = inspect.getsource(bench)
    sections = set(re.findall(r'_section\(\s*"([^"]+)"', src))
    missing = {
        s for s in bench.SECTION_OWNER.values() if s not in sections
    }
    assert not missing, (
        f"SECTION_OWNER points at nonexistent sections: {missing}"
    )


def test_harness_imports_from_the_engine_exist():
    """Every ``from zvdb_spark... import name`` in the harnesses that
    the suite never imports (bench.py, scripts/, perfbench/) names
    something the engine still has, so deleting a public operator
    cannot silently break one of them."""
    import ast
    import importlib
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [root / "bench.py", *sorted(root.glob("scripts/*.py")),
             *sorted(root.glob("perfbench/*.py"))]
    missing, checked = [], 0
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[0] == "zvdb_spark"):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                checked += 1
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ModuleNotFoundError:
                    missing.append(
                        f"{path.name}:{node.lineno} "
                        f"{node.module}.{alias.name}"
                    )
    assert checked, "no engine imports found — the scan is broken"
    assert not missing, f"harness imports of missing names: {missing}"
