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


def test_compact_line_fits_the_tail_capture():
    """The compact final stdout line stays within a ~2,000-char stdout
    tail capture with every HEADLINE query at a worst-case timing and
    every compact scalar present, and still carries all of them.
    Unrounded timings (17 significant digits) take the one-decimal
    fallback."""
    import json

    import bench

    worst = 12345.678912
    scalars = {k: worst * 100 for k in bench.COMPACT_SCALARS}
    for t in (worst, 1 / 3 + 12345):
        line = bench._compact_line(
            {"sf": "0.1"}, {n: t for n in bench.HEADLINE}, scalars,
            ["err"] * 999, worst * 100,
        )
        assert len(line) <= bench.COMPACT_MAX_CHARS <= 1900, len(line)
        got = json.loads(line)
        assert list(got["queries"]) == list(bench.HEADLINE)
        assert all(got[k] == worst * 100 for k in bench.COMPACT_SCALARS)
        assert (got["metric"], got["unit"], got["n_errors"]) == (
            "bench_total", "sec", 999
        )
    assert set(got["queries"].values()) == {round(t, 1)}
    # a line that fits keeps full precision
    first = bench.HEADLINE[0]
    short = bench._compact_line({"sf": "0.1"}, {first: t}, scalars, [], 1.5)
    assert json.loads(short)["queries"] == {first: t}
