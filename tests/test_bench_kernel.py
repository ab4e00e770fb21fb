"""The one timing kernel, ``bench.time_rows``: it is the only timed loop
in ``bench.py`` and ``tools/``, and it returns ``bench.REPS`` wall-clock
seconds per row."""

from __future__ import annotations

import ast
from pathlib import Path

import bench

REPO = Path(__file__).resolve().parent.parent


def test_no_perf_counter_outside_time_rows():
    """Every wall-clock measurement goes through ``bench.time_rows``."""
    bench_py = REPO / "bench.py"
    kernel = [
        node
        for node in ast.parse(bench_py.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "time_rows"
    ]
    inside = {
        lineno
        for node in kernel
        for lineno in range(node.lineno, node.end_lineno + 1)
    }
    offenders = [
        f"{path.relative_to(REPO)}:{lineno}: {line.strip()}"
        for path in [bench_py, *sorted((REPO / "tools").rglob("*.py"))]
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if "perf_counter" in line
        and not (path == bench_py and lineno in inside)
    ]
    assert kernel, "bench.py has no time_rows"
    assert not offenders, "\n".join(offenders)


def test_time_rows_returns_reps_positive_seconds_per_row(spark, sf_small):
    reps = bench.time_rows(spark, sf_small, ["agg_groupby_multi"])
    assert list(reps) == ["agg_groupby_multi"]
    runs = reps["agg_groupby_multi"]
    assert len(runs) == bench.REPS
    assert all(isinstance(t, float) and t > 0 for t in runs), runs
