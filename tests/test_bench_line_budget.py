"""The driver parses only the last ~2000 chars of bench.py stdout; the
final JSON line must fit that window with margin.  r17's line did not
(2100+ chars) and the entire r17->r18 round-over-round comparison was
lost (PERF_r18 prev_bench_ok=false) — this test pins the budget so a
future headline-row addition cannot silently reintroduce the overflow.
No Spark session needed: the line layout is a pure function of the
HEADLINE name list and the timing values.
"""

import json

import bench


def _worst_case_timings() -> dict[str, float]:
    # Every row at its widest realistic 2-decimal width ("12.34" = 5
    # chars; every real r18 median was under 13s, and all-74-rows-at-10s+
    # would be a 740s run).  At this width the 2-decimal layout is just
    # over budget and the ladder must engage, so this also exercises the
    # 1-decimal fallback end-to-end.
    return {name: 12.34 for name in bench.HEADLINE}


def test_final_line_under_budget_at_worst_case_widths():
    line = bench._final_line(_worst_case_timings(), 0.1)
    assert len(line) + 1 < 2000, len(line)  # line + newline inside window
    assert len(line) < bench._FINAL_LINE_BUDGET, len(line)


def test_final_line_realistic_values_well_under_budget():
    timings = {name: 1.23 for name in bench.HEADLINE}
    line = bench._final_line(timings, 0.1)
    assert len(line) < 1850, len(line)


def test_final_line_is_valid_json_with_contract_keys():
    timings = {name: 0.214 for name in bench.HEADLINE}
    parsed = json.loads(bench._final_line(timings, 0.1))
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    # Every headline row present — the driver treats a missing name as a
    # dropped query (regression) regardless of speed.
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    # 2-decimal rounding at this scale (0.214 -> 0.21).
    assert parsed["queries"]["agg_groupby_multi"] == 0.21
    # The total is the sum of the emitted per-query values.
    assert parsed["value"] == round(sum(parsed["queries"].values()), 2)


def test_final_line_degrades_to_one_decimal_rather_than_overflow():
    # Force the 2-decimal layout over budget with many synthetic rows;
    # the ladder must fall back to 1 decimal, not emit an oversized line.
    timings = {f"synthetic_added_row_{i:03d}": 12.34 for i in range(90)}
    timings.update(_worst_case_timings())
    line = bench._final_line(timings, 0.1)
    parsed = json.loads(line)
    assert parsed["queries"]["synthetic_added_row_000"] == 12.3
    assert parsed["value"] == round(sum(parsed["queries"].values()), 1)
