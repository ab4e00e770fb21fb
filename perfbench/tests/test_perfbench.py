"""Tests of the benchmark itself: seeded inputs, metric names, the result
line, and the event-log parser (on a small recorded log).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digests(root: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(root):
        for name in files:
            path = os.path.join(base, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(root: str, seed: int) -> dict[str, str]:
    tables = os.path.join(root, "tables")
    gen.generate(tables, seed, 0.001)
    gen.assign_days(tables, seed, 3)
    gen.split_events(tables, os.path.join(root, "stream"), 4)
    return _digests(root)


def test_same_seed_gives_identical_files(tmp_path):
    first = _inputs(str(tmp_path / "a"), 7)
    assert first == _inputs(str(tmp_path / "b"), 7)
    assert {"tables/lineitem.parquet", "tables/order_days.parquet",
            "stream/events.parquet/part-00003.parquet"} <= set(first)
    other = _inputs(str(tmp_path / "c"), 8)
    assert other.keys() == first.keys() and other != first


def test_stream_files_are_time_ordered(tmp_path):
    import pyarrow.parquet as pq

    gen.generate(str(tmp_path), 3, 0.001)
    sizes = gen.split_events(str(tmp_path), str(tmp_path / "s"), 4)
    assert len(set(sizes)) == 1
    parts = sorted((tmp_path / "s" / "events.parquet").iterdir(), key=os.path.getmtime)
    last = None
    for part in parts:
        ts = pq.read_table(part, columns=["ts"]).column(0).to_pylist()
        assert ts == sorted(ts) and (last is None or ts[0] >= last)
        last = ts[-1]


@pytest.mark.slow
def test_same_seed_gives_identical_feeds(tmp_path):
    from kusuma_metamorph_etl_spark.session import get_session

    spark = get_session("perfbench-test")
    digests = []
    for sub in ("a", "b"):
        tables = str(tmp_path / sub / "tables")
        gen.generate(tables, 5, 0.001)
        gen.assign_days(tables, 5, 2)
        gen.write_feeds(spark, tables, str(tmp_path / sub / "feeds"), 2)
        digests.append(_digests(str(tmp_path / sub / "feeds")))
    assert digests[0] == digests[1]
    assert "20250802/sales_20250802.csv" in digests[0]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layer == run.per_layer_names()
    for metric in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(metric["name"]) and UNIT.match(metric["unit"])
    for metric in spec["per_layer"]:
        assert metric["unit"] == run._unit_of(metric["name"])
    for metric in spec["end_to_end"]:
        assert metric["unit"] == run.END_TO_END[metric["name"]]
        assert 0 < metric["bound"] <= 0.25
    names = e2e + layer + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert {"setup_s"} <= set(e2e)
    assert all(w["name"] in workloads.WORKLOADS for w in spec["workloads"])


def test_result_line_schema():
    metrics = {"setup_s": {"value": 1.5, "unit": "s"}}
    line = json.loads(run.result_line(10, 0, metrics))
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert line == {"correct": True, "attempted": 10, "failed": 0, "metrics": metrics}
    assert json.loads(run.result_line(10, 2, metrics))["correct"] is False


def test_event_log_parser_on_recorded_log():
    events = spans.read_event_log(os.path.join(HERE, "data"))
    stats = spans.group_stats(events)
    traced, untagged = stats["sp0"], stats[None]
    assert (traced["exec.jobs"], traced["exec.stages"], traced["exec.tasks"]) == (2, 2, 3)
    assert (untagged["exec.jobs"], untagged["exec.tasks"]) == (2, 3)
    assert traced["exec.task_run_ms"] == 4772
    assert traced["exec.input_rows"] == 1000
    assert traced["exec.shuffle_write_bytes"] == traced["exec.shuffle_read_bytes"] == 269
    assert traced["python.run_ms"] == 4104 and traced["python.bytes_sent"] == 8608
    assert "python.run_ms" not in untagged


def test_layer_metrics_charge_jobs_to_spans():
    events = spans.read_event_log(os.path.join(HERE, "data"))
    tree = [
        {"id": "sq", "name": "row", "layer": "queries", "parent": None, "start": 0.0, "end": 2.0},
        {"id": "sp0", "name": "noop_write.row", "layer": "run", "parent": "sq", "start": 0.5, "end": 1.5},
    ]
    out = spans.layer_metrics(tree, spans.group_stats(events), units=2, wall_s=4.0, cores=4)
    assert out["queries.build_s"] == 1.0  # 2 s over 2 units
    assert out["queries.eager_jobs"] == 1.0  # the child span's 2 jobs, per unit
    assert out["exec.jobs"] == 1.0  # untagged jobs are not charged
    assert out["exec.core_busy_ratio"] == pytest.approx(4772 / (4 * 4.0 * 1000))
