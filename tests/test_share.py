"""The one materialization helper, ``plans/share.py::share``: it is the
only place the package checkpoints a frame, it stays lazy in its default
local mode, and its reliable mode evaluates a frame once."""

from __future__ import annotations

import os
import re
from pathlib import Path

from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.plans.share import share

PACKAGE = Path(__file__).resolve().parent.parent / "kusuma_metamorph_etl_spark"
N_ROWS = 200


def test_no_checkpoint_call_outside_share():
    """Every intermediate materialization goes through ``share``."""
    call = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    offenders = [
        f"{path.relative_to(PACKAGE)}:{lineno}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "plans" / "share.py"
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line) and not line.lstrip().startswith("#")
    ]
    assert not offenders, "\n".join(offenders)


def _counted_frame(spark):
    """(frame, accumulator): every evaluation of a row adds 1."""
    evaluations = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        evaluations.add(1)
        return x

    df = spark.range(0, N_ROWS, numPartitions=2).select(counted("id").alias("v"))
    return df, evaluations


def test_local_share_is_lazy_and_evaluates_once(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df, evaluations = _counted_frame(spark)
    shared = share(df)
    assert evaluations.value == 0, "share() ran a job before the first action"
    assert shared.count() == N_ROWS
    assert shared.agg(F.sum("v")).first()[0] == N_ROWS * (N_ROWS - 1) // 2
    assert evaluations.value == N_ROWS


def test_reliable_share_evaluates_once(spark, checkpoint_dir):
    """A lazy reliable checkpoint would evaluate the frame twice (once for
    the first action, once to write the files); ``share`` is eager in
    this mode, so two actions see one evaluation per row."""
    df, evaluations = _counted_frame(spark)
    shared = share(df)
    assert shared.count() == N_ROWS
    assert shared.agg(F.sum("v")).first()[0] == N_ROWS * (N_ROWS - 1) // 2
    assert evaluations.value == N_ROWS
    assert any(files for _, _, files in os.walk(checkpoint_dir))
