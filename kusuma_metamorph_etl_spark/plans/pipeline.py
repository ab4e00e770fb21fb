"""Named-stage pipeline (`pipe_named_nodes`, SURVEY.md §2.9, §7).

The reference names every intermediate DataFrame after Informatica mapping
nodes — ``SQ_Shortcut_To_*`` (source qualifier), ``FIL_*`` (filter),
``JNR_*`` (join), ``AGG_TRANS_*`` (aggregate), ``EXP_*`` (expression),
``Shortcut_To_*_Tgt`` (target) — with a log line per node
(``/root/reference/ETL-Airflow/dags/tasks/supplier_performance_task.py:
14-170``).  The engine makes that an explicit, composable object: a
``Pipeline`` is an ordered list of named, pure ``DataFrame → DataFrame``
stages.  Stages only *extend Catalyst's logical plan* — running a pipeline
triggers no job; actions happen in gates and sinks, once, with an explicit
persist boundary in between (fixes anti-pattern A2).
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

StageFn = Callable[[DataFrame], DataFrame]


@dataclass(frozen=True)
class Stage:
    """One named transformation node."""

    name: str
    fn: StageFn
    kind: str = "EXP"  # SQ | FIL | JNR | AGG | EXP | TGT — display only


@dataclass
class Pipeline:
    """An ordered mapping pipeline with optional quality gates.

    >>> p = (Pipeline("supplier_performance")
    ...      .stage("FIL_cancelled", lambda df: df.filter(...), kind="FIL")
    ...      .stage("AGG_by_supplier", my_agg, kind="AGG"))
    >>> result = p.run(source_df)
    """

    name: str
    stages: list[Stage] = field(default_factory=list)

    def stage(self, name: str, fn: StageFn, kind: str = "EXP") -> "Pipeline":
        self.stages.append(Stage(name, fn, kind))
        return self

    def run(self, df: DataFrame) -> DataFrame:
        """Apply all stages lazily; the result carries the whole Catalyst
        plan, to be optimized globally at first action."""
        for stage in self.stages:
            df = stage.fn(df)
            logger.debug("pipeline %s: applied %s/%s", self.name, stage.kind, stage.name)
        return df
