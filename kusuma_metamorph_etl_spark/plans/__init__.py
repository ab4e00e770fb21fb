"""Pipeline graph + data-quality layer (SURVEY.md §2.9, §7)."""

from kusuma_metamorph_etl_spark.plans.pipeline import Pipeline, Stage
from kusuma_metamorph_etl_spark.plans.quality import (
    DuplicateKeyError,
    GateError,
    NullPolicyError,
    Outcome,
    SchemaMismatchError,
    assert_schema,
    check,
    duplicate_gate,
    null_policy,
)

__all__ = [
    "Pipeline",
    "Stage",
    "DuplicateKeyError",
    "GateError",
    "NullPolicyError",
    "Outcome",
    "SchemaMismatchError",
    "assert_schema",
    "check",
    "duplicate_gate",
    "null_policy",
]
