"""Data-quality module: rule engine, audits, profiling."""

from logicash_etl_spark.dq.rules import Rule, RuleSet
from logicash_etl_spark.dq.profile import null_audit

__all__ = ["Rule", "RuleSet", "null_audit"]
