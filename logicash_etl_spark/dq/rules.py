"""Data-quality rule engine.

The reference's quality gate (glue_jobs/etl_job.py:77-97) is four
hand-written predicates counted one `.count()` action at a time — four
full scans before the real filter. At 100 TB that is four wasted
passes; this engine computes ALL per-rule violation counts in ONE
aggregation pass (`sum(when(violation,1))` per rule — the A7/P9
single-pass pattern from qa/validate_data_fast.py:156-171), then
splits clean vs quarantine with one filter each.

Reference rules reproduced in ``logicash_rules`` (etl_job.py:92-97):
id_atm IS NOT NULL, monto > 0, fecha <= now, status = 'EXITOSA'.
``now`` is the required ``as_of`` Column, resolved once by the caller:
current_timestamp() in a filter breaks reproducible tests (SURVEY
section 7.5) and is evaluated again in every action, so two actions
over one frame could disagree on a row near the cut.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """A named keep-predicate: rows violating it are quarantined."""

    name: str
    keep: Column

    @property
    def violated(self) -> Column:
        # null predicate result counts as violation (e.g. null monto)
        return ~F.coalesce(self.keep, F.lit(False))


class RuleSet:
    """A conjunction of rules with single-pass observability."""

    def __init__(self, rules: list[Rule]):
        if not rules:
            raise ValueError("empty RuleSet")
        self.rules = rules

    @property
    def keep_all(self) -> Column:
        out = self.rules[0].keep
        for r in self.rules[1:]:
            out = out & r.keep
        return F.coalesce(out, F.lit(False))

    def violation_counts(self, df: DataFrame) -> DataFrame:
        """Per-rule violation counts + total rows, ONE pass (P9 done
        right). Returns a 1-row DataFrame: total_rows, <rule>_violations...,
        clean_rows."""
        aggs = [F.count("*").alias("total_rows")]
        for r in self.rules:
            # coalesce: SUM over zero rows is NULL, counts must be 0
            aggs.append(
                F.coalesce(F.sum(F.when(r.violated, 1).otherwise(0)), F.lit(0)).alias(
                    f"{r.name}_violations"
                )
            )
        aggs.append(
            F.coalesce(F.sum(F.when(self.keep_all, 1).otherwise(0)), F.lit(0)).alias(
                "clean_rows"
            )
        )
        return df.agg(*aggs)

    def clean(self, df: DataFrame) -> DataFrame:
        """Rows passing every rule (the conjunctive filter P8)."""
        return df.filter(self.keep_all)

    def quarantine(self, df: DataFrame) -> DataFrame:
        """Rejected rows, annotated with the list of violated rules —
        one pass, array of failed rule names (never a per-rule scan)."""
        tags = F.array_compact(
            F.array(
                *[F.when(r.violated, F.lit(r.name)) for r in self.rules]
            )
        )
        return df.withColumn("violated_rules", tags).filter(
            F.size("violated_rules") > 0
        )

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(clean, quarantine) — callers should persist `df` first if
        both sides are consumed, to scan the source once."""
        return self.clean(df), self.quarantine(df)


def logicash_rules(as_of: Column) -> RuleSet:
    """The reference's four-rule quality gate (etl_job.py:92-97)."""
    return RuleSet(
        [
            Rule("null_fk", F.col("id_atm").isNotNull()),
            Rule("non_positive_amount", F.col("monto") > 0),
            Rule("future_date", F.col("fecha") <= as_of),
            Rule("failed_status", F.col("status_transaccion") == "EXITOSA"),
        ]
    )
