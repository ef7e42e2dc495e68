"""Relational + extension operators (SURVEY.md section 2 inventory)."""

from logicash_etl_spark.operators.joins import (
    enrich,
    semi_join,
    anti_join,
    range_join,
    asof_join,
    bloom_filter_build,
    bloom_filter_probe,
)
from logicash_etl_spark.operators.aggregates import (
    conditional_pivot,
    scd1_latest,
    top_k,
)
from logicash_etl_spark.operators.graph import pagerank_int
from logicash_etl_spark.operators.sampling import weighted_topk_sample
from logicash_etl_spark.operators.windows import ranked, sessionize
from logicash_etl_spark.operators.merge import scd2_apply, scd2_init

__all__ = [
    "scd2_apply",
    "scd2_init",
    "enrich",
    "semi_join",
    "anti_join",
    "range_join",
    "asof_join",
    "bloom_filter_build",
    "bloom_filter_probe",
    "conditional_pivot",
    "scd1_latest",
    "top_k",
    "pagerank_int",
    "weighted_topk_sample",
    "ranked",
    "sessionize",
]
