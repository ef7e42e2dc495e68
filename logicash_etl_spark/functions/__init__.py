"""Scalar/aggregate function helpers shared by operators and queries."""

from logicash_etl_spark.functions.money import money, dsum, davg

__all__ = ["money", "dsum", "davg"]
