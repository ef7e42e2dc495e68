"""Structured Streaming surface: file-trigger ingestion + windowed ops."""

from logicash_etl_spark.streaming.sources import stream_parquet_dir
from logicash_etl_spark.streaming.ops import (
    windowed_counts,
    session_windows,
    dedup_stream,
)

__all__ = [
    "stream_parquet_dir",
    "windowed_counts",
    "session_windows",
    "dedup_stream",
]
