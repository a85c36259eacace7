"""Driver-built DataFrames with an explicit slice count.

``spark.createDataFrame(list, ...)`` shards a small driver-side list
into defaultParallelism pickled partitions; every downstream task that
reads several of them (coalesce(1), a single shuffle reader) pays one
python-deserializer round-trip PER SLICE — ~0.13 s × 32 ≈ 4 s of pure
overhead for an 8-row probe batch (measured on phash_index_probe; the
hashing itself is 0.08 s). Parallelizing with a pinned slice count
keeps such scans at a handful of worker rounds, so timings measure the
operator, not driver serialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(
    spark: SparkSession, rows, schema: str | StructType,
    slices: int | None = None,
) -> DataFrame:
    """``rows`` as a DataFrame of ``schema`` (a DDL string or a
    StructType) in ``slices`` partitions; by default one slice per 500k
    rows (one slice below 500k)."""
    rows = list(rows)
    if slices is None:
        slices = max(1, len(rows) // 500_000 + 1)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )
