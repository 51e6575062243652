"""Shared bucket-size capping for the LSH families' pair generators.

Pairing the members of a bucket emits O(b²) pairs from a b-member
bucket; one hot bucket (duplicate cluster, degenerate hyperplane
region) can dominate an entire 100 TB job. Dropping over-cap buckets
BEFORE pair generation bounds each bucket's output at cap² — standard
MinHash-dedup practice. The window count shuffles on exactly the
bucket key, so the bucket-collect groupBy that follows reuses the
partitioning (no extra exchange), and its spillable buffer holds one
bucket at a time, so a hot bucket is dropped before any member array
is built.

Used by :mod:`operators.dedup` (band buckets) and
:mod:`operators.similarity` (hyperplane buckets); each mirrors the cap
in its SQL oracles via ``QUALIFY count(*) OVER (PARTITION BY …)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def drop_oversize_buckets(
    df: DataFrame, bucket_cols: list[str], max_bucket: int
) -> DataFrame:
    """Remove all rows of buckets holding more than ``max_bucket``
    members."""
    wb = Window.partitionBy(*bucket_cols)
    return (
        df.withColumn("__bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )
