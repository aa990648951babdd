"""Scale-aware input widening for under-split scans.

A parquet scan parallelizes at ROW-GROUP granularity: a compact
single-row-group file (exactly what small dimension snapshots and
test fixtures look like) yields ONE scan partition, so every map-side
expansion that follows — deletion-variant explosion, shingle
generation, per-row encode folds — runs on one core until the first
exchange, no matter how large the cluster. At production scale the
same input has thousands of row groups and the scan is already wide.

``widen_if_narrow`` is the conditional dial: round-robin repartition
to the cluster's parallelism ONLY when the current partition count is
below it. On a 1000-executor cluster reading 100 TB this is a no-op
(scan splits ≫ parallelism — no shuffle is ever added); on an
under-split input it converts a serial expansion stage into a
parallel one for the cost of shuffling the (small, pre-expansion)
base rows. Apply it at expansion sites measured to be scan-bound —
not unconditionally, and never after the expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's default
    parallelism when its plan currently has fewer partitions; no-op
    (and no added exchange) otherwise."""
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism
        current = df.rdd.getNumPartitions()
    except Exception:
        # Connect-only sessions expose neither; widening is a local
        # optimization, never a correctness requirement
        return df
    if current >= target:
        return df
    return df.repartition(target)
