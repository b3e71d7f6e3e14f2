"""Driver-local bounded DataFrames without the per-slice Python tax.

``spark.createDataFrame(list_of_rows)`` parallelizes the rows into
``defaultParallelism`` pickled slices, and EVERY downstream action
that executes the relation pays one Python-worker round-trip PER
SLICE — measured on local[32] (r20): ~0.45 s per action for a 1-row
frame, and ~5 s when a ``coalesce(1)`` forces one task to drain all
32 parent slices SERIALLY (the ingest marker/stats writes were paying
exactly this, 5-6 s per 1-row parquet write). The data is bounded
driver-side model state by design at every call site (CC mappings,
prefix-sum offsets, profile rows, 1-row markers), so the fix is to
parallelize into as few slices as the row count needs instead of one
slice per core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# One pickled slice comfortably holds tens of thousands of small rows;
# more slices only buy unpickling parallelism, which starts mattering
# around this size (a 400k-row CC mapping unpickles in ~1.4 s single-
# slice — acceptable for a bounded frame, but split it anyway).
_ROWS_PER_SLICE = 50_000


def tiny_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for BOUNDED driver-local
    rows: identical pickle serialization and schema verification, but
    sliced by row count (``max(1, len(rows) // 50_000)`` slices)
    instead of one slice per core, so executing the relation costs one
    Python worker round-trip — not ``defaultParallelism`` of them — on
    every action that reads it. Use for driver-side model state
    (component mappings, partition offsets, profile/marker rows); never
    for real data."""
    n_slices = max(1, len(rows) // _ROWS_PER_SLICE)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema
    )
