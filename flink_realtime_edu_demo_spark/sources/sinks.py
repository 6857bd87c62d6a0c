"""Batch sinks (SURVEY.md §2.1): Flink filesystem sinks mapped to
Spark writers, with the 100 TB layout rules applied.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
) -> None:
    """Filesystem sink. At 100 TB: partition by a low-cardinality date-ish
    column (partition pruning on read), cap file size so a skewed writer
    task can't emit a multi-GB file."""
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink — the write-side half of the zero-
    shuffle fact⋈fact join (SCALE.md): both join sides written with
    ``write_bucketed(..., bucket_col=<join key>, n_buckets=N)`` sort-
    merge-join with NO Exchange (asserted in tests/test_scale_ops.py).
    Bucketed output requires the table catalog (saveAsTable), not a
    bare path — that is a Spark constraint, not a layout choice."""
    w = df.write.bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.mode(mode).saveAsTable(table)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC filesystem sink (Flink filesystem connector, format=orc).
    Same partitioning guidance as write_parquet; ORC keeps the
    predicate-pushdown + column-pruning surface on re-read."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
