"""Entry contract for the spark-graft engine (PySpark target).

A caller brings its own plain SparkSession, runs ``entry(spark)`` as a
smoke check, then runs each ``queries()[name]`` and compares it against
the matching ``oracle_sql()[name]`` via DuckDB (row count, schema and
order-insensitive values; ``tests/test_oracle_parity.py`` does the same
for every registered query).

The real registry lives in ``big_data_hw_23_24_spark.queries``; this
module just re-exports it and provides the flagship entry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from big_data_hw_23_24_spark import queries as _registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MRApproxOutliers cell stats on sf0.001.

    One Catalyst plan: parquet scan → grid-cell projection → hash
    aggregate → 7×7 offset-explode equi-join → conditional aggregation
    (SURVEY.md §7 Phase 1). Returns the per-cell (ci, cj, size, n3, n7)
    stats plus outlier classification at D=1.0, M=10.
    """
    from pyspark.sql import functions as F

    from big_data_hw_23_24_spark.operators.outliers import cell_grid_stats
    from big_data_hw_23_24_spark.sources.tables import load_table, points_from_events

    points = points_from_events(load_table(spark, "/root/testdata/sf0.001", "events"))
    stats = cell_grid_stats(points, 1.0)
    return stats.withColumn(
        "cls",
        F.when(F.col("n7") <= 10, "sure")
        .when(F.col("n3") <= 10, "uncertain")
        .otherwise("inlier"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
