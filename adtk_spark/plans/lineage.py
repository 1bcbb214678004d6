"""Per-partition lineage + metrics rows for every tier materialization.

The north rule requires each tier write to record what it produced and
from where. ``lineage_rows`` summarizes a DataFrame per physical Spark
partition (spark_partition_id of the final stage); ``commit_with_lineage``
commits the data snapshot through the TierCatalog and appends the
summary rows to the catalog's ``_lineage`` table tagged with the table
name and snapshot id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lineage_rows(df: DataFrame, table: str, snapshot_id: int,
                 *, source_col: str = "source", ts_col: str = "bucket_ts") -> DataFrame:
    cols = df.columns
    ts = F.col(ts_col) if ts_col in cols else F.lit(None).cast("timestamp")
    src = F.col(source_col) if source_col in cols else F.lit(None).cast("string")
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(ts).alias("min_ts"),
            F.max(ts).alias("max_ts"),
            F.countDistinct(src).alias("n_sources"),
        )
        .select(
            F.lit(table).alias("table"),
            F.lit(snapshot_id).alias("snapshot_id"),
            "partition_id", "n_rows", "min_ts", "max_ts", "n_sources",
            F.current_timestamp().alias("recorded_at"),
        )
    )


def commit_with_lineage(catalog, spark, df: DataFrame, table: str,
                        meta: dict | None = None,
                        *, source_col: str = "source",
                        ts_col: str = "bucket_ts") -> int:
    snap_id = catalog.commit(df, table, meta)
    written = catalog.read_snapshot(spark, table, snap_id)
    lin = lineage_rows(written, table, snap_id, source_col=source_col, ts_col=ts_col)
    catalog.commit(lin, "_lineage", {"for_table": table, "for_snapshot": snap_id})
    return snap_id
