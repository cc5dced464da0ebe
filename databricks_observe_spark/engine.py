"""Engine context: one call prepares every source the operators consume."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from databricks_observe_spark.sources.catalog_model import catalog_frames
from databricks_observe_spark.sources.tables import DEFAULT_SF_DIR, load_tables


def prepare(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load fixture tables + derived catalog model; returns name -> DataFrame.

    Everything is lazily planned: every reader takes its schema from the
    parquet footer, so nothing is collected or cached and no job runs.
    """
    ctx = load_tables(spark, sf_dir)
    ctx.update(catalog_frames(spark))
    return ctx
