"""Table catalog: load the benchmark parquet tables with declared schemas.

``load`` applies the declared StructType so the plan's ReadSchema is exact
(column pruning + predicate pushdown reach the parquet scan), and survives
schema drift in the files themselves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from financial_data_engineering_spark.schemas import SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one benchmark table. Declared schema, no inference.

    Timestamp columns (events.ts) are stored as parquet ``timestamp[us]``,
    which is exactly Spark's native TimestampType precision — the declared
    schema reads them directly, and with the UTC session timezone
    (session.py) values compare bit-for-bit with UTC-naive engines.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.read
    schema = SCHEMAS.get(name)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)

