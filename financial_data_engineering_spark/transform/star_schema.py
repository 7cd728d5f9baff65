"""Star-schema builder (SURVEY.md §2.J4-J6): fluent dimension/fact
registration, dims-before-facts build, one referential-integrity
aggregate per fact.

Same modelling surface as the reference builder (star_schema.py:60-156)
with the execution model redesigned for a cluster:

- dimensions and facts are lazy DataFrames until the final parquet write;
- facts may be hive-partitioned (typically by ``date_key``) so time-range
  queries prune partitions at the file level;
- a table costs its write and nothing more: the row count is observed on
  the write itself, and the table is read back under its declared schema,
  which needs no schema-inference job (and works for an empty
  partitioned table, which leaves no file to infer from);
- referential integrity runs every FK probe of a fact in ONE aggregate,
  ``count_if(NOT coalesce(key IN (SELECT key FROM dim), false))`` per
  probe, instead of two driver-side Python sets. Spark plans each
  ``IN`` subquery as an existence join (broadcast when the dim is small):
  no ``distinct`` exchange, no row fan-out from duplicate dim keys, and
  the same orphans as ``operators.anti_join_orphans``: a null or missing
  FK is an orphan, a null dim key matches nothing.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_engineering_spark.schemas import SchemaDefinition
from financial_data_engineering_spark.transform.base_transformer import (
    TransformationResult,
)


class StarSchemaBuilder:
    """Fluent star-schema assembly over Spark DataFrames.

    Usage::

        builder = (StarSchemaBuilder("sales", output_dir)
                   .add_dimension("dim_date", natural_keys=["date"])
                   .add_dimension("dim_customer", natural_keys=["c_custkey"])
                   .add_fact("fact_orders", measures=["o_totalprice"],
                             dimension_keys=["date_key", "customer_sk"],
                             partition_by=["date_key"]))
        result = builder.build({"dim_date": ..., "fact_orders": ...})
    """

    def __init__(self, name: str, output_dir: str):
        self.name = name
        self.output_dir = output_dir
        self._definitions: list[SchemaDefinition] = []
        self._partition_by: dict[str, list[str]] = {}
        self._built: dict[str, DataFrame] = {}

    def add_dimension(
        self,
        name: str,
        natural_keys: list[str] | None = None,
        columns: list[str] | None = None,
    ) -> "StarSchemaBuilder":
        self._definitions.append(
            SchemaDefinition(
                name=name,
                table_type="dimension",
                natural_keys=natural_keys or [],
                columns=columns or [],
            )
        )
        return self

    def add_fact(
        self,
        name: str,
        measures: list[str] | None = None,
        dimension_keys: list[str] | None = None,
        columns: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> "StarSchemaBuilder":
        self._definitions.append(
            SchemaDefinition(
                name=name,
                table_type="fact",
                measures=measures or [],
                dimension_keys=dimension_keys or [],
                columns=columns or [],
            )
        )
        if partition_by:
            self._partition_by[name] = partition_by
        return self

    @property
    def dimensions(self) -> list[SchemaDefinition]:
        return [d for d in self._definitions if d.table_type == "dimension"]

    @property
    def facts(self) -> list[SchemaDefinition]:
        return [d for d in self._definitions if d.table_type == "fact"]

    def build(self, data: dict[str, DataFrame]) -> TransformationResult:
        """Write dimensions first, then facts (facts reference dim keys).
        Each write is the table's one action: its row count is observed on
        the write, and the returned frame reads the files back under the
        declared schema (hive layout: data columns, then the partition
        columns), which submits no job."""
        start = time.perf_counter()
        rows_by_table: dict[str, int] = {}
        output_paths: dict[str, str] = {}
        try:
            for defn in list(self.dimensions) + list(self.facts):
                if defn.name not in data:
                    raise KeyError(f"no data provided for table {defn.name!r}")
                df = data[defn.name]
                path = os.path.join(self.output_dir, defn.name)
                partition = self._partition_by.get(defn.name, [])
                obs = Observation()
                counted = df.observe(obs, F.count(F.lit(1)).alias("n"))
                counted.write.mode("overwrite").partitionBy(*partition).parquet(path)
                layout = [f for f in df.schema if f.name not in partition]
                layout += [df.schema[c] for c in partition]
                self._built[defn.name] = df.sparkSession.read.schema(
                    T.StructType(layout)
                ).parquet(path)
                rows_by_table[defn.name] = obs.get["n"]
                output_paths[defn.name] = path
        except Exception as exc:  # noqa: BLE001
            return TransformationResult(
                success=False,
                tables=dict(self._built),
                rows_by_table=rows_by_table,
                output_paths=output_paths,
                duration_seconds=time.perf_counter() - start,
                error=str(exc),
            )
        return TransformationResult(
            success=True,
            tables=dict(self._built),
            rows_by_table=rows_by_table,
            output_paths=output_paths,
            duration_seconds=time.perf_counter() - start,
        )

    def validate_referential_integrity(self) -> dict[str, int]:
        """Orphan count per (fact, dimension_key): fact rows whose FK has no
        matching dim row (reference probe: star_schema.py:140-156, minus its
        dead ``replace`` line — SURVEY §2.J6). Every built dimension carrying
        the key column is probed, matching the reference's behavior. All
        probes of one fact run as one aggregate over the fact (see the
        module docstring)."""
        orphans: dict[str, int] = {}
        for fact in self.facts:
            fact_df = self._built.get(fact.name)
            if fact_df is None:
                continue
            probes = [
                F.count_if(
                    ~F.coalesce(F.col(key).isin(dim_df.select(key)), F.lit(False))
                ).alias(f"{fact.name}.{key}->{dim.name}")
                for key in fact.dimension_keys
                if key in fact_df.columns
                for dim in self.dimensions
                if (dim_df := self._built.get(dim.name)) is not None
                and key in dim_df.columns
            ]
            if probes:
                orphans.update(fact_df.agg(*probes).first().asDict())
        return orphans
