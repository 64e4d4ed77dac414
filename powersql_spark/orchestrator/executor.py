"""Spark execution backend for the orchestrator.

Replaces the reference's PostgreSQL/BigQuery executors
(src/execute.rs:20-238): instead of pretty-printing the AST back to SQL
and shipping it over the wire (src/execute.rs:101,222), statements
execute natively in the SparkSession.

Materialization semantics:
- view / materialized view -> CREATE OR REPLACE TEMP VIEW (the
  reference treats MV identically to VIEW, src/main.rs:153).
- table -> eager parquet write under <project>/target/<name> +
  re-registered as a temp view over the written files, read with the
  schema of the DataFrame just written, so the read-back launches no
  schema-inference job. mode("overwrite") gives the reference's
  DROP-and-recreate idempotence (src/execute.rs:77-111); the topo run
  loop rebuilds downstream models, which is what DROP ... CASCADE
  achieved (SURVEY.md §7 decision 4).

At scale the parquet write IS the point: a TABLE AS model is a
checkpoint that downstream models re-scan columnar with pushdown,
instead of recomputing the view chain.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from powersql_spark.orchestrator.sqlparse import Model


class SparkExecutor:
    def __init__(self, spark: SparkSession, target_dir: str | Path):
        self.spark = spark
        self.target_dir = str(target_dir)

    def execute(self, model: Model) -> None:
        """Materialize one model (reference Executor::execute,
        src/execute.rs:77-111)."""
        if model.kind in ("view", "materialized_view"):
            self.spark.sql(
                f"CREATE OR REPLACE TEMP VIEW {_q(model.name)} AS {model.query}"
            )
        elif model.kind == "table":
            path = os.path.join(self.target_dir, model.name)
            df = self.spark.sql(model.query)
            df.write.mode("overwrite").parquet(path)
            self.spark.read.schema(df.schema).parquet(path).createOrReplaceTempView(
                model.name
            )
        else:  # pragma: no cover
            raise ValueError(f"unknown model kind: {model.kind}")

    def analyze(self, model: Model) -> DataFrame:
        """Analysis only — no job runs. Spark's analyzer is the type
        checker (replaces reference src/types.rs:47-221; SURVEY.md §3.2).
        Registers the analyzed plan as a temp view so downstream models
        resolve against it."""
        df = self.spark.sql(model.query)
        df.createOrReplaceTempView(model.name)
        return df

    def query_bool(self, condition: str) -> bool:
        """SELECT (cond) AS condition, read one boolean cell
        (src/main.rs:439-440, src/execute.rs:124-130)."""
        row = self.spark.sql(f"SELECT ({condition}) AS condition").first()
        return bool(row[0]) if row is not None and row[0] is not None else False

    def drop(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)


def _q(name: str) -> str:
    """Quote a (possibly dotted) relation name for Spark SQL."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))
