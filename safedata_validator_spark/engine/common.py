"""Shared violation-row construction helpers, driver-local tables and SQL
text escaping.

Violations are data, not log lines (the reference's verdict mechanism is a
counting log handler, logger.py:68-107; here it is a DataFrame with a fixed
schema so counting, scoping and persistence are relational).

Driver-local tables (declared rule grids, level lists, dimensions, the
re-injected shared aggregates) are Catalyst ``LocalRelation``s: their rows
live in the driver JVM, so a job that scans or broadcasts one reads them
there. ``spark.createDataFrame(list)`` would instead make a pickled Python
RDD, and every job touching it would start Python workers to unpickle rows.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from safedata_validator_spark.rules.model import Rule

#: Canonical violations schema (column order matters for unions).
VIOLATION_COLS = ["rule_id", "severity", "scope", "entity", "column", "value", "message"]

VIOLATION_DDL = (
    "rule_id string, severity string, scope string, entity string, "
    "column string, value string, message string"
)


def entity_col(key_cols: list[str]) -> Column:
    """Stable row identity for violation reporting: 'k1=v1/k2=v2'."""
    parts = []
    for k in key_cols:
        parts.append(F.concat(F.lit(f"{k}="), F.coalesce(F.col(k).cast("string"), F.lit("∅"))))
    return F.concat_ws("/", *parts)


def as_violations(
    df: DataFrame,
    rule: Rule,
    scope: Column,
    entity: Column,
    value: Column,
    message: Column | str,
    column: str | None = None,
    severity: str | None = None,
) -> DataFrame:
    """Project an arbitrary violating-rows DataFrame into the canonical shape.
    ``severity`` overrides the rule's own level for derived advisory rows
    (e.g. extent congruence's both-populated WARNING)."""
    msg = F.lit(message) if isinstance(message, str) else message
    return df.select(
        F.lit(rule.rule_id).alias("rule_id"),
        F.lit(severity if severity is not None else rule.severity).alias("severity"),
        scope.cast("string").alias("scope"),
        entity.cast("string").alias("entity"),
        F.lit(column if column is not None else rule.column).alias("column"),
        value.cast("string").alias("value"),
        msg.alias("message"),
    )


def empty_violations(spark) -> DataFrame:
    return local_table(spark, [], VIOLATION_DDL)


def local_table(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Rows built in Python, with schema ``ddl``, as a ``LocalRelation``: they
    travel to the JVM as one Arrow table, which Spark keeps as a local
    relation below ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB by default). A value of the wrong type raises, as
    ``createDataFrame`` with a schema does."""
    schema = T.StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def collect_local(df: DataFrame, max_rows: int | None = None) -> DataFrame | None:
    """Run ``df`` and keep its rows as a ``LocalRelation`` without passing
    them through Python: the rows are collected into the driver JVM and
    wrapped there, so arrays, maps and sketch values stay exact, and a later
    ``collect()`` of the result runs no job. Returns None, having collected
    at most ``max_rows + 1`` rows, when ``df`` has more than ``max_rows``."""
    src = df if max_rows is None else df.limit(max_rows + 1)
    # toDF: a typed Dataset (spark.range's is of longs) collects no Rows
    jrows = src._jdf.toDF().collectAsList()
    if max_rows is not None and jrows.size() > max_rows:
        return None
    spark = df.sparkSession
    return DataFrame(spark._jsparkSession.createDataFrame(jrows, df._jdf.schema()), spark)


def sql_ident(name: str) -> str:
    """``name`` as a backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal (backslash escapes, the
    parser's default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
