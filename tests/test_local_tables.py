"""Driver-local tables (engine/common.py): ``local_table`` must give the
schema and values ``spark.createDataFrame(list)`` gives, as a LocalRelation
built without a Spark job; ``collect_local`` must keep collected rows exact
and in the JVM."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from safedata_validator_spark.engine.checkpoint import MANIFEST_DDL
from safedata_validator_spark.engine.common import VIOLATION_DDL, collect_local, local_table

#: every schema the library builds a local table with
LIBRARY_DDLS = [
    VIOLATION_DDL,
    MANIFEST_DDL,
    "rule_id string, severity string",
    "__level string",
    "__chunk long, __b1 long, __b2 long",
    "role string, description string, ordered_idx int",
    "tool string, category string",
    "alias string, tool string",
    "node_id int, parent_id int, name string, rank string, status string",
    "event_type string",
    "domain string",
]

SAMPLE = {
    T.StringType: ["it's", "back\\slash", "", "ünïcode"],
    T.LongType: [0, -1, 2**40, 2**63 - 1],
    T.IntegerType: [0, -7, 2**31 - 1, 12],
    T.DoubleType: [0.0, -1.5, 1e300, 3.25],
    T.BooleanType: [True, False, True, False],
}


def _last_job_id(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _rows(ddl: str) -> list[list[tuple]]:
    """Empty input, an all-NULL row, and rows of values with NULLs mixed in."""
    fields = T.StructType.fromDDL(ddl).fields
    full = [
        tuple(SAMPLE[type(f.dataType)][i] for f in fields) for i in range(4)
    ]
    holes = [
        tuple(None if (i + j) % 3 == 0 else v for j, v in enumerate(row))
        for i, row in enumerate(full)
    ]
    return [[], [tuple(None for _ in fields)], full + holes]


@pytest.mark.parametrize("ddl", LIBRARY_DDLS)
def test_local_table_matches_create_dataframe(spark, ddl):
    for rows in _rows(ddl):
        before = _last_job_id(spark)
        got = local_table(spark, rows, ddl)
        assert _last_job_id(spark) == before, "building a local table ran a Spark job"
        assert got._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()


def test_local_table_rejects_wrong_types(spark):
    with pytest.raises(pa.ArrowInvalid):
        local_table(spark, [("not a number",)], "n long")


def test_collect_local_keeps_rows_in_the_jvm(spark):
    src = spark.range(0, 40, 1, 4).select(
        (F.col("id") % 4).cast("string").alias("k"),
        F.col("id"),
        (F.col("id") / 3).alias("x"),
    )
    agg = src.groupBy("k").agg(
        F.percentile_approx("x", [0.25, 0.5, 0.75], 100).alias("q"),
        F.map_from_arrays(F.array(F.lit("n")), F.array(F.count(F.lit(1)))).alias("m"),
        F.approx_count_distinct("id").alias("d"),
    )
    local = collect_local(agg)
    assert local._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    assert local.schema == agg.schema
    before = _last_job_id(spark)
    got = sorted(local.collect())
    assert _last_job_id(spark) == before, "collecting a local table ran a Spark job"
    assert got == sorted(agg.collect())


def test_collect_local_max_rows(spark):
    df = spark.range(5)
    assert collect_local(df, max_rows=4) is None
    assert sorted(r.id for r in collect_local(df, max_rows=5).collect()) == list(range(5))
