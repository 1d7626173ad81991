"""The driver-resident result (query/bm25.py::local_result).

Every driver-side answer — the served driver tier, the gathered and
exact_gathered tiers, the distributed tier's merge and every empty result
— is a ``_DriverResult``: its rows live in an Arrow table on the driver,
``collect()``, ``toPandas()`` and ``toArrow()`` read them there, and
anything else reads ``_jdf``, which builds the LocalRelation on first
use. Each of the result schemas the engine uses must read the same both
ways: rows, field names, Python value types, pandas frames (dtypes
included), Arrow tables and schema equal to what the lazily built JVM
relation gives."""

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from review_recommender_spark.query.bm25 import (_BATCH_SCHEMA, RESULT_SCHEMA,
                                                 _DriverResult, local_result)
from review_recommender_spark.query.snippets import SNIPPET_SCHEMA
from test_serving_tiers import _jobs_in_group

COLUMNS = {
    RESULT_SCHEMA: ([7, 3, 11], [2.5, 2.5, -0.125]),
    _BATCH_SCHEMA: ([0, 0, 1], [7, 3, 11], [2.5, 2.5, -0.125]),
    "doc_id long": ([7, 3, 11],),
    SNIPPET_SCHEMA: ([7, 3, 11], [0, 12, 40], [2, 1, 3], [4, 1, 5],
                     ["0,3", "12", "40,41,44"]),
}
CASES = [(schema, empty) for schema in COLUMNS for empty in (False, True)]
ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def _result(spark, schema, empty):
    return local_result(spark, *(() if empty else COLUMNS[schema]),
                        schema=schema)


def _jvm(df):
    """The same result read through its JVM relation only."""
    return DataFrame(df._jdf, df.sparkSession)


@pytest.mark.parametrize("schema,empty", CASES)
def test_driver_result_reads_as_its_jvm_relation(spark, schema, empty):
    df = _result(spark, schema, empty)
    assert isinstance(df, _DriverResult)
    rows = df.collect()
    jvm = _jvm(_result(spark, schema, empty))
    want = jvm.collect()
    assert rows == want
    assert len(rows) == (0 if empty else 3)
    assert [r.__fields__ for r in rows] == [r.__fields__ for r in want]
    assert [[type(v) for v in r] for r in rows] == \
        [[type(v) for v in r] for r in want]
    assert [r.asDict() for r in rows] == [r.asDict() for r in want]
    assert df.schema == jvm.schema
    assert df.columns == jvm.columns
    assert df.toArrow().equals(jvm.toArrow())
    old = spark.conf.get(ARROW)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(ARROW, arrow)
            pd.testing.assert_frame_equal(df.toPandas(), jvm.toPandas())
    finally:
        spark.conf.set(ARROW, old)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


@pytest.mark.parametrize("schema,empty", CASES)
def test_driver_result_collect_builds_no_relation(spark, schema, empty):
    """``collect()``, ``toPandas()`` and ``toArrow()`` alone build no JVM
    relation and run no Spark job."""
    df = _result(spark, schema, empty)
    (rows, pdf, table), n_jobs = _jobs_in_group(
        spark, f"driver-result-{schema}-{empty}",
        lambda: (df.collect(), df.toPandas(), df.toArrow()))
    assert n_jobs == 0
    assert df._relation is None
    assert len(rows) == len(pdf) == table.num_rows == (0 if empty else 3)


@pytest.mark.parametrize("empty", [False, True])
def test_driver_result_joins_and_unions_with_jvm_frames(spark, empty):
    """Joins, unions and counts go through the lazily built relation and
    give what the JVM relation gives."""
    df = _result(spark, RESULT_SCHEMA, empty)
    jvm = _jvm(_result(spark, RESULT_SCHEMA, empty))
    docs = spark.range(10).withColumnRenamed("id", "doc_id") \
        .withColumn("tag", F.col("doc_id") * 2)

    def rows(frame):
        return sorted(frame.collect())

    assert rows(df.join(docs, "doc_id")) == rows(jvm.join(docs, "doc_id"))
    assert rows(docs.join(df, "doc_id", "left_semi")) == \
        rows(docs.join(jvm, "doc_id", "left_semi"))
    assert rows(df.unionByName(jvm)) == rows(jvm.unionByName(jvm))
    assert rows(jvm.union(df)) == rows(jvm.union(jvm))
    assert df.count() == jvm.count() == (0 if empty else 3)
    assert df._relation is not None
