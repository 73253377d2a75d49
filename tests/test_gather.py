"""Golden-value tests for Gather, ported from GatherSpec
(sparkext-mllib/src/test/.../GatherSpec.scala:12-53)."""

from __future__ import annotations

from pyspark.sql.types import (LongType, StringType, StructField, StructType)

from spark_ext_spark.operators.gather import Gather

SCHEMA = StructType([
    StructField("cookie_id", StringType()),
    StructField("site", StringType()),
    StructField("impressions", LongType(), nullable=True),
])

# GatherSpec.scala:19-30: cookie_1 has site_1 twice (20 + null -> sum 20)
ROWS = [
    ("cookie_1", "site_1", 20),
    ("cookie_1", "site_1", None),
    ("cookie_1", "site_2", 1),
    ("cookie_2", "site_2", 5),
    ("cookie_2", "site_3", 1),
]


def _gathered(spark, value_agg):
    df = spark.createDataFrame(ROWS, SCHEMA)
    g = Gather(primaryKeyCols=["cookie_id"], keyCol="site",
               valueCol="impressions", valueAgg=value_agg,
               outputCol="sites", sortKeys=True)
    return {r["cookie_id"]: r["sites"] for r in g.transform(df).collect()}


def test_gather_sum_skips_nulls(spark):
    # GatherSpec.scala:32-53: sum over [20, null] = 20.0; always double.
    out = _gathered(spark, "sum")
    assert [(s["site"], s["impressions"]) for s in out["cookie_1"]] == \
        [("site_1", 20.0), ("site_2", 1.0)]
    assert [(s["site"], s["impressions"]) for s in out["cookie_2"]] == \
        [("site_2", 5.0), ("site_3", 1.0)]


def test_gather_count_counts_non_null(spark):
    out = _gathered(spark, "count")
    # count(impressions) over [20, null] = 1 (non-null count)
    assert [(s["site"], s["impressions"]) for s in out["cookie_1"]] == \
        [("site_1", 1.0), ("site_2", 1.0)]


def test_gather_output_schema(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    g = Gather(primaryKeyCols=["cookie_id"], keyCol="site",
               valueCol="impressions", outputCol="sites")
    out = g.transform(df)
    field = out.schema["sites"]
    assert field.dataType.typeName() == "array"
    names = [f.name for f in field.dataType.elementType.fields]
    assert names == ["site", "impressions"]
    assert field.dataType.elementType["impressions"].dataType.typeName() == "double"


def test_gather_bad_agg_raises(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    g = Gather(primaryKeyCols=["cookie_id"], keyCol="site",
               valueCol="impressions", valueAgg="max", outputCol="sites")
    try:
        g.transform(df)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass
