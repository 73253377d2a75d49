"""Gather — long→wide reshape into ``array<struct<key, value:double>>``.

Rebuild of the reference's ``org.apache.spark.ml.feature.Gather``
(reference: sparkext-mllib/src/main/scala/org/apache/spark/ml/feature/
Gather.scala:47-120). Semantics (Gather.scala:65-85):

    df.groupBy(primaryKeys :+ key).agg(valueAgg(value))     # sum|count
      .groupBy(primaryKeys).agg(collectArray(struct(key, value)))

with the value always cast to double (Gather.scala:83) and nulls in
the value column ignored by sum/count (GatherSpec.scala:27-28,49-50).

Spark-first notes
-----------------
Both levels are plain hash aggregations; Catalyst plans
partial(map-side) + final aggregation for each, so at 100 TB this is
two shuffles on (pk, key) then (pk) — the minimum for the semantics.
When the same primary key partitioning is reused downstream
(GatherEncoder.transform, joins on pk), the second shuffle's output
partitioning is reusable by AQE. No UDFs; everything stays in
whole-stage codegen.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Transformer
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ext_spark.functions import collect_array

VALUE_AGGS = ("sum", "count")


class Gather(Transformer, DefaultParamsReadable, DefaultParamsWritable):
    """Inverse of explode: gather a key/value long table into one
    ``array<struct>`` row per primary key (R tidyr/reshape2 style)."""

    primaryKeyCols = Param(
        Params._dummy(), "primaryKeyCols", "grouping (primary key) columns",
        typeConverter=TypeConverters.toListString)
    keyCol = Param(Params._dummy(), "keyCol", "key column to gather",
                   typeConverter=TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol", "value column to gather",
                     typeConverter=TypeConverters.toString)
    valueAgg = Param(
        Params._dummy(), "valueAgg",
        "aggregation over the value column: sum|count (default sum; "
        "reference Gather.scala:61-63)",
        typeConverter=TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol", "gathered output column",
                      typeConverter=TypeConverters.toString)
    sortKeys = Param(
        Params._dummy(), "sortKeys",
        "if true, sort the gathered array by key for deterministic "
        "output (collection order is otherwise unspecified, as in the "
        "reference aggregate)",
        typeConverter=TypeConverters.toBoolean)

    @keyword_only
    def __init__(self, *, primaryKeyCols=None, keyCol=None, valueCol=None,
                 valueAgg="sum", outputCol=None, sortKeys=False):
        super().__init__()
        self._setDefault(valueAgg="sum", sortKeys=False)
        kwargs = self._input_kwargs
        self._set(**{k: v for k, v in kwargs.items() if v is not None})

    @keyword_only
    def setParams(self, *, primaryKeyCols=None, keyCol=None, valueCol=None,
                  valueAgg=None, outputCol=None, sortKeys=None):
        kwargs = self._input_kwargs
        return self._set(**{k: v for k, v in kwargs.items() if v is not None})

    def getPrimaryKeyCols(self):
        return self.getOrDefault(self.primaryKeyCols)

    def getKeyCol(self):
        return self.getOrDefault(self.keyCol)

    def getValueCol(self):
        return self.getOrDefault(self.valueCol)

    def getValueAgg(self):
        return self.getOrDefault(self.valueAgg)

    def getOutputCol(self):
        return self.getOrDefault(self.outputCol)

    def _transform(self, dataset: DataFrame) -> DataFrame:
        pk = self.getPrimaryKeyCols()
        key, value = self.getKeyCol(), self.getValueCol()
        out = self.getOutputCol()
        agg = self.getValueAgg()
        if agg not in VALUE_AGGS:
            raise ValueError(f"valueAgg must be one of {VALUE_AGGS}, got {agg!r}")
        if not pk:
            raise ValueError("primaryKeyCols must be non-empty")

        agg_expr = (F.sum(value) if agg == "sum" else F.count(value))
        # Level 1: (pk, key) aggregation — map-side partial combine cuts
        # the shuffle volume to distinct (pk, key) pairs.
        grouped = (dataset
                   .groupBy(*pk, key)
                   .agg(agg_expr.cast("double").alias("__gather_value")))
        # Level 2: collect per-pk array<struct<key,value>>.
        struct_col = F.struct(
            F.col(key).alias(key),
            F.col("__gather_value").alias(value))
        arr = collect_array(struct_col)
        if self.getOrDefault(self.sortKeys):
            arr = F.sort_array(arr)
        return grouped.groupBy(*pk).agg(arr.alias(out))
