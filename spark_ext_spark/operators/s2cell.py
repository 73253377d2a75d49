"""S2CellTransformer — append the S2 geometry cell token for lat/lon
columns at a configurable level.

Rebuild of the reference's ``org.apache.spark.ml.feature.
S2CellTransformer`` (/root/reference/sparkext-mllib/src/main/scala/org/
apache/spark/ml/feature/S2CellTransformer.scala:15-90): defaults
latCol="lat", lonCol="lon", cellCol="cell", level=10 (validated
[0,30]); output column must not already exist; lat/lon must be Double.

The cell math lives in :mod:`spark_ext_spark.functions.s2` (pure
numpy). The row path is its ``s2_token`` Arrow UDF over the
vectorized implementation — no per-row Python in the hot loop.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Transformer
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ext_spark.functions.s2 import s2_token


class S2CellTransformer(Transformer):
    latCol = Param(Params._dummy(), "latCol", "latitude column",
                   typeConverter=TypeConverters.toString)
    lonCol = Param(Params._dummy(), "lonCol", "longitude column",
                   typeConverter=TypeConverters.toString)
    cellCol = Param(Params._dummy(), "cellCol", "S2 cell token column",
                    typeConverter=TypeConverters.toString)
    level = Param(Params._dummy(), "level", "S2 level in [0, 30]",
                  typeConverter=TypeConverters.toInt)

    @keyword_only
    def __init__(self, *, latCol="lat", lonCol="lon", cellCol="cell",
                 level=10):
        super().__init__()
        self._setDefault(latCol="lat", lonCol="lon", cellCol="cell", level=10)
        kwargs = self._input_kwargs
        self._set(**{k: v for k, v in kwargs.items() if v is not None})

    def _transform(self, dataset: DataFrame) -> DataFrame:
        lat = self.getOrDefault(self.latCol)
        lon = self.getOrDefault(self.lonCol)
        cell = self.getOrDefault(self.cellCol)
        lvl = self.getOrDefault(self.level)
        if not 0 <= lvl <= 30:
            raise ValueError("level must be in [0, 30]")
        for c in (lat, lon):
            t = dataset.schema[c].dataType.typeName()
            if t != "double":
                raise TypeError(f"The column {c} must be Double type, got {t}")
        if cell in dataset.columns:
            raise ValueError(f"Output column {cell} already exists.")

        return dataset.select(
            "*", s2_token(F.col(lat), F.col(lon), F.lit(lvl)).alias(cell))
