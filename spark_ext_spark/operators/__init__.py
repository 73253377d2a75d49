"""Operator surface — one import point for every transformer/estimator.

>>> from spark_ext_spark.operators import Gather, GatherEncoder, Binning
"""

from spark_ext_spark.operators.asof import asof_join  # noqa: F401
from spark_ext_spark.operators.binning import Binning, OptimalBinning  # noqa: F401
from spark_ext_spark.operators.classification import (  # noqa: F401
    LocalLogisticRegression, LocalLogisticRegressionModel)
from spark_ext_spark.operators.downsampling import (  # noqa: F401
    Downsampling, DownsamplingModel)
from spark_ext_spark.operators.evaluation import BinaryModelMetrics  # noqa: F401
from spark_ext_spark.operators.gather import Gather  # noqa: F401
from spark_ext_spark.operators.gather_encoder import (  # noqa: F401
    GatherEncoder, GatherEncoderModel)
from spark_ext_spark.operators.indexer import (  # noqa: F401
    StringToShortIndexer, StringToShortIndexerModel)
from spark_ext_spark.operators.prefix import running_sums  # noqa: F401
from spark_ext_spark.operators.range_join import range_join  # noqa: F401
from spark_ext_spark.operators.s2cell import S2CellTransformer  # noqa: F401
from spark_ext_spark.operators.validation import (  # noqa: F401
    check_expectations, profile_columns)
