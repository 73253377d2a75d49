"""GatherEncoder — encode gathered ``array<struct<key,value>>`` as
sparse feature vectors using a fitted key dictionary.

Rebuild of the reference's ``org.apache.spark.ml.feature.GatherEncoder``
(/root/reference/sparkext-mllib/src/main/scala/org/apache/spark/ml/
feature/GatherEncoder.scala:115-408). Two dictionary-selection modes
(GatherEncoder.scala:151-221):

- ``top`` (top coverage): keys sorted by distinct-row count descending;
  keep the shortest prefix whose counts cover ``cover``% of the total.
  The reference implements this as scanLeft-prefix-sums-takeWhile on
  the driver (GatherEncoder.scala:183-186); the equivalent predicate is
  ``exclusive_prefix_sum < cover% * total``, which at cover=100 also
  reproduces the reference's collect-all-keys special case
  (GatherEncoder.scala:160-165) since every count is positive.
- ``index`` (min support): keys whose count ≥ ``support``% of the total
  count (GatherEncoder.scala:190-221). NOTE the reference asymmetry,
  kept here: excludeKeys are removed AFTER the threshold for ``index``
  (total includes excluded keys) but BEFORE for ``top``.

Determinism contract (the reference inherits Spark-1.5 hash order for
ties; we pin): count DESC, then key ASC.

Scale design (100 TB): the fit is fully distributed —
``explode → groupBy(key).count()`` with map-side partial aggregation,
then a cumsum over the *compacted distinct-key table* (whose
cardinality is the dictionary size, ≤ ``maxKeys``), and one bounded
collect of the final dictionary. The cumsum is
``operators/prefix.py:running_sums``: one global window by default
(single task — fine to ~1e6 distinct keys), its range-partitioned arm
over ``fitPartitions=N`` ranges when the key table itself is huge.
The transform broadcasts the dictionary explicitly (``sc.broadcast``)
instead of closure-capturing it per task (the reference ships keys in
the UDF closure, GatherEncoder.scala:304,326-370).
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.linalg import SparseVector, VectorUDT
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from spark_ext_spark.operators.prefix import running_sums

TRANSFORMATIONS = ("top", "index")


class _GatherEncoderParams(Params):
    inputCol = Param(Params._dummy(), "inputCol",
                     "gathered array<struct> input column",
                     typeConverter=TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol", "feature vector output",
                      typeConverter=TypeConverters.toString)
    keyCol = Param(Params._dummy(), "keyCol", "key field inside the struct",
                   typeConverter=TypeConverters.toString)
    valueCol = Param(Params._dummy(), "valueCol",
                     "value field inside the struct",
                     typeConverter=TypeConverters.toString)
    transformation = Param(Params._dummy(), "transformation",
                           "dictionary selection: top|index",
                           typeConverter=TypeConverters.toString)
    support = Param(Params._dummy(), "support",
                    "min support percent in [0,100] (index mode)",
                    typeConverter=TypeConverters.toFloat)
    cover = Param(Params._dummy(), "cover",
                  "top coverage percent in [0,100] (top mode)",
                  typeConverter=TypeConverters.toFloat)
    allOther = Param(Params._dummy(), "allOther",
                     "append an 'all other' slot accumulating unseen keys",
                     typeConverter=TypeConverters.toBoolean)
    keepInputCol = Param(Params._dummy(), "keepInputCol",
                         "keep the input column in the output",
                         typeConverter=TypeConverters.toBoolean)
    failOnEmptyKeys = Param(Params._dummy(), "failOnEmptyKeys",
                            "raise if the fitted key set is empty",
                            typeConverter=TypeConverters.toBoolean)
    excludeKeys = Param(Params._dummy(), "excludeKeys",
                        "keys excluded from the dictionary")
    maxKeys = Param(Params._dummy(), "maxKeys",
                    "hard cap on dictionary size (100 TB guardrail; the "
                    "reference collects unboundedly at cover=100)",
                    typeConverter=TypeConverters.toInt)
    fitPartitions = Param(Params._dummy(), "fitPartitions",
                          "0 = single-partition window over the compacted "
                          "key table (cheapest below ~1e6 keys); N>1 = "
                          "range-partitioned running sums over N "
                          "partitions (operators/prefix.py) for huge "
                          "dictionaries",
                          typeConverter=TypeConverters.toInt)

    def _validate_schema(self, schema: StructType) -> StructType:
        """GatherEncoder.scala:52-80: input must be array<struct>, key
        numeric-or-string, value numeric."""
        in_field = schema[self.getOrDefault(self.inputCol)]
        dt = in_field.dataType
        if not (isinstance(dt, ArrayType) and isinstance(dt.elementType, StructType)):
            raise TypeError(
                f"Input column data type {dt.simpleString()} is not supported")
        elem = dt.elementType
        key_t = elem[self.getOrDefault(self.keyCol)].dataType.typeName()
        if key_t not in ("string", "byte", "short", "integer", "long",
                         "float", "double", "decimal"):
            raise TypeError(f"Key column data type {key_t} is not supported")
        val_t = elem[self.getOrDefault(self.valueCol)].dataType.typeName()
        if val_t not in ("byte", "short", "integer", "long", "float",
                         "double", "decimal"):
            raise TypeError(f"Value data type {val_t} is not supported")
        return elem


class GatherEncoder(Estimator, _GatherEncoderParams,
                    DefaultParamsReadable, DefaultParamsWritable):
    """Learn a key dictionary from a gathered column (top-coverage or
    min-support), producing a :class:`GatherEncoderModel`."""

    @keyword_only
    def __init__(self, *, inputCol=None, outputCol=None, keyCol=None,
                 valueCol=None, transformation="top", support=0.1,
                 cover=100.0, allOther=False, keepInputCol=True,
                 failOnEmptyKeys=True, excludeKeys=None, maxKeys=1 << 20,
                 fitPartitions=0):
        super().__init__()
        # excludeKeys stored as a LIST (not frozenset) so the params are
        # JSON-serializable for DefaultParamsWritable persistence
        self._setDefault(transformation="top", support=0.1, cover=100.0,
                         allOther=False, keepInputCol=True,
                         failOnEmptyKeys=True, excludeKeys=[],
                         maxKeys=1 << 20, fitPartitions=0)
        kwargs = self._input_kwargs
        if kwargs.get("excludeKeys") is not None:
            kwargs["excludeKeys"] = list(kwargs["excludeKeys"])
        self._set(**{k: v for k, v in kwargs.items() if v is not None})

    def key_counts(self, dataset: DataFrame) -> DataFrame:
        """Distributed per-key OCCURRENCE counts of the gathered column
        — a key repeated within one row's array counts each time,
        matching the reference's implementation exactly (explode →
        groupBy → count, GatherEncoder.scala:169,200; its Scaladoc says
        'distinct users' but the code it ships counts occurrences, and
        the SQL oracles replay the shipped behavior)."""
        in_col = self.getOrDefault(self.inputCol)
        key = self.getOrDefault(self.keyCol)
        # a NULL key is not a fittable feature: it can't name a vector
        # slot, and SQL engines silently drop it from dictionary joins
        # anyway — excluded here so the fitted slot order never shifts
        # by one when a corpus gains null keys
        return (dataset
                .select(F.explode(F.col(f"{in_col}.{key}")).alias("key"))
                .filter(F.col("key").isNotNull())
                .groupBy("key").count())

    def selected_keys(self, dataset: DataFrame,
                      persisted_out: list | None = None) -> DataFrame:
        """Dictionary as a DataFrame (key, count, slot) — stays
        distributed; ``fit`` does the final bounded collect.
        ``persisted_out`` receives any intermediate the
        range-partitioned arm (fitPartitions > 1) persists, for release
        after the dictionary is materialized (``_fit`` does this)."""
        transformation = self.getOrDefault(self.transformation)
        if transformation not in TRANSFORMATIONS:
            raise ValueError(
                f"Invalid gather transformation type: {transformation}")
        exclude = self.getOrDefault(self.excludeKeys)
        counts = self.key_counts(dataset)

        # One running_sums call per transformation: the window arm
        # (fitPartitions=0) or the range-partitioned arm over
        # fitPartitions ranges. Both threshold filters keep a prefix of
        # the (count desc, key asc) order — counts are ≥ 1, so `cum`
        # rises strictly and `count` falls — hence a slot numbered
        # before the filter equals the post-filter numbering.
        order = [F.desc("count"), F.asc("key")]
        n_fit = self.getOrDefault(self.fitPartitions)
        run = dict(inclusive=False, totals={"__total": "count"},
                   num_partitions=n_fit if n_fit > 1 else None,
                   persisted_out=persisted_out)

        if transformation == "top":
            # Exclusion BEFORE the coverage total (GatherEncoder.scala:178-183).
            if exclude:
                counts = counts.filter(~F.col("key").isin(list(exclude)))
            cover = self.getOrDefault(self.cover)
            return (running_sums(counts, order,
                                 {"cum": "count", "slot": F.lit(1)}, **run)
                    .filter(F.col("cum")
                            < F.lit(cover / 100.0) * F.col("__total"))
                    .select("key", "count",
                            F.col("slot").cast("int").alias("slot")))

        # Threshold over the UNFILTERED total; exclusion after
        # (GatherEncoder.scala:200-220): excluded keys still count
        # toward the total but take no slot — the slot is the running
        # count of kept keys.
        support = self.getOrDefault(self.support)
        kept = (~F.col("key").isin(list(exclude)) if exclude
                else F.lit(True))
        return (running_sums(counts, order, {"slot": kept.cast("int")},
                             **run)
                .filter(F.col("count")
                        >= F.lit(support / 100.0) * F.col("__total"))
                .filter(kept)
                .select("key", "count",
                        F.col("slot").cast("int").alias("slot")))

    def _fit(self, dataset: DataFrame) -> "GatherEncoderModel":
        self._validate_schema(dataset.schema)
        max_keys = self.getOrDefault(self.maxKeys)
        held: list = []
        rows = (self.selected_keys(dataset, persisted_out=held)
                .orderBy("slot").limit(max_keys + 1).collect())
        # the dictionary is on the driver now — release the range
        # arm's persisted intermediate immediately
        for fr in held:
            fr.unpersist()
        if len(rows) > max_keys:
            raise ValueError(
                f"Fitted dictionary exceeds maxKeys={max_keys}; raise "
                f"maxKeys or lower cover/raise support")
        keys = [r["key"] for r in rows]
        model = GatherEncoderModel(keys=keys)
        model._resetUid(self.uid)
        self._copyValues(model)
        model._set(allOther=self.getOrDefault(self.allOther))
        return model


class GatherEncoderModel(Model, _GatherEncoderParams,
                         DefaultParamsReadable, DefaultParamsWritable):
    """Encode gathered arrays into ``SparseVector(len(keys)+allOther)``.

    Contract (GatherEncoder.scala:326-370, asserted in
    GatherEncoderModelSpec.scala:67-162):
    - slot position = fitted key order; last value wins for duplicate keys;
    - unseen keys are SUMMED into the trailing 'all other' slot when
      enabled, ignored otherwise;
    - null/empty gathered array → all-zero sparse vector;
    - empty dictionary and allOther=false → size-0 dense vector;
    - empty dictionary + failOnEmptyKeys → error at transform.

    Null vs NaN values: a null VALUE unboxes to 0.0
    (GatherEncoder.scala:345-355), while a genuine NaN value is
    preserved (reference parity — NaN lands in the slot, or poisons
    the all-other sum). The encode is a row-at-a-time udf so that
    this distinction survives: Arrow transport would conflate NaN
    with null.
    """

    modelKeys = Param(Params._dummy(), "modelKeys",
                      "fitted key dictionary, in slot order (persisted "
                      "state for DefaultParamsWritable save/load)")

    def __init__(self, keys=None):
        super().__init__()
        self._setDefault(transformation="top", support=0.1, cover=100.0,
                         allOther=True, keepInputCol=True,
                         failOnEmptyKeys=True, excludeKeys=[],
                         maxKeys=1 << 20, modelKeys=[])
        if keys is not None:
            self._set(modelKeys=list(keys))

    @property
    def keys(self) -> list:
        return list(self.getOrDefault(self.modelKeys))

    @property
    def labels(self) -> list[str]:
        lbls = [str(k) for k in self.keys]
        if self.getOrDefault(self.allOther):
            lbls.append("all other")
        return lbls

    def _output_metadata(self) -> dict:
        """AttributeGroup-style metadata (GatherEncoder.scala:388-401)."""
        attrs = [{"idx": i, "name": lbl} for i, lbl in enumerate(self.labels)]
        return {"ml_attr": {"attrs": {"numeric": attrs},
                            "num_attrs": len(attrs)}}

    def _transform(self, dataset: DataFrame) -> DataFrame:
        fail_on_empty = self.getOrDefault(self.failOnEmptyKeys)
        if not self.keys and fail_on_empty:
            raise ValueError(
                "Can't encode gathered data with empty model keys. Check "
                f"that input column '{self.getOrDefault(self.inputCol)}' has data.")
        in_col = self.getOrDefault(self.inputCol)
        key = self.getOrDefault(self.keyCol)
        value = self.getOrDefault(self.valueCol)
        all_other = self.getOrDefault(self.allOther)
        n_keys = len(self.keys)
        feature_size = n_keys + (1 if all_other else 0)

        sc = dataset.sparkSession.sparkContext
        key_index_bc = sc.broadcast({k: i for i, k in enumerate(self.keys)})

        @F.udf(returnType=VectorUDT())
        def encode(keys, values):
            if feature_size == 0:
                return SparseVector(0, {})
            if keys is None or values is None:
                return SparseVector(feature_size, {})
            key_index = key_index_bc.value
            elements: dict[int, float] = {}
            for k, v in zip(keys, values):
                # reference parity: only a null value unboxes to 0.0
                # (GatherEncoder.scala:345-355, null.asInstanceOf
                # [Double]); a genuine NaN value is PRESERVED — written
                # into the slot, or summed (NaN-poisoning, as the
                # reference would) into the all-other slot.
                v = 0.0 if v is None else v
                idx = key_index.get(k)
                if idx is not None:
                    elements[idx] = v            # last value wins
                elif all_other:
                    elements[n_keys] = elements.get(n_keys, 0.0) + v
            return SparseVector(feature_size, elements)

        raw = encode(
            F.col(f"{in_col}.{key}"),
            F.col(f"{in_col}.{value}").cast("array<double>"))

        out = self.getOrDefault(self.outputCol)
        encoded = raw.alias(out, metadata=self._output_metadata())

        if self.getOrDefault(self.keepInputCol):
            return dataset.select("*", encoded)
        cols = [F.col(c) for c in dataset.columns if c != in_col]
        return dataset.select(*cols, encoded)

    def transform_exploded(self, dataset: DataFrame, pk_cols: list[str]) -> DataFrame:
        """SQL-checkable flat encoding: one (pk..., slot, value) row per
        non-zero vector element. Pure DataFrame ops (broadcast join on
        the dictionary), no UDF — this is also the faster path at scale
        when the consumer wants long-form features.

        Duplicate-key semantics match the vector path and the reference
        (GatherEncoder.scala:326-370): for KNOWN keys the LAST value in
        array order wins (posexplode + max_by(value, pos)); only the
        'all other' slot SUMS its unseen-key values."""
        spark = dataset.sparkSession
        in_col = self.getOrDefault(self.inputCol)
        key = self.getOrDefault(self.keyCol)
        value = self.getOrDefault(self.valueCol)
        all_other = self.getOrDefault(self.allOther)
        n_keys = len(self.keys)

        # explicit schema (key type from the input element struct):
        # an EMPTY dictionary — every key null/filtered at fit — must
        # produce an empty known side, not a schema-inference crash
        elem = dataset.schema[in_col].dataType.elementType
        ktype = elem[key].dataType.simpleString()
        dict_df = spark.createDataFrame(
            [(k, i) for i, k in enumerate(self.keys)],
            schema=f"key {ktype}, slot long")
        exploded = (dataset
                    .select(*pk_cols, F.posexplode(in_col).alias("pos", "kv"))
                    .select(*pk_cols, "pos",
                            F.col(f"kv.{key}").alias("key"),
                            F.col(f"kv.{value}").cast("double").alias("value")))
        joined = exploded.join(F.broadcast(dict_df), "key", "left")
        known = (joined.filter(F.col("slot").isNotNull())
                 .groupBy(*pk_cols, "slot")
                 .agg(F.max_by("value", "pos").alias("value")))
        if not all_other:
            return known
        other = (joined.filter(F.col("slot").isNull())
                 .groupBy(*pk_cols)
                 .agg(F.sum("value").alias("value"))
                 .withColumn("slot", F.lit(n_keys).cast("long"))
                 .select(*pk_cols, "slot", "value"))
        return known.unionByName(other)
