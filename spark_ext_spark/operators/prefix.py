"""Exact running sums over a global ordering, with their grand totals.

One operator, two arms, the same output columns:

- ``num_partitions=None`` — the window arm: one ``select`` whose
  running frames and unbounded (whole-table) frames share a single
  ``Window.orderBy``, so Catalyst plans ONE Window operator. Every row
  goes through one task: right for a compacted table (distinct
  scores, a key dictionary), a cliff at ~1e7+ rows.
- ``num_partitions=N`` — the range-partitioned arm: range-partition on
  the ordering, cumsum within each partition, then add each
  partition's prefix offset computed from a bounded (one row per
  partition) driver collect. Exactly the technique the reference
  hand-rolls over RDDs for its cumulative confusion matrices
  (BinaryModelMetrics.scala:198-216: per-partition totals → driver
  scanLeft → mapPartitionsWithIndex offset add). The grand totals come
  off that same collect and enter the plan as literals. Offsets stay a
  driver collect: an all-in-plan variant measured worse
  (OPTIMIZATION_r13.md, gather_encoder_distfit).

Cost of the range arm: one range shuffle (with its sampling pass) +
one hash shuffle for the per-partition window + a #partitions-row
collect. The window arm is one shuffle cheaper; the measured crossover
is in SCALE.md ("Global prefix-sum crossover").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, StructField, StructType
from pyspark.sql.window import Window

__all__ = ["running_sums"]


def running_sums(df: DataFrame, order_cols: list,
                 values: dict[str, Column | str], *,
                 inclusive: bool = True,
                 totals: dict[str, Column | str] | None = None,
                 num_partitions: int | None = None,
                 persisted_out: list | None = None) -> DataFrame:
    """Append one exact running-sum column per ``values`` entry
    (``{out_name: summed column}``) over the global ordering
    ``order_cols``, plus one grand-total column per ``totals`` entry
    (``{out_name: summed column}``, the same value on every row).

    ``inclusive=False`` gives the exclusive prefix (sum of strictly
    preceding rows; 0 for the global first row) — the form coverage
    thresholds want. The ordering must be total (include a unique
    tiebreak column) or within-ties results are arbitrary. Running
    sums over an empty frame and totals of all-null columns are 0.

    ``num_partitions=None`` plans the single global window;
    ``num_partitions=N`` the range-partitioned arm over N ranges.

    Exactness: integer and integer-valued-double sums are bit-identical
    between the arms (associative). Fractional double sums can differ
    from the window's sequential fold in the last ULPs — the range
    arm's per-partition totals aggregate in partition iteration order,
    not sorted order (hypothesis-swept in tests/test_prefix.py).

    The range arm persists its range-partitioned intermediate so the
    offsets pass and the output pass see the same partition
    boundaries. Pass ``persisted_out`` (a list) to receive that frame
    and ``.unpersist()`` it once the output is materialized; otherwise
    it lives until session cache eviction (MEMORY_AND_DISK).
    """
    def col(c):
        return F.col(c) if isinstance(c, str) else c

    vals = {name: col(c) for name, c in values.items()}
    tots = {name: col(c) for name, c in (totals or {}).items()}
    end = Window.currentRow if inclusive else -1

    if num_partitions is None:
        w = Window.orderBy(*order_cols)
        run = w.rowsBetween(Window.unboundedPreceding, end)
        whole = w.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
        return df.select(
            "*",
            *[F.coalesce(F.sum(c).over(run), F.lit(0)).alias(name)
              for name, c in vals.items()],
            *[F.coalesce(F.sum(c).over(whole), F.lit(0)).alias(name)
              for name, c in tots.items()])

    ranged = (df.repartitionByRange(num_partitions, *order_cols)
              .withColumn("__pid", F.spark_partition_id())
              .persist())
    if persisted_out is not None:
        persisted_out.append(ranged)
    # one per-partition sum per running value and per total, read in
    # ONE #partitions-row collect
    sums = [*vals.values(), *tots.values()]
    per_part = ranged.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__s{i}") for i, c in enumerate(sums)])
    by_pid = {r["__pid"]: r for r in per_part.collect()}
    # zero literals follow each aggregate's own type — mixing a Python
    # int 0 into a double running sum would make createDataFrame's
    # type merge fail (LongType vs DoubleType)
    types = [f.dataType for f in per_part.schema.fields[1:]]
    zeros = [0.0 if isinstance(t, (DoubleType, FloatType)) else 0
             for t in types]
    acc = list(zeros)
    offsets = []
    for p in range(num_partitions):
        offsets.append((p, *acc[:len(vals)]))
        if p in by_pid:
            for i, z in enumerate(zeros):
                t = by_pid[p][f"__s{i}"]
                acc[i] += z if t is None else t
    off_df = df.sparkSession.createDataFrame(offsets, StructType(
        [StructField("__pid", per_part.schema.fields[0].dataType)]
        + [StructField(f"__off_{name}", t, nullable=False)
           for name, t in zip(vals, types)]))

    w = (Window.partitionBy("__pid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, end))
    out = ranged.join(F.broadcast(off_df), "__pid")
    for name, c in vals.items():
        out = out.withColumn(
            name,
            F.coalesce(F.sum(c).over(w), F.lit(0)) + F.col(f"__off_{name}"))
    # the final accumulators ARE the grand totals: plan literals, no
    # second aggregate of the input
    for i, name in enumerate(tots, start=len(vals)):
        out = out.withColumn(name, F.lit(acc[i]).cast(types[i]))
    return out.drop("__pid", *[f"__off_{name}" for name in vals])
