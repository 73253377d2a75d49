"""SQL expression surface.

Rebuilds the reference's ``org.apache.spark.sql.ext.functions`` façade
(reference: sparkext-sql/src/main/scala/org/apache/spark/sql/ext/
functions.scala:15 and .../catalyst/expressions/aggregates.scala:7-188)
on modern Spark built-ins. The reference's hand-rolled partial/final
aggregation split (aggregates.scala:17-22) is what Catalyst's
ObjectHashAggregate does automatically for ``collect_list`` today, so
the whole 205-LoC Scala expression tree collapses to composed
built-ins — which also keeps the aggregation inside the JVM and
eligible for whole-stage codegen around it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "collect_array",
    "collect_array_sorted",
    "collect_array_distinct",
    "register_sql_functions",
    "zorder_key",
    "hilbert_key",
    "attach_scalar_agg",
    "median_abs_deviation",
]


def register_sql_functions(spark) -> None:
    """Register ``s2_token(lat, lon, level)`` — the S2 cell token Arrow
    UDF (:func:`spark_ext_spark.functions.s2.s2_token`, per-row level)
    — for pure-SQL users. The rest of this module is compositions of
    built-ins that SQL spells directly, e.g. ``collect_array`` is
    ``coalesce(collect_list(x), array())`` (see :func:`collect_array`).
    """
    from spark_ext_spark.functions.s2 import s2_token

    spark.udf.register("s2_token", s2_token)


def collect_array(col: Column | str) -> Column:
    """Collect all non-null values of ``col`` into an array.

    Contract (reference aggregates.scala:38-39, 128-188; asserted in
    ExtAggregatesSpec.scala:28,60):

    - nulls are skipped, duplicates kept, order unspecified;
    - an all-null / empty group yields an EMPTY array, never null.

    ``F.collect_list`` already skips nulls and keeps duplicates; the
    ``coalesce(..., array())`` wrapper pins the empty-group contract
    (collect_list of zero rows in a global aggregate returns an empty
    array already, but coalesce keeps the invariant explicit and free —
    it folds into the same aggregate expression).
    """
    return F.coalesce(F.collect_list(col), F.array())


def collect_array_sorted(col: Column | str) -> Column:
    """``collect_array`` with deterministic (ascending) element order.

    Collection order is unspecified in both the reference and Spark;
    queries that need reproducible output (tests, oracles) declare
    sorted arrays.
    """
    return F.sort_array(collect_array(col))


def collect_array_distinct(col: Column | str) -> Column:
    """Collect distinct non-null values (reference usage pattern
    ``df.distinct().select(collectArray(...))``,
    ExtAggregatesSpec.scala:41-47) as a single aggregate."""
    return F.coalesce(F.collect_set(col), F.array())


def zorder_key(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Morton/Z-order interleave of two non-negative ints (``bits``
    low bits each) — the multi-dimensional data-layout key: writing a
    100 TB table range-partitioned/sorted by z-order clusters BOTH
    dimensions, so min/max row-group stats prune scans filtered on
    either column (the technique behind Delta/Iceberg Z-ORDER BY,
    expressed as a plain deterministic column). Pure bit arithmetic:
    stays in whole-stage codegen, reproducible in any engine."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    ca = ca.cast("long")
    cb = cb.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (z
             + F.shiftleft(F.shiftrightunsigned(ca, i).bitwiseAND(F.lit(1)),
                           2 * i)
             + F.shiftleft(F.shiftrightunsigned(cb, i).bitwiseAND(F.lit(1)),
                           2 * i + 1))
    return z


def hilbert_key(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Hilbert-curve distance of two non-negative ints (``bits`` low
    bits each) — the data-layout key with strictly better locality
    than :func:`zorder_key`: consecutive key ranges are contiguous 2-D
    regions (no Morton "jumps" across the plane), so range-partitioned
    writes put fewer row groups under any 2-D range predicate.

    Integer-exact and engine-reproducible (the standard xy2d rotation
    walk, unrolled); computed as an Arrow-batched pandas UDF — a pure
    Column expression would nest ``bits`` levels of state-carrying
    CASEs whose re-inlining blows up the plan, while the numpy walk is
    ``bits`` vectorized passes. The DuckDB replay (chained CTEs, one
    per bit level) lives in HILBERT_EVENT_KEYS_SQL."""
    import pandas as pd

    # no type hints: PEP-563 string annotations break pyspark's
    # pandas_udf hint inspection under `from __future__ import ...`
    @F.pandas_udf("long")
    def hkey(xs, ys):
        x = xs.to_numpy(dtype=np.int64, na_value=0).copy()
        y = ys.to_numpy(dtype=np.int64, na_value=0).copy()
        d = np.zeros_like(x)
        s = 1 << (bits - 1)
        while s > 0:
            rx = ((x & s) > 0).astype(np.int64)
            ry = ((y & s) > 0).astype(np.int64)
            d += s * s * ((3 * rx) ^ ry)
            flip = (ry == 0) & (rx == 1)
            xf = np.where(flip, s - 1 - x, x)
            yf = np.where(flip, s - 1 - y, y)
            swap = ry == 0
            x, y = (np.where(swap, yf, xf), np.where(swap, xf, yf))
            s >>= 1
        return pd.Series(d)

    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return hkey(ca.cast("long"), cb.cast("long"))


def attach_scalar_agg(df, aggs: dict, source=None):
    """Attach scalar aggregate(s) to every row of ``df`` as a broadcast
    single-row cross join — the plan-side scalar-subquery idiom used
    throughout the engine (coverage totals, corpus sizes, global
    averages, max-revenue lookups). The scalar rides INSIDE the plan:
    no driver ``.first()`` round trip, no sync point, and the cross
    join against one broadcast row costs one comparison per row.

    ``aggs``: {column_name: aggregate Column}; ``source``: the
    DataFrame to aggregate (defaults to ``df`` itself)."""
    src = source if source is not None else df
    one = src.agg(*[c.alias(n) for n, c in aggs.items()])
    return df.crossJoin(F.broadcast(one))


def median_abs_deviation():
    """Robust spread: median(|x - median(x)|). Returns the GROUPED_AGG
    pandas UDF itself — invoke it to get a Column
    (``mad = median_abs_deviation(); df.agg(mad("value"))``).

    The engine's demonstration of the custom-UDAF surface
    (the reference's only UDAF, collectArray, maps to a builtin; this
    is the seam for aggregates Spark genuinely lacks). One Arrow batch
    per group lands in numpy; partial aggregation does NOT apply
    (medians don't decompose), so at 100 TB keep group cardinality ≥
    cores and group size bounded — the same contract as any holistic
    aggregate (exact percentile included)."""

    @F.pandas_udf("double")
    def _mad(v: pd.Series) -> float:
        # drop nulls like every SQL aggregate (incl. DuckDB mad());
        # otherwise one NULL NaN-poisons np.median for the whole group.
        # An all-null/empty group yields SQL NULL (None), matching what
        # any SQL aggregate — and the DuckDB mad() oracle — returns.
        x = v.dropna().to_numpy(dtype=float)
        if x.size == 0:
            return None
        m = np.median(x)
        return float(np.median(np.abs(x - m)))

    return _mad


