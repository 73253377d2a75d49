"""Distributed prefix sums (operators/prefix.py) and the
GatherEncoder fitPartitions path built on them: both must agree exactly
with the single-partition global-window implementation, including on
tied counts (the deterministic count-desc/key-asc ordering contract).
"""

import random

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ext_spark.operators.gather_encoder import GatherEncoder
from spark_ext_spark.operators.prefix import partitioned_cumulative_sums


def test_prefix_sums_match_global_window(spark):
    rng = random.Random(7)
    rows = [(i, rng.randint(1, 9)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(8)
    order = [F.desc("v"), F.asc("k")]
    got = partitioned_cumulative_sums(
        df, order, {"cum": "v", "rnk": F.lit(1)},
        num_partitions=7, inclusive=False)
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    want = df.select(
        "k", "v",
        F.coalesce(F.sum("v").over(w), F.lit(0)).alias("cum"),
        F.coalesce(F.sum(F.lit(1)).over(w), F.lit(0)).alias("rnk"))
    a = {r["k"]: (r["cum"], r["rnk"]) for r in got.collect()}
    b = {r["k"]: (r["cum"], r["rnk"]) for r in want.collect()}
    assert a == b


def test_prefix_sums_inclusive(spark):
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k int, v int")
    out = {r["k"]: r["cum"] for r in
           partitioned_cumulative_sums(df, [F.asc("k")], {"cum": "v"},
                                       num_partitions=2).collect()}
    assert out == {1: 10, 2: 30, 3: 60}


def _gathered(spark):
    # heavy ties: many keys share counts, so ordering determinism shows
    rng = random.Random(13)
    rows = []
    for user in range(300):
        ks = rng.sample(range(40), rng.randint(1, 6))
        rows.append((user, [{"key": f"k{k:02d}", "value": float(k)}
                            for k in ks]))
    return spark.createDataFrame(
        rows, "user bigint, sites array<struct<key:string,value:double>>")


def test_encoder_distributed_fit_matches_default(spark):
    df = _gathered(spark)
    # 1039 key occurrences; the exclusive running sum reaches exactly
    # 536 at k08, so this cover's threshold equals it and the strict
    # `cum < threshold` must stop just before k08
    exact_cover = 53600 / 1039
    assert exact_cover / 100.0 * 1039 == 536.0
    for kwargs in ({"transformation": "top", "cover": 70.0},
                   {"transformation": "top", "cover": 70.0,
                    "excludeKeys": ["k13", "k05"]},
                   {"transformation": "top", "cover": exact_cover},
                   {"transformation": "top", "cover": 100.0},
                   {"transformation": "index", "support": 2.0},
                   {"transformation": "index", "support": 2.0,
                    "excludeKeys": ["k01", "k05"]}):
        base = GatherEncoder(inputCol="sites", outputCol="f", keyCol="key",
                             valueCol="value", **kwargs)
        dist = GatherEncoder(inputCol="sites", outputCol="f", keyCol="key",
                             valueCol="value", fitPartitions=5, **kwargs)
        assert dist.fit(df).keys == base.fit(df).keys, kwargs
    keys = GatherEncoder(inputCol="sites", outputCol="f", keyCol="key",
                         valueCol="value", cover=exact_cover).fit(df).keys
    assert len(keys) == 18 and "k08" not in keys


def test_encoder_distributed_plan_uses_range_partitioning(spark):
    df = _gathered(spark)
    enc = GatherEncoder(inputCol="sites", outputCol="f", keyCol="key",
                        valueCol="value", cover=80.0, fitPartitions=5)
    plan = enc.selected_keys(df)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan


# --- property sweep: prefix ≡ global window under random shapes ------------
# The prefix operator now carries the BinaryModelMetrics curve family
# at scale, so its equivalence to the window path is swept with
# hypothesis across orderings, value mixes, partition counts, and
# inclusivity — not just the two hand-picked cases above.

import math  # noqa: E402

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

prefix_shapes = st.fixed_dictionaries({
    "n_rows": st.integers(min_value=1, max_value=400),
    "n_parts": st.integers(min_value=1, max_value=9),
    "order_desc": st.booleans(),
    "inclusive": st.booleans(),
    "int_values": st.booleans(),
    "seed": st.integers(min_value=0, max_value=2**31 - 1),
})


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(shape=prefix_shapes)
def test_prefix_sums_property_sweep(spark, shape):
    rng = random.Random(shape["seed"])
    if shape["int_values"]:
        rows = [(i, rng.randint(-50, 50), float(rng.randint(0, 5)))
                for i in range(shape["n_rows"])]
    else:
        rows = [(i, rng.randint(-50, 50), round(rng.uniform(-2, 2), 6))
                for i in range(shape["n_rows"])]
    df = spark.createDataFrame(rows, "k bigint, o bigint, v double") \
        .repartition(4)
    order = [F.desc("o") if shape["order_desc"] else F.asc("o"),
             F.asc("k")]  # total order via the unique-key tiebreak
    got = partitioned_cumulative_sums(
        df, order, {"cum_v": "v", "cnt": F.lit(1)},
        num_partitions=shape["n_parts"],
        inclusive=shape["inclusive"])
    end = 0 if shape["inclusive"] else -1
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, end)
    want = df.select(
        "k",
        F.coalesce(F.sum("v").over(w), F.lit(0.0)).alias("cum_v"),
        F.coalesce(F.sum(F.lit(1)).over(w), F.lit(0)).alias("cnt"))
    a = {r["k"]: (r["cnt"], r["cum_v"]) for r in got.collect()}
    b = {r["k"]: (r["cnt"], r["cum_v"]) for r in want.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == b[k][0], k
        if shape["int_values"]:
            # integer-valued doubles (the BinaryModelMetrics case:
            # pos/neg counts) sum EXACTLY under any association —
            # the prefix path must be bit-identical
            assert a[k][1] == b[k][1], k
        else:
            # fractional doubles: the per-partition totals aggregate
            # in partition iteration order, not sorted order, so
            # offsets can differ from the window's sequential fold in
            # the last ULPs — association noise, not an error
            assert math.isclose(a[k][1], b[k][1],
                                rel_tol=1e-9, abs_tol=1e-9), k
