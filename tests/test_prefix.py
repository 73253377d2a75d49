"""Running sums (operators/prefix.py:running_sums) and the GatherEncoder
fitPartitions arm built on them: the window arm and the
range-partitioned arm must return the same columns and values —
running sums and grand totals — including on tied counts (the
deterministic count-desc/key-asc ordering contract).
"""

import math
import random

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ext_spark.operators.gather_encoder import GatherEncoder
from spark_ext_spark.operators.prefix import running_sums


def _by_key(df, cols):
    return {r["k"]: tuple(r[c] for c in cols) for r in df.collect()}


def test_prefix_sums_match_global_window(spark):
    """Both arms equal a hand-written global window, exclusive form."""
    rng = random.Random(7)
    rows = [(i, rng.randint(1, 9)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(8)
    order = [F.desc("v"), F.asc("k")]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    want = _by_key(df.select(
        "k",
        F.coalesce(F.sum("v").over(w), F.lit(0)).alias("cum"),
        F.coalesce(F.sum(F.lit(1)).over(w), F.lit(0)).alias("rnk")),
        ["cum", "rnk"])
    for n in (None, 7):
        got = running_sums(df, order, {"cum": "v", "rnk": F.lit(1)},
                           inclusive=False, num_partitions=n)
        assert _by_key(got, ["cum", "rnk"]) == want, n


def test_prefix_sums_inclusive(spark):
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k int, v int")
    for n in (None, 2):
        out = {r["k"]: r["cum"] for r in
               running_sums(df, [F.asc("k")], {"cum": "v"},
                            num_partitions=n).collect()}
        assert out == {1: 10, 2: 30, 3: 60}, n


def test_arms_return_same_columns_and_totals(spark):
    """Window arm ≡ range arm: same column names, types and values for
    the running sums AND the totals, inclusive and exclusive; the
    totals sum a column that is not itself a running value."""
    rng = random.Random(3)
    rows = [(i, rng.randint(1, 5), rng.randint(0, 1)) for i in range(300)]
    df = spark.createDataFrame(rows, "k bigint, c bigint, flag int")
    order = [F.desc("c"), F.asc("k")]
    for inclusive in (True, False):
        outs = [running_sums(df, order,
                             {"cum": "c", "kept": F.col("flag")},
                             inclusive=inclusive,
                             totals={"tot": "c", "n_flag": "flag"},
                             num_partitions=n)
                for n in (None, 5)]
        assert outs[0].schema == outs[1].schema
        assert outs[0].columns == ["k", "c", "flag", "cum", "kept",
                                   "tot", "n_flag"]
        cols = ["cum", "kept", "tot", "n_flag"]
        win, rng_arm = (_by_key(o, cols) for o in outs)
        assert win == rng_arm, inclusive
        assert {v[2:] for v in win.values()} == {
            (sum(r[1] for r in rows), sum(r[2] for r in rows))}


def test_empty_frame(spark):
    """An empty input is an empty output with the same columns on both
    arms; the range arm's offsets collect sees no partitions."""
    df = spark.createDataFrame([], "k bigint, v double")
    for n in (None, 3):
        out = running_sums(df, [F.asc("k")], {"cum": "v"},
                           inclusive=False, totals={"tot": "v"},
                           num_partitions=n)
        assert out.columns == ["k", "v", "cum", "tot"]
        assert out.collect() == []


def test_fractional_totals_within_ulp_note(spark):
    """Fractional doubles: the range arm's total is the sum of
    per-partition sums, the window's a sequential fold — equal up to
    the last ULPs (the docstring's exactness note), not bit-for-bit."""
    rng = random.Random(11)
    rows = [(i, rng.uniform(-1, 1)) for i in range(500)]
    df = spark.createDataFrame(rows, "k bigint, v double").repartition(4)
    a, b = (_by_key(running_sums(df, [F.asc("k")], {"cum": "v"},
                                 totals={"tot": "v"}, num_partitions=n),
                    ["cum", "tot"])
            for n in (None, 6))
    assert set(a) == set(b)
    for k in a:
        for x, y in zip(a[k], b[k]):
            assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), k
    assert math.isclose(a[0][1], math.fsum(v for _, v in rows),
                        rel_tol=1e-9, abs_tol=1e-9)


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


# --- property sweep: range arm ≡ window arm under random shapes ------------
# The range arm carries the BinaryModelMetrics curve family at scale,
# so its equivalence to the window arm is swept with hypothesis across
# orderings, value mixes, partition counts, and inclusivity — not just
# the hand-picked cases above.

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
    a, b = (_by_key(running_sums(df, order, {"cum_v": "v", "cnt": F.lit(1)},
                                 inclusive=shape["inclusive"],
                                 totals={"tot_v": "v"}, num_partitions=n),
                    ["cnt", "cum_v", "tot_v"])
            for n in (shape["n_parts"], None))
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == b[k][0], k
        if shape["int_values"]:
            # integer-valued doubles (the BinaryModelMetrics case:
            # pos/neg counts) sum EXACTLY under any association —
            # the range arm must be bit-identical
            assert a[k][1:] == b[k][1:], k
        else:
            # fractional doubles: the per-partition totals aggregate
            # in partition iteration order, not sorted order, so
            # offsets can differ from the window's sequential fold in
            # the last ULPs — association noise, not an error
            for x, y in zip(a[k][1:], b[k][1:]):
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), k
