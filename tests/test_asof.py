"""As-of join golden tests: inclusive match, carry-forward, no-prior
nulls, per-key isolation — checked against a hand-computed model."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_ext_spark.operators.asof import asof_join


def _ts(s):
    return F.to_timestamp(F.lit(s))


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "e1"),
         (1, "2024-01-01 12:00:00", "e2"),
         (1, "2024-01-01 09:00:00", "e0"),   # before any right row
         (2, "2024-01-01 11:00:00", "e3"),
         (3, "2024-01-01 11:00:00", "e4")],  # key with no right rows
        "k long, ts string, name string").withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100.0),  # ties with e1 -> inclusive
         (1, "2024-01-01 11:30:00", 200.0),
         (2, "2024-01-01 10:30:00", 300.0)],
        "k long, rts string, price double").withColumn("rts", F.to_timestamp("rts"))

    out = {r["name"]: r["price_asof"] for r in
           asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                     value_cols=["price"]).collect()}
    assert out["e0"] is None          # nothing at or before 09:00
    assert out["e1"] == 100.0         # inclusive: right row at same ts
    assert out["e2"] == 200.0         # latest prior wins
    assert out["e3"] == 300.0         # key isolation
    assert out["e4"] is None          # key with no right side


def test_asof_join_keeps_all_left_columns(spark):
    left = spark.createDataFrame([(1, "2024-01-01 10:00:00", 7)],
                                 "k long, ts string, extra int") \
        .withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame([(1, "2024-01-01 09:00:00", 1.5)],
                                  "k long, rts string, v double") \
        .withColumn("rts", F.to_timestamp("rts"))
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts")
    assert set(out.columns) == {"k", "ts", "extra", "v_asof"}
    assert out.first()["v_asof"] == 1.5


def test_asof_null_value_in_latest_row_stays_null(spark):
    """DuckDB/kdb ASOF semantics: the join picks a ROW, so a genuinely
    NULL value in the latest right row must come through as NULL — a
    per-column last(ignorenulls) would resurrect the stale prior value
    and could mix columns from different right rows."""
    left = spark.createDataFrame([("k", 3, "probe")],
                                 "k string, ts long, name string")
    right = spark.createDataFrame(
        [("k", 1, 5.0, 100.0), ("k", 2, None, 200.0)],
        "k string, rts long, price double, qty double")
    row = asof_join(left, right, on="k", left_ts="ts",
                    right_ts="rts").collect()[0]
    assert row["price_asof"] is None      # from the t=2 row, not t=1
    assert row["qty_asof"] == 200.0       # same row's other column


def test_asof_right_ties_are_deterministic(spark):
    """Right rows tied on (key, ts): greatest value-struct wins, every
    run — re-executions and task retries must reproduce the output."""
    left = spark.createDataFrame([("k", 10, "probe")],
                                 "k string, ts long, name string")
    right = spark.createDataFrame(
        [("k", 10, 1.0), ("k", 10, 2.0), ("k", 10, 3.0)],
        "k string, rts long, price double")
    for _ in range(3):
        row = asof_join(left, right, on="k", left_ts="ts",
                        right_ts="rts").collect()[0]
        assert row["price_asof"] == 3.0


def test_asof_map_typed_value_column(spark):
    """Non-orderable value columns (maps) must not make the join
    unplannable — the tie-break falls back to a stable content hash.
    Regression: ordering the window by the raw value struct raised
    EXPRESSION_TYPE_IS_NOT_ORDERABLE for any map-carrying right side."""
    left = spark.createDataFrame(
        [(1, 10), (1, 25)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, {"a": "x"}), (1, 20, {"b": "y"})],
        "k long, ts long, attrs map<string,string>")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts")
    got = {r["ts"]: r["attrs_asof"] for r in out.collect()}
    assert got[10] == {"a": "x"} and got[25] == {"b": "y"}
    # determinism across partitionings with a genuine (key, ts) tie
    right2 = spark.createDataFrame(
        [(1, 5, {"a": "x"}), (1, 5, {"z": "w"})],
        "k long, ts long, attrs map<string,string>")
    a = asof_join(left, right2, on="k", left_ts="ts",
                  right_ts="ts").collect()
    b = asof_join(left.repartition(7), right2.repartition(3), on="k",
                  left_ts="ts", right_ts="ts").collect()
    assert sorted(map(repr, a)) == sorted(map(repr, b))


def _norm_rows(df, map_col=None):
    out = []
    for r in df.collect():
        d = r.asDict()
        if map_col is not None and d[map_col] is not None:
            d[map_col] = tuple(sorted(d[map_col].items()))
        out.append(tuple(sorted(d.items(), key=lambda kv: kv[0])))
    return sorted(out, key=repr)


def test_asof_chunked_equals_windowed_on_hot_key(spark, count_jobs):
    """Differential: an engineered single hot key (thousands of rows,
    heavy (key, ts) ties) plus sparse keys — the chunked two-phase
    carry must reproduce the windowed plan's output exactly, across
    many forced partition boundaries (num_partitions=7, so the hot
    key's carry crosses several boundaries, including tie groups split
    mid-partition).

    Building either plan pins its eager work, which is why the caller
    picks the strategy rather than a sizing job: the windowed plan
    launches no job, the chunked plan only its quantile pass (2
    jobs)."""
    right = spark.range(3000).select(
        F.lit(0).alias("k"),
        F.pmod(F.col("id") * 7, F.lit(501)).alias("rts"),
        F.col("id").cast("double").alias("price"))
    right = right.unionByName(spark.createDataFrame(
        [(1, 10, -1.0)], "k long, rts long, price double"))
    left = spark.range(3000).select(
        F.lit(0).alias("k"),
        F.pmod(F.col("id") * 11, F.lit(701)).alias("ts"),
        F.col("id").alias("lid"))
    left = left.unionByName(spark.createDataFrame(
        [(1, 5, -1), (1, 11, -2), (2, 3, -3)],
        "k long, ts long, lid long"))
    kw = dict(on="k", left_ts="ts", right_ts="rts", value_cols=["price"])
    plans: list = []
    assert count_jobs(lambda: plans.append(
        asof_join(left, right, strategy="window", **kw))) == 0
    held = []
    assert count_jobs(lambda: plans.append(
        asof_join(left, right, strategy="chunked", num_partitions=7,
                  persisted_out=held, **kw))) == 2
    win, chk = plans
    assert _norm_rows(chk) == _norm_rows(win)
    # the intermediate is handed back for explicit release
    assert held and held[0].is_cached
    held[0].unpersist()
    assert not held[0].is_cached


def test_asof_chunked_map_value_uses_hash_tiebreak(spark):
    """Non-orderable (map-typed) value structs fall back to the hash
    tiebreak; chunked and windowed must still agree row for row —
    including on the (key, ts)-tied right rows whose winner the hash
    decides."""
    right = spark.createDataFrame(
        [("a", 1, {"x": 1.0}), ("a", 1, {"y": 2.0}), ("a", 1, {"z": 3.0}),
         ("b", 2, {"w": 4.0})],
        "k string, rts long, m map<string,double>")
    left = spark.createDataFrame(
        [("a", 1), ("a", 0), ("a", 7), ("b", 5), ("c", 9)],
        "k string, ts long")
    kw = dict(on="k", left_ts="ts", right_ts="rts")
    win = asof_join(left, right, **kw)
    chk = asof_join(left, right, strategy="chunked", num_partitions=5, **kw)
    assert _norm_rows(chk, "m_asof") == _norm_rows(win, "m_asof")


def test_asof_unknown_strategy_raises(spark):
    left = spark.createDataFrame([(1, 1)], "k long, ts long")
    right = spark.createDataFrame([(1, 1, 2.0)], "k long, rts long, v double")
    import pytest
    for bogus in ("bogus", "auto"):
        with pytest.raises(ValueError, match="strategy"):
            asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                      strategy=bogus)


def test_asof_chunked_boundary_summary_orders_by_key_first(spark):
    """Round-6 regression scenario, retained as a differential: one
    key's tail with LARGE timestamps (key 0, ts 1000..1999) overlaps
    another key's head with small ones (key 1, rts 5), so the carry
    for key 1 must cross every chunk boundary untouched by key 0's
    rows. (The original bug — a per-PARTITION summary mixing two keys'
    extremes — can't recur in the quantile-chunk design, whose
    summaries are grouped per (key, chunk); the scenario still pins
    the carry-across-boundary semantics.)"""
    right = spark.range(1000).select(
        F.lit(0).alias("k"), (F.col("id") + 1000).alias("rts"),
        F.col("id").cast("double").alias("price"))
    right = right.unionByName(spark.createDataFrame(
        [(1, 5, 555.0)], "k long, rts long, price double"))
    left = spark.range(1000).select(
        F.lit(1).alias("k"), (F.col("id") + 6).alias("ts"))
    kw = dict(on="k", left_ts="ts", right_ts="rts", value_cols=["price"])
    win = asof_join(left, right, **kw)
    chk = asof_join(left, right, strategy="chunked", num_partitions=2, **kw)
    assert _norm_rows(chk) == _norm_rows(win)
    assert all(r["price_asof"] == 555.0 for r in chk.collect())


def test_asof_chunked_equals_windowed_randomized(spark):
    """Property-style differential: random key/ts layouts (many keys ×
    few rows, few keys × many rows, duplicate timestamps, keys with no
    right rows, null keys) across several partition counts. The
    round-6 boundary-summary bug slipped past the engineered cases
    because none placed two keys' extremes in one partition — random
    layouts cover that class by volume."""
    import random
    rng = random.Random(20260815)
    for trial, (n_keys, n_rows) in enumerate([(3, 400), (40, 400),
                                              (7, 300)]):
        rows_r, rows_l = [], []
        for i in range(n_rows):
            k = rng.randrange(n_keys)
            key = None if k == 0 and n_keys > 5 else k
            ts = rng.randrange(50)            # heavy ties
            if rng.random() < 0.5:
                rows_r.append((key, ts, float(rng.randrange(1000))))
            else:
                rows_l.append((key, ts, i))
        right = spark.createDataFrame(rows_r or [(0, 0, 0.0)],
                                      "k long, rts long, price double")
        left = spark.createDataFrame(rows_l or [(0, 0, 0)],
                                     "k long, ts long, lid long")
        kw = dict(on="k", left_ts="ts", right_ts="rts",
                  value_cols=["price"])
        win = _norm_rows(asof_join(left, right, **kw))
        for n_parts in (2, 5, 17):
            held: list = []
            chk = asof_join(left, right, strategy="chunked",
                            num_partitions=n_parts,
                            persisted_out=held, **kw)
            assert _norm_rows(chk) == win, (trial, n_parts)
            for fr in held:
                fr.unpersist()


def test_asof_null_timestamps_follow_predicate_semantics(spark):
    """left_ts >= right_ts is three-valued: NULL on either side never
    matches. A null-rts right row must NOT be LOCF-carried into left
    rows before the key's first real right row (it sorts first under
    nulls-first ordering — the bug this pins against), and a null-ts
    left row appears in the output with null values. Both strategies
    agree."""
    left = spark.createDataFrame(
        [(1, 1, 100), (1, 5, 101), (1, None, 102)],
        "k long, ts long, lid long")
    right = spark.createDataFrame(
        [(1, None, 7.0), (1, 3, 9.0)],
        "k long, rts long, v double")
    expected = [(100, None),   # ts=1: no real rts <= 1 (null rts ignored)
                (101, 9.0),    # ts=5: rts=3 matches
                (102, None)]   # null left ts: predicate never true
    for strat in ("window", "chunked"):
        out = asof_join(left, right, on="k", left_ts="ts",
                        right_ts="rts", strategy=strat)
        got = sorted((r["lid"], r["v_asof"]) for r in out.collect())
        assert got == expected, strat


def test_asof_null_keys_follow_predicate_semantics(spark):
    """left_key = right_key is never true for NULL either: a NULL-key
    right row matches nothing (the keyed window would otherwise group
    NULL-key rows together and match them — SQL equality does not),
    and a NULL-key left row appears in the output with null values.
    Matches DuckDB ASOF JOIN ON l.k = r.k AND l.ts >= r.rts."""
    left = spark.createDataFrame(
        [(None, 5, 100), (1, 5, 101)], "k long, ts long, lid long")
    right = spark.createDataFrame(
        [(None, 3, 9.0), (1, 3, 7.0)], "k long, rts long, v double")
    expected = [(100, None),   # null key: equality never true
                (101, 7.0)]
    for strat in ("window", "chunked"):
        out = asof_join(left, right, on="k", left_ts="ts",
                        right_ts="rts", strategy=strat)
        got = sorted((r["lid"], r["v_asof"]) for r in out.collect())
        assert got == expected, strat


def test_chunked_query_result_survives_frame_release(spark):
    """THE regression the value-deterministic rewrite exists for: a
    result (or a plan derived from it, held without any reference to
    the original wrapper — the fluent-chaining pattern) must stay
    CORRECT after a later invocation's one-slot holder releases its
    persisted frames and the plan recomputes from scratch. The
    pid-keyed design recomputed through repartitionByRange re-sampling
    and could silently mis-carry here."""
    from spark_ext_spark.plans import llm_queries as lq
    sf = "/root/testdata/sf0.001"
    lq._sweep_chunked_holds()
    # fluent chaining: only a DERIVED plan survives; the returned
    # wrapper is garbage immediately
    derived = lq.asof_join_orders_chunked(spark, sf).filter(
        F.col("last_order_price").isNotNull())
    expected = _norm_rows(derived)
    assert len(lq._CHUNKED_ASOF_HELD) == 1
    frames_a = lq._CHUNKED_ASOF_HELD[-1]
    b = lq.asof_join_orders_chunked(spark, sf)
    # one-slot holder: the new invocation released the old frames
    assert len(lq._CHUNKED_ASOF_HELD) == 1
    assert not any(fr.is_cached for fr in frames_a)
    assert b.count() > 0
    # the derived plan recomputes (frames gone) — and must match
    assert _norm_rows(derived) == expected
    # windowed strategy agrees with the recomputed chunked result
    win = lq.asof_join_orders(spark, sf).filter(
        F.col("last_order_price").isNotNull())
    assert _norm_rows(win) == expected
    lq._sweep_chunked_holds()
    assert lq._CHUNKED_ASOF_HELD == []


def test_chunked_recompute_identical_after_unpersist(spark):
    """Operator-level recompute determinism: collect a chunked join,
    unpersist its intermediate mid-flight, collect the SAME lazy plan
    again (full recompute through the quantile-literal chunking) —
    byte-identical rows. Under the pid-keyed design this recompute
    path was the documented silent-mis-carry hazard."""
    right = spark.range(4000).select(
        F.pmod("id", F.lit(3)).alias("k"),
        F.pmod(F.col("id") * 13, F.lit(997)).alias("rts"),
        F.col("id").cast("double").alias("price"))
    left = spark.range(4000).select(
        F.pmod("id", F.lit(3)).alias("k"),
        F.pmod(F.col("id") * 17, F.lit(1009)).alias("ts"))
    held: list = []
    chk = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                    value_cols=["price"], strategy="chunked",
                    num_partitions=9, persisted_out=held)
    first = _norm_rows(chk)
    for fr in held:
        fr.unpersist(blocking=True)
    assert _norm_rows(chk) == first


def test_chunked_ts_boundaries_type_coverage(spark):
    """The quantile-literal chunking only splits hot keys if __ts casts
    to double: numeric, timestamp, timestamp_ntz, and date must yield
    real boundaries (the scale path), while a non-castable type
    degrades to a single chunk (correct, documented ceiling) instead
    of failing."""
    from spark_ext_spark.operators.asof import _ts_boundaries
    n = 4
    base = spark.range(100)
    cases = {
        "long": F.col("id"),
        "timestamp": F.timestamp_seconds(F.col("id") * 3600),
        "timestamp_ntz": F.to_timestamp_ntz(
            F.timestamp_seconds(F.col("id") * 3600)),
        "date": F.date_add(F.lit("2024-01-01").cast("date"),
                           F.col("id").cast("int")),
    }
    for name, expr in cases.items():
        tagged = base.select(expr.alias("__ts"))
        bounds = _ts_boundaries(tagged, n)
        assert len(bounds) == n - 1, (name, bounds)
        assert bounds == sorted(bounds), name
    # a string __ts cannot chunk — but must not fail
    s = base.select(F.concat(F.lit("t"), F.col("id")).alias("__ts"))
    assert _ts_boundaries(s, n) == []


def test_chunked_survives_double_precision_collapse(spark):
    """Chunk ids derive from a double cast of __ts; int64 timestamps
    past 2^53 lose precision there, so DISTINCT timestamps can share a
    boundary bucket. That must only coarsen the chunking — within-slice
    ordering uses the exact original __ts — never the result. Also
    covers negative timestamps (pre-epoch) straddling zero."""
    base = 1 << 55                      # double ulp = 8 at this scale
    rows_r = [(0, base + i, float(i)) for i in range(0, 400, 1)]
    rows_l = [(0, base + i, i) for i in range(1, 400, 3)]
    # a second key entirely in negative timestamp space
    rows_r += [(1, -base - i, float(1000 + i)) for i in range(0, 50, 2)]
    rows_l += [(1, -base - i, 1000 + i) for i in range(50)]
    right = spark.createDataFrame(rows_r, "k long, rts long, price double")
    left = spark.createDataFrame(rows_l, "k long, ts long, lid long")
    kw = dict(on="k", left_ts="ts", right_ts="rts", value_cols=["price"])
    win = _norm_rows(asof_join(left, right, **kw))
    for n_parts in (2, 13, 64):
        chk = asof_join(left, right, strategy="chunked",
                        num_partitions=n_parts, **kw)
        assert _norm_rows(chk) == win, n_parts


def test_chunked_ntz_monotone_across_dst_gap(spark):
    """Regression (round-8 review, verified live): casting
    timestamp_ntz through the SESSION-TZ timestamp is non-monotone
    across a DST spring-forward gap — under America/Los_Angeles, wall
    02:30 on 2024-03-10 maps to a LATER epoch than wall 03:00 — so a
    quantile boundary landing in the inverted region put later right
    rows in EARLIER chunks and the carry filled left rows from the
    future. The numeric image must come from the NTZ value's own
    fields (tz-independent); the windowed strategy, which orders by
    __ts directly, is the truth to match."""
    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/Los_Angeles")
        # dense left rows (every minute) across the 2024-03-10
        # 01:00-04:00 wall-clock window (02:00-03:00 does not exist in
        # LA local time), SPARSE right rows — so most slices' leading
        # left rows depend on the cross-chunk carry, the code path the
        # inversion corrupts (a dense right side would mask the bug
        # with same-slice fills)
        base = "2024-03-10 01:00:00"
        right = spark.createDataFrame(
            [(0, m, float(m)) for m in (0, 45, 90, 135, 170)],
            "k long, m long, price double").select(
            "k",
            (F.lit(base).cast("timestamp_ntz")
             + F.make_interval(mins=F.col("m").cast("int"))).alias("rts"),
            "price")
        left = spark.range(0, 180, 1).select(
            F.lit(0).alias("k"),
            (F.lit(base).cast("timestamp_ntz")
             + F.make_interval(mins=F.col("id").cast("int"))).alias("ts"),
            F.col("id").alias("lid"))
        kw = dict(on="k", left_ts="ts", right_ts="rts",
                  value_cols=["price"])
        win = _norm_rows(asof_join(left, right, **kw))
        for n_parts in (8, 31):
            chk = asof_join(left, right, strategy="chunked",
                            num_partitions=n_parts, **kw)
            assert _norm_rows(chk) == win, n_parts
        # and the exact contract: price never comes from the future
        for r in asof_join(left, right, **kw).collect():
            assert r["price_asof"] <= r["lid"]
    finally:
        spark.conf.set(tz_key, old_tz)


def test_ntz_numeric_monotone_beyond_int32_epoch_range(spark):
    """Regression (round-8 review, verified live): unix_date is int32,
    so `unix_date * 86400` overflowed for NTZ values past 2038-01-19
    (or before 1901-12-13) — wrapping into a massive inversion with
    ANSI off, or throwing into the boundaries' except-degrade path
    with ANSI on (single chunk, hot-key ceiling back). The numeric
    image must be strictly increasing across the full NTZ range a
    corpus can hold, sentinel expiries included."""
    from spark_ext_spark.operators.asof import _ts_numeric
    stamps = ["1890-06-01 12:00:00", "1901-12-12 23:59:59",
              "1901-12-14 00:00:01", "2000-01-01 00:00:00",
              "2038-01-19 03:14:07", "2038-01-21 00:00:00",
              "2100-06-15 08:30:00", "9999-12-31 23:59:59"]
    df = spark.createDataFrame([(s,) for s in stamps], "s string") \
        .select(F.col("s").cast("timestamp_ntz").alias("__ts"))
    vals = [r["n"] for r in df.select(
        _ts_numeric(df.schema["__ts"].dataType).alias("n"),
        "__ts").orderBy("__ts").collect()]
    assert all(a < b for a, b in zip(vals, vals[1:])), vals
    # and the chunking actually engages across the sentinel range
    from spark_ext_spark.operators.asof import _ts_boundaries
    wide = spark.range(200).select(
        (F.lit("2000-01-01").cast("timestamp_ntz")
         + F.make_interval(years=F.pmod(F.col("id"), F.lit(150))
                           .cast("int"))).alias("__ts"))
    assert len(_ts_boundaries(wide, 8)) == 7
