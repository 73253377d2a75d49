"""As-of join — for each left row, the latest right row with
``right_ts <= left_ts`` per key (the time-series point-in-time join
Spark lacks as a built-in).

Spark-first implementation (no per-row subqueries, no range
cross-join): union the two sides tagged by origin, sort within each
key by (ts, right-before-left on ties), and carry the latest right
ROW forward as a single struct with ``last(..., ignorenulls=True)``
over an unbounded-preceding window. One shuffle on the key — the same
cost as a plain equi-join — and skew behaves like any keyed window.

Hot keys: a per-key window funnels each key through ONE task, so a
pathological key (a billion-tick instrument) caps the windowed plan.
``strategy="chunked"`` removes that ceiling with a two-phase carry:
split the timeline into chunks at approximate __ts quantiles
(collected once and baked into the plan as LITERALS, so a row's chunk
is a pure function of its timestamp), LOCF locally within each
(chunk, key) slice, then fill each slice's leading rows from a
per-key carry computed by a window over the ≤ #chunks slice
summaries — the same offsets technique as ``operators/prefix.py``
and the reference's own scanLeft trick
(BinaryModelMetrics.scala:198-216), with "last non-null right row"
as the monoid instead of "+", but entirely inside the plan: no
driver-collected partition map, so ANY recompute (cache eviction,
executor loss, a released intermediate) reproduces the identical
answer. Both strategies produce identical output for any input
(differential-tested, including an engineered single hot key and the
non-orderable-struct tiebreak). The caller picks the strategy: an
automatic pick would need a full key-count job on every call.

Carrying one struct (not one window per value column) is load-bearing
for semantics, not just cost: all values come from the SAME right row,
and a genuinely NULL value in the latest right row stays NULL —
per-column ``last(ignorenulls)`` would skip it and resurrect a stale
older value (and could mix columns from different right rows). The
struct is non-null for every right row even when all its fields are
null, so ``ignorenulls`` only skips the left-row placeholders.

Matches DuckDB/kdb ASOF JOIN semantics (inclusive: a right row at
exactly left_ts matches). NULL keys and NULL timestamps follow the
SQL predicates ``left_key = right_key AND left_ts >= right_ts``
(three-valued logic: never true for NULL on either side): a right row
with a NULL key or NULL timestamp matches nothing — without this
rule, the keyed window would group NULL-key rows together and
nulls-first sort order would make LOCF carry a NULL-ts row into every
left row before the first real right row — and a left row with a NULL
key or timestamp gets null values. (DuckDB's ASOF quirk of matching a
NULL left ts to a NULL right ts is deliberately not reproduced; it
contradicts its own predicate.) Right rows tied on
(key, ts) are broken
deterministically — by the value struct's field order (greatest wins)
when the struct is orderable, else by a hash of its JSON form
(arbitrary but stable) so map-/variant-typed value columns don't make
the whole join unplannable — so task retries and re-runs reproduce
the same output; DuckDB itself leaves this case undefined.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType
from pyspark.sql.window import Window


def _orderable(dt: DataType) -> bool:
    """Whether Spark can sort on this type (maps and variants cannot
    be ORDER BY keys; containers are orderable iff their elements
    are)."""
    if isinstance(dt, MapType) or type(dt).__name__ == "VariantType":
        return False
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    return True


def _tiebreak(struct_col: Column, struct_t: DataType) -> Column:
    """Deterministic total order over right rows tied on (key, ts):
    the struct itself when orderable (meaningful: greatest value
    tuple wins), else a stable content hash (arbitrary but
    partition-/retry-independent). Left rows carry a NULL struct —
    their mutual order is irrelevant (they don't read each other)."""
    if _orderable(struct_t):
        return struct_col
    return F.xxhash64(F.to_json(struct_col))


def _ts_numeric(dt: DataType) -> Column:
    """The numeric image of ``__ts`` used for BOTH boundary collection
    and chunk assignment (one definition, so the two phases cannot
    diverge into different numeric domains). Must be WEAKLY monotone
    in ``__ts`` order and independent of any session state: ties may
    share a chunk (harmless coarsening — within-slice ordering uses
    the exact ``__ts``), but an inversion would let the carry run
    backwards and fill from FUTURE right rows.

    That rules out casting ``timestamp_ntz`` through the session-tz
    timestamp: across a DST spring-forward gap the cast is
    non-monotone (under America/Los_Angeles, wall 02:30 on the gap day
    maps to a LATER epoch than wall 03:00) and depends on
    ``spark.sql.session.timeZone``. Wall-clock types are linearized
    from their own fields instead: days since epoch (dates), or
    days·86400 + seconds-of-day (NTZ — sub-second ties coarsen, which
    is fine). Session-tz timestamps cast to absolute epoch seconds;
    numerics cast directly."""
    col = F.col("__ts")
    s = dt.simpleString()
    if s == "date":
        return F.unix_date(col).cast("double")
    if s == "timestamp_ntz":
        # unix_date returns int32: widen BEFORE the multiply, or dates
        # past 2038-01-19 (or before 1901-12-13) overflow — silently
        # wrapping into a huge inversion with ANSI off, or throwing
        # into the except-degrade path with ANSI on (one chunk, hot-key
        # ceiling back). A 9999-12-31 sentinel expiry must not do either.
        return (F.unix_date(col.cast("date")).cast("double") * 86400.0
                + F.hour(col) * 3600 + F.minute(col) * 60
                + F.second(col))
    return col.cast("double")


def _ts_boundaries(tagged: DataFrame, n: int) -> list[float]:
    """``n - 1`` approximate quantiles of ``_ts_numeric(__ts)`` as
    plain Python floats. Collected ONCE (one eager pass, same cost
    class as the range-partitioner sampling it replaces) and baked
    into the plan as literals, so the chunk a row lands in is a pure
    function of its VALUES — nothing about the chunking depends on a
    particular materialization. Non-castable ``__ts`` types (or an
    all-null column) yield no boundaries: one chunk, i.e. the
    keyed-window plan's per-key ceiling — still correct, just not
    hot-key-proof."""
    if n <= 1:
        return []
    try:
        num = tagged.select(
            _ts_numeric(tagged.schema["__ts"].dataType).alias("__tsd"))
        bounds = num.approxQuantile(
            "__tsd", [i / n for i in range(1, n)],
            max(1e-4, 1.0 / (4 * n)))
    except Exception:  # noqa: BLE001 — unsupported cast: degrade, don't fail
        return []
    # dedupe (heavy ties collapse adjacent quantiles) and drop NaN
    return sorted({b for b in bounds if b is not None and b == b})


def _bucket_expr(ts_num: Column, bounds: list[float]) -> Column:
    """Chunk id = number of boundaries <= the (cast-to-double)
    timestamp, evaluated as a balanced CASE tree: ⌈log2 n⌉ comparisons
    per row, expression size O(n). NULL timestamps fail every
    comparison and land in chunk 0 — consistent with nulls-first sort
    order (they precede every real row, and their carry is the same
    null the windowed plan produces); NaN compares greater than
    everything in Spark and lands in the last chunk, where it sorts."""
    def rec(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        # chunk > mid  iff  at least mid+1 boundaries <= value
        return (F.when(ts_num >= F.lit(bounds[mid]), rec(mid + 1, hi))
                .otherwise(rec(lo, mid)))
    return rec(0, len(bounds))


def _carried_chunked(unioned: DataFrame, tiebreak: Column,
                     num_partitions: int | None = None,
                     persisted_out: list | None = None) -> DataFrame:
    """Two-phase last-observation-carried-forward with NO per-key task
    ceiling and no materialization-dependent state:

    1. Bake ``n - 1`` approximate ``__ts`` quantiles into the plan as
       literals (:func:`_ts_boundaries`); every row's chunk id is a
       pure function of its timestamp (:func:`_bucket_expr`).
    2. LOCF within each (chunk, key) slice — a hot key spans many
       chunks, so no task sees more than ~1/n of it.
    3. Summarize each slice to one row (its last non-null right
       struct) and compute the carry ENTERING each slice with a
       per-key window over chunk ids — ≤ n tiny rows per key, all
       inside the plan (no driver scanLeft, no collected map).
    4. Left-join the carry back on (key <=>, chunk) — AQE broadcasts
       the summary-sized side when small — and fill each slice's
       leading nulls.

    Exact: "last non-null" is associative, and chunk order respects
    timestamp order (weakly monotone double cast: ties share a chunk,
    order across chunks is strict), so output is identical to the
    single-window plan for any input (differential-tested). Because
    every stage is a deterministic function of row VALUES — chunk
    boundaries are literals, not sampled partition ids — ANY
    recompute (cache eviction, executor loss, a derived plan
    re-executed after its intermediate was released) reproduces the
    identical result. The previous design's recompute hazard (a
    driver-collected pid→carry map invalidated by
    ``repartitionByRange`` re-sampling) is gone by construction, not
    mitigated.

    Cost: one eager quantile pass + one hash shuffle on (chunk, key)
    + a summary-sized carry join, vs the windowed plan's single hash
    shuffle — buy the extra passes only when a key can exceed a task
    (the caller chooses via ``asof_join(strategy=...)``).

    The intermediate is persisted (handed back via ``persisted_out``)
    so the heavy slice window does not run twice (output + summary
    branches share the shuffle exchange either way; only the window on
    top would re-run). Releasing it early — or losing it — costs a
    recompute, never a wrong answer."""
    spark = unioned.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200"))
    tagged = unioned.withColumn("__tb", tiebreak)
    bounds = _ts_boundaries(tagged, n)
    # project the linearization ONCE: the CASE tree references a plain
    # column, not n-1 inlined copies of the unix_date/hour/minute
    # formula (whose expression count would otherwise grow with the
    # chunk count and bloat codegen)
    ts_num = _ts_numeric(tagged.schema["__ts"].dataType)
    local = (tagged.withColumn("__tsn", ts_num)
             .withColumn("__bkt", _bucket_expr(F.col("__tsn"), bounds))
             .drop("__tsn")
             .withColumn("__c_loc", F.last("__r", ignorenulls=True).over(
                 Window.partitionBy("__bkt", "__key")
                 .orderBy("__ts", "__side", "__tb")
                 .rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))))
    local = local.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    if persisted_out is not None:
        persisted_out.append(local)
    # one row per (chunk, key) slice: the slice's last row's running
    # carry IS its last non-null right struct (null when it saw no
    # right rows). Ties on the full sort tuple can only be rows whose
    # __c_loc already agrees (tied right rows share the struct that
    # broke the tie; tied left rows share the running carry), so the
    # max_by pick is deterministic.
    summary = (local.groupBy("__key", "__bkt")
               .agg(F.max_by("__c_loc",
                             F.struct("__ts", "__side", "__tb"))
                    .alias("__s_r")))
    carry = (summary
             .withColumn("__carry_v",
                         F.last("__s_r", ignorenulls=True).over(
                             Window.partitionBy("__key").orderBy("__bkt")
                             .rowsBetween(Window.unboundedPreceding, -1)))
             .select(F.col("__key").alias("__ck"),
                     F.col("__bkt").alias("__cb"),
                     "__carry_v"))
    # a row still null after local LOCF belongs to its slice's leading
    # run — fill from the carry entering the slice (eqNullSafe: a null
    # key group carries like any other key; its carry is always null
    # because null-key right rows were filtered at the source)
    return (local.join(carry,
                       F.col("__key").eqNullSafe(F.col("__ck"))
                       & (F.col("__bkt") == F.col("__cb")),
                       "left")
            .withColumn("__c", F.coalesce("__c_loc", "__carry_v")))


def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_ts: str, right_ts: str,
              value_cols: list[str] | None = None,
              right_on: str | None = None,
              suffix: str = "_asof",
              strategy: str = "window",
              num_partitions: int | None = None,
              persisted_out: list | None = None) -> DataFrame:
    """Append, to every left row, ``value_cols`` (default: all non-key,
    non-ts right columns) from the latest right row at or before the
    left row's timestamp; nulls when no prior right row exists.

    ``strategy``: ``"window"`` (default) carries forward with one
    per-key window — one hash shuffle, right up to the point where a
    single hot key outgrows one task. ``"chunked"`` removes that
    ceiling (two-phase carry over quantile-literal time chunks, see
    :func:`_carried_chunked`) at the cost of one eager quantile pass
    plus a summary-sized carry join; ``num_partitions`` sets the CHUNK
    count — the number of quantile slices a hot key is spread over
    (default: ``spark.sql.shuffle.partitions``), not the shuffle's
    task count, which stays governed by the session setting. Identical
    output for any input. The measured local[32]/128 GB crossover is
    6-23M hot rows (SCALE.md "Engineered-skew A/B"); real cluster
    tasks get a few GB, so the windowed plan's single hot task hits
    spill/OOM earlier there. ``persisted_out`` receives the chunked
    plan's persisted intermediate for explicit release (else it lives
    until cache eviction) — a performance seam only: the chunked plan
    is a deterministic function of row values, so releasing or losing
    the intermediate costs a recompute, never a wrong answer (see
    :func:`_carried_chunked`)."""
    right_key = right_on or on
    if value_cols is None:
        value_cols = [c for c in right.columns
                      if c not in (right_key, right_ts)]

    r_struct_t = right.select(
        F.struct(*[F.col(c) for c in value_cols]).alias("__r")
    ).schema["__r"].dataType
    l_tagged = left.select(
        F.col(on).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),                      # left sorts AFTER
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(r_struct_t).alias("__r"))
    # predicate semantics on the RIGHT side: a NULL-timestamp right
    # row can never satisfy left_ts >= right_ts, and a NULL-KEY right
    # row can never satisfy left_key = right_key — both dropped HERE
    # (not post-hoc) because nulls sort FIRST, so LOCF would otherwise
    # carry them into early left rows (and the keyed window would
    # match NULL-key left rows to NULL-key right rows, which SQL
    # equality never does). Left NULL-ts/NULL-key rows stay (they must
    # appear in the output); with no right rows sorting before them in
    # their group, their carry is null — the predicate-consistent
    # result.
    r_tagged = right.filter(F.col(right_ts).isNotNull()
                            & F.col(right_key).isNotNull()).select(
        F.col(right_key).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),                      # right sorts FIRST
        F.lit(None).cast(
            l_tagged.schema["__l"].dataType).alias("__l"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__r"))

    if strategy not in ("window", "chunked"):
        raise ValueError(f"unknown asof_join strategy: {strategy!r} "
                         "(expected 'window' or 'chunked')")
    unioned = l_tagged.unionByName(r_tagged)
    tiebreak = _tiebreak(F.col("__r"), r_struct_t)
    if strategy == "chunked":
        carried = _carried_chunked(unioned, tiebreak, num_partitions,
                                   persisted_out)
    else:
        # right rows at the same ts sort before left rows → inclusive
        # match; the trailing tiebreak orders right rows tied on
        # (key, ts) deterministically
        w = (Window.partitionBy("__key")
             .orderBy("__ts", "__side", tiebreak)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        carried = unioned.select(
            "__side", "__l",
            F.last("__r", ignorenulls=True).over(w).alias("__c"))
    out = carried.filter(F.col("__side") == 1)
    return out.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__c.{c}").alias(f"{c}{suffix}") for c in value_cols])
