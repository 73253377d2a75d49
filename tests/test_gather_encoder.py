"""Golden-value tests ported from GatherEncoderSpec.scala:24-166 and
GatherEncoderModelSpec.scala:11-162 (1,000-row engineered coverage
fixture; exact key sets at each cover/support threshold; exact sparse
encodings for every mode)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from spark_ext_spark.operators.gather_encoder import (GatherEncoder,
                                                      GatherEncoderModel)

COVER_SCHEMA = StructType([
    StructField("cookie_id", StringType()),
    StructField("sites", ArrayType(StructType([
        StructField("site", StringType()),
        StructField("impressions", LongType()),
    ]), containsNull=False), nullable=True),
])

# GatherEncoderSpec.scala:24-50: per-key row counts
# google/cnn 500 (cover 50%), bbc/auto/moto 300 (80%), sport 80 (88%),
# netflix 50 (93%), amazon 40 (97%), imdb 30 (100%).
COVER_ROWS = (
    [("cookie1", [("google.com", 12), ("cnn.com", 14)])] * 250
    + [("cookie2", [("bbc.com", 20), ("auto.com", 1), ("moto.com", 3)])] * 100
    + [("cookie3", [("sport.com", 100)])] * 80
    + [("cookie3", [("netflix.com", 1)])] * 50
    + [("cookie3", [("amazon.com", 1)])] * 40
    + [("cookie3", [("imdb.com", 1)])] * 30
    + [("cookie4", [])] * 150
    + [("cookie5", None)] * 150
)


@pytest.fixture(scope="module")
def cover_df(spark):
    return spark.createDataFrame(COVER_ROWS, COVER_SCHEMA).cache()


def _encoder(**kw):
    return GatherEncoder(inputCol="sites", outputCol="features",
                         keyCol="site", valueCol="impressions", **kw)


# --- fit: index (min support) — GatherEncoderSpec.scala:76-101 -----------

def test_index_support_1pct_collects_all(cover_df):
    m = _encoder(transformation="index", support=1.0).fit(cover_df)
    assert len(m.keys) == 9

def test_index_support_exclusion(cover_df):
    m = _encoder(transformation="index", support=1.0,
                 excludeKeys={"imdb.com"}).fit(cover_df)
    assert len(m.keys) == 8 and "imdb.com" not in m.keys

def test_index_support_3_1pct(cover_df):
    m = _encoder(transformation="index", support=3.1).fit(cover_df)
    assert len(m.keys) == 8 and "imdb.com" not in m.keys

def test_index_support_4_1pct(cover_df):
    m = _encoder(transformation="index", support=4.1).fit(cover_df)
    assert len(m.keys) == 7
    assert "imdb.com" not in m.keys and "amazon.com" not in m.keys


# --- fit: top coverage — GatherEncoderSpec.scala:103-154 -----------------

@pytest.mark.parametrize("cover,n,excluded", [
    (100.0, 9, []),
    (95.0, 8, ["imdb.com"]),
    (90.0, 7, ["amazon.com"]),
    (85.0, 6, ["netflix.com"]),
    (75.0, 5, ["sport.com"]),
])
def test_top_cover_thresholds(cover_df, cover, n, excluded):
    m = _encoder(transformation="top", cover=cover).fit(cover_df)
    assert len(m.keys) == n
    for k in excluded:
        assert k not in m.keys

def test_top_cover_100_exclusion(cover_df):
    m = _encoder(cover=100.0, excludeKeys={"imdb.com"}).fit(cover_df)
    assert len(m.keys) == 8 and "imdb.com" not in m.keys

def test_top_cover_95_exclusion(cover_df):
    m = _encoder(cover=95.0, excludeKeys={"amazon.com"}).fit(cover_df)
    assert len(m.keys) == 7
    assert "imdb.com" not in m.keys and "amazon.com" not in m.keys

def test_empty_and_null_datasets_fit_empty(spark):
    empty = spark.createDataFrame(
        [("c1", []), ("c2", []), ("c3", [])], COVER_SCHEMA)
    null = spark.createDataFrame(
        [("c1", None), ("c2", None), ("c3", None)], COVER_SCHEMA)
    assert _encoder().fit(empty).keys == []
    assert _encoder().fit(null).keys == []

def test_fit_key_order_is_count_desc_key_asc(cover_df):
    m = _encoder(cover=100.0).fit(cover_df)
    # counts: cnn/google 500, auto/bbc/moto 300, sport 80, netflix 50,
    # amazon 40, imdb 30 — ties broken by key asc.
    assert m.keys == ["cnn.com", "google.com", "auto.com", "bbc.com",
                      "moto.com", "sport.com", "netflix.com",
                      "amazon.com", "imdb.com"]


def test_fit_job_floor(cover_df, count_jobs):
    """A single-partition fit takes its running sum, total and slots
    from one window, so a ``top`` or ``index`` fit runs at most 3 Spark
    jobs (6 when the total was a broadcast aggregate)."""
    cover_df.count()
    for kw in ({"transformation": "top", "cover": 80.0},
               {"transformation": "index", "support": 3.1}):
        assert count_jobs(lambda: _encoder(**kw).fit(cover_df)) <= 3, kw


def test_fit_jobs_pinned(cover_df, count_jobs):
    """One running_sums call per transformation: the window-arm fit is
    pinned at exactly 3 Spark jobs in both ``top`` and ``index`` mode,
    and the range arm (fitPartitions=4) at 9 — its totals ride the
    offsets collect, so ``index`` pays no extra total aggregate."""
    cover_df.count()
    for kw, jobs in (({"transformation": "top", "cover": 80.0}, 3),
                     ({"transformation": "index", "support": 3.1}, 3),
                     ({"transformation": "top", "cover": 80.0,
                       "fitPartitions": 4}, 9),
                     ({"transformation": "index", "support": 3.1,
                       "fitPartitions": 4}, 9)):
        assert count_jobs(lambda: _encoder(**kw).fit(cover_df)) == jobs, kw


# --- model transform — GatherEncoderModelSpec.scala ----------------------

MODEL_SCHEMA = StructType([
    StructField("cookie_id", StringType()),
    StructField("sites", ArrayType(StructType([
        StructField("site", StringType()),
        StructField("site_id", IntegerType()),
        StructField("impressions", LongType()),
    ]), containsNull=True), nullable=True),
])

MODEL_ROWS = [
    ("cookie1", [("google.com", 1, 12), ("cnn.com", 2, 14)]),
    ("cookie2", [("bbc.com", 3, 20), ("auto.com", 4, 1), ("moto.com", 5, 3)]),
    ("cookie3", [("sport.com", 6, 100)]),
    ("cookie4", []),
    ("cookie5", None),
]

SITES = ["google.com", "bbc.com", "cnn.com"]
SITE_IDS = [1, 3, 2]


@pytest.fixture(scope="module")
def model_df(spark):
    return spark.createDataFrame(MODEL_ROWS, MODEL_SCHEMA).cache()


def _model(keys, **kw):
    params = dict(inputCol="sites", outputCol="features", keyCol="site",
                  valueCol="impressions")
    params.update(kw)
    m = GatherEncoderModel(keys=keys)
    m._set(**params)
    return m


def _features(model, df):
    return {r["cookie_id"]: r["features"]
            for r in model.transform(df).select("cookie_id", "features").collect()}


def test_encode_ignoring_all_other(model_df):
    by_site = _features(_model(SITES, allOther=False), model_df)
    by_id = _features(
        _model(SITE_IDS, allOther=False, keyCol="site_id"), model_df)
    assert by_site == by_id  # key type doesn't matter
    f1 = by_site["cookie1"]
    assert f1.size == 3 and list(f1.indices) == [0, 2] and list(f1.values) == [12, 14]
    f2 = by_site["cookie2"]
    assert f2.size == 3 and list(f2.indices) == [1] and list(f2.values) == [20]
    for c in ("cookie3", "cookie4", "cookie5"):
        assert by_site[c].size == 3 and list(by_site[c].indices) == []


def test_encode_with_all_other(model_df):
    fs = _features(_model(SITES, allOther=True), model_df)
    assert fs["cookie1"].size == 4
    assert list(fs["cookie1"].indices) == [0, 2]
    assert list(fs["cookie1"].values) == [12, 14]
    assert list(fs["cookie2"].indices) == [1, 3]
    assert list(fs["cookie2"].values) == [20, 4]  # auto+moto summed
    assert list(fs["cookie3"].indices) == [3]
    assert list(fs["cookie3"].values) == [100]
    for c in ("cookie4", "cookie5"):
        assert fs[c].size == 4 and list(fs[c].indices) == []


def test_remove_input_col(model_df):
    out = _model(SITES, keepInputCol=False).transform(model_df)
    assert len(out.columns) == len(model_df.columns)
    assert "sites" not in out.columns


def test_empty_keys_fails(model_df):
    with pytest.raises(ValueError):
        _model([]).transform(model_df)


def test_empty_keys_no_fail_empty_vectors(model_df):
    fs = _features(_model([], failOnEmptyKeys=False, allOther=False), model_df)
    assert fs["cookie1"].size == 0


def test_empty_keys_all_other_accumulates_everything(model_df):
    fs = _features(_model([], failOnEmptyKeys=False, allOther=True), model_df)
    assert list(fs["cookie1"].toArray()) == [26.0]
    assert list(fs["cookie2"].toArray()) == [24.0]
    assert list(fs["cookie3"].toArray()) == [100.0]
    for c in ("cookie4", "cookie5"):
        assert fs[c].size == 1 and list(fs[c].indices) == []


def test_metadata_labels(model_df):
    out = _model(SITES, allOther=True).transform(model_df)
    meta = out.schema["features"].metadata["ml_attr"]
    names = [a["name"] for a in meta["attrs"]["numeric"]]
    assert names == ["google.com", "bbc.com", "cnn.com", "all other"]
    assert meta["num_attrs"] == 4


def test_fit_copies_params_to_model(cover_df):
    m = _encoder(cover=75.0, allOther=True).fit(cover_df)
    out = m.transform(cover_df)
    row = {r["cookie_id"]: r["features"] for r in out.collect()}
    # 5 keys + all other slot
    assert row["cookie1"].size == 6


def test_transform_exploded_matches_vector(model_df, spark):
    model = _model(SITES, allOther=True)
    vecs = _features(model, model_df)
    flat = model.transform_exploded(model_df, ["cookie_id"]).collect()
    got = {}
    for r in flat:
        got.setdefault(r["cookie_id"], {})[r["slot"]] = r["value"]
    for cookie, vec in vecs.items():
        dense = {i: v for i, v in zip(vec.indices, vec.values)}
        assert got.get(cookie, {}) == dense


def test_duplicate_keys_last_wins_both_paths(spark):
    """Reference contract (GatherEncoder.scala:326-370): for a known key
    appearing twice, the LAST value in array order wins — in BOTH the
    vector path and the exploded path. Unseen keys still SUM into the
    all-other slot."""
    df = spark.createDataFrame(
        [("c1", [("google.com", 1, 5), ("google.com", 1, 9),
                 ("x.com", 7, 2), ("y.com", 8, 3)])],
        MODEL_SCHEMA)
    model = _model(SITES, allOther=True)
    vec = _features(model, df)["c1"]
    dense = {i: v for i, v in zip(vec.indices, vec.values)}
    assert dense == {0: 9.0, 3: 5.0}  # google last-wins=9, x+y summed=5

    flat = model.transform_exploded(df, ["cookie_id"]).collect()
    got = {r["slot"]: r["value"] for r in flat}
    assert got == {0: 9.0, 3: 5.0}


def test_null_values_unbox_to_zero_both_encode_paths(spark):
    """Reference parity (GatherEncoder.scala:345-355): a null VALUE in
    the gathered array unboxes to 0.0 — in the fitted slot and in the
    all-other sum alike."""
    df = spark.createDataFrame(
        [(1, [("a", 1.0), ("zz", None), ("a", None)]),
         (2, [("a", 3.0), ("zz", 2.0)])],
        "pk long, g array<struct<key string, value double>>")
    m = GatherEncoderModel(keys=["a"])
    m._set(inputCol="g", outputCol="f", keyCol="key", valueCol="value",
           allOther=True)
    expected = {1: [0.0, 0.0],   # last 'a' is null → 0.0; all-other null → 0.0
                2: [3.0, 2.0]}
    got = {r["pk"]: list(r["f"].toArray())
           for r in m.transform(df).collect()}
    assert got == expected


def test_nan_values_preserved_on_udf_path(spark):
    """Reference parity: GatherEncoder.scala:345-355 unboxes only NULL
    to 0.0 — a genuine NaN VALUE is preserved, landing in the fitted
    slot and poisoning the all-other sum."""
    import math
    df = spark.createDataFrame(
        [(1, [("a", float("nan")), ("zz", 2.0)]),
         (2, [("a", 1.0), ("zz", float("nan")), ("yy", 3.0)])],
        "pk long, g array<struct<key string, value double>>")
    m = GatherEncoderModel(keys=["a"])
    m._set(inputCol="g", outputCol="f", keyCol="key", valueCol="value",
           allOther=True)
    got = {r["pk"]: list(r["f"].toArray())
           for r in m.transform(df).collect()}
    assert math.isnan(got[1][0]) and got[1][1] == 2.0   # NaN in slot
    assert got[2][0] == 1.0 and math.isnan(got[2][1])   # NaN poisons sum
