"""Multimodal-column plumbing tests: schema, magic sniffing, stubbed
decode determinism, pseudo-features, frame sampling shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from spark_ext_spark.llm.multimodal import (attach_media, decode_media,
                                            media_features, sample_frames)

PNG = b"\x89PNG\r\n\x1a\n" + b"fakepngdata" * 10
JPEG = b"\xff\xd8\xff\xe0" + b"fakejpegdata" * 10
MP3 = b"ID3\x04" + b"fakemp3" * 5
RAW = b"justsomebytes"


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        [(1, PNG), (2, JPEG), (3, MP3), (4, RAW)],
        "item_id long, payload binary")
    return attach_media(df, "item_id", "payload").cache()


def test_attach_media_schema_and_sniffing(media):
    assert dict(media.dtypes)["media"] == "binary"
    rows = {r["media_id"]: r["media_meta"] for r in media.collect()}
    assert rows[1]["format"] == "png"
    assert rows[2]["format"] == "jpeg"
    assert rows[3]["format"] == "mp3"
    assert rows[4]["format"] == "unknown"
    assert rows[1]["byte_len"] == len(PNG)
    assert rows[1]["width"] is None  # not decoded yet


def test_decode_media_stub_is_deterministic(media):
    d1 = {r["media_id"]: r["media_meta"] for r in decode_media(media).collect()}
    d2 = {r["media_id"]: r["media_meta"] for r in decode_media(media).collect()}
    assert d1 == d2
    for meta in d1.values():
        assert 16 <= meta["width"] <= 255 and 16 <= meta["height"] <= 255
        assert meta["n_frames"] >= 1
    assert d1[1]["format"] == "png"  # sniffed format survives decode


def test_real_decode_requires_pillow(media):
    """Without Pillow installed, real_decode must fail fast at
    dispatch time, naming the missing dependency. (Skipped where
    Pillow IS importable — there the dispatch legitimately succeeds,
    covered by the fake-PIL test below.)"""
    try:
        import PIL.Image  # noqa: F401
        pytest.skip("Pillow installed — dispatch succeeds by design")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_media(media, real_decode=True)


def test_real_decode_dispatches_to_fake_pil(media, monkeypatch):
    """With a (fake) PIL importable, real_decode dispatches through
    the Pillow API shape — Image.open(BytesIO) → width/height/
    n_frames — instead of raising."""
    import sys
    import types

    class _FakeImg:
        width, height, n_frames = 320, 200, 12

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    fake_image = types.ModuleType("PIL.Image")
    fake_image.open = lambda fp: _FakeImg()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image)
    from spark_ext_spark.llm.multimodal import _pil_decoder
    decode_one = _pil_decoder()          # dispatch succeeds
    assert decode_one(b"\x89PNG....") == (320, 200, 12)
    # the DataFrame path accepts the dispatch too (plan building only;
    # executing would need PIL on the executor interpreters)
    assert decode_media(media, real_decode=True).columns \
        == ["media_id", "media", "media_meta"]


def test_injected_decoder_runs_end_to_end(media):
    """The decoder= seam executes distributed: the callable ships via
    cloudpickle to the Python workers, proving any importable codec
    (Pillow, soundfile, ffmpeg wrappers) plugs in with no other code
    change."""
    out = decode_media(media, decoder=lambda payload: (len(payload), 7, 2))
    metas = {r["media_id"]: r["media_meta"].asDict() for r in out.collect()}
    for mid, meta in metas.items():
        assert meta["height"] == 7 and meta["n_frames"] == 2
        assert meta["width"] == meta["byte_len"]  # len(payload) flowed


def test_media_features_unit_norm_and_stable(media):
    f1 = {r["media_id"]: r["features"] for r in media_features(media).collect()}
    f2 = {r["media_id"]: r["features"] for r in media_features(media).collect()}
    assert f1 == f2
    for v in f1.values():
        assert len(v) == 16
        assert sum(x * x for x in v) == pytest.approx(1.0, abs=1e-9)
    assert f1[1] != f1[2]


def test_sample_frames_shape(media):
    decoded = decode_media(media)
    frames = sample_frames(decoded, every_n=5)
    rows = frames.collect()
    assert {c for c in frames.columns} == {"media_id", "frame_idx", "frame_stub"}
    metas = {r["media_id"]: r["media_meta"] for r in decoded.collect()}
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    for mid, idxs in by_id.items():
        expected = list(range(0, max(metas[mid]["n_frames"] - 1, 0) + 1, 5))
        assert sorted(idxs) == expected


def test_sidecar_columns_pass_through_every_stage(spark):
    """attach_media(keep=) carries sidecar columns row-aligned through
    decode → resize → sample_frames — the r11 contract that lets
    media_pipeline drop its media_id join-back (which fanned out n² on
    duplicated ids and cost a shuffle)."""
    import pytest
    from spark_ext_spark.llm.multimodal import resize_media
    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\npayload", "web", 0.7),
         (1, b"different bytes same id", "wiki", 0.1),   # duplicated id
         (2, None, "forum", None),                       # NULL payload
         (3, b"", None, 0.2)],                           # empty + NULL src
        "doc_id long, payload binary, source string, quality double")
    media = attach_media(df, "doc_id", "payload",
                         keep=["source", "quality"])
    resized = resize_media(decode_media(media))
    rows = resized.collect()
    assert {c for c in resized.columns} == {
        "media_id", "media", "media_meta", "source", "quality"}
    # row-aligned: the duplicated id keeps BOTH sidecar rows distinct
    assert sorted((r["media_id"], r["source"]) for r in rows) == [
        (1, "web"), (1, "wiki"), (2, "forum"), (3, None)]
    frames = sample_frames(resized)
    fcols = set(frames.columns)
    assert {"source", "quality"} <= fcols
    # undecodable rows (NULL/empty payload) emit no frames
    assert {r["media_id"] for r in frames.collect()} == {1}
    with pytest.raises(ValueError, match="collide with"):
        attach_media(df, "doc_id", "payload", keep=["media"])


def test_sidecar_types_survive_arrow_round_trips(spark):
    """Sidecars of every practical type — nullable bigint (a pandas
    round-trip would widen it to float64+NaN), timestamp, array,
    struct — must survive the mapInArrow round-trips of decode and
    resize unchanged, including their NULLs. The 2^62-scale value in
    a null-bearing batch is the hard case: float64 only holds 53
    mantissa bits, so the old mapInPandas path silently rounded it
    (this repo's own testdata carries 2^62-scale ids)."""
    import datetime
    from spark_ext_spark.llm.multimodal import resize_media
    big = 2**62 + 3  # not representable in float64
    df = spark.createDataFrame(
        [(1, b"abc", 10, big, datetime.datetime(2024, 1, 1, 10, 30),
          [1.5, 2.5], ("en", 3)),
         (2, b"xy", None, None, None, None, None)],
        "doc_id long, payload binary, n_chars long, big_id long, "
        "crawled timestamp, "
        "scores array<double>, meta struct<lang:string,n:int>")
    out = resize_media(decode_media(attach_media(
        df, "doc_id", "payload",
        keep=["n_chars", "big_id", "crawled", "scores", "meta"])))
    # single partition → the large int and the NULL share one Arrow
    # batch, the exact shape that corrupted under mapInPandas
    out = out.coalesce(1)
    got = {r["media_id"]: (r["n_chars"], r["big_id"], r["crawled"],
                           r["scores"], r["meta"])
           for r in out.collect()}
    assert got[1] == (10, big, datetime.datetime(2024, 1, 1, 10, 30),
                      [1.5, 2.5], ("en", 3))
    assert got[2] == (None, None, None, None, None)


def test_sidecar_quoted_names_and_frame_collision_guard(spark):
    """Sidecar names needing DDL quoting (spaces, hyphens, reserved
    words, embedded backticks) must cross decode/resize — the schema
    string backtick-quotes them; a sidecar named frame_idx/frame_stub
    must fail BY NAME at sample_frames (it would silently collide
    with the frame output columns), while decode/resize still carry
    it."""
    import pytest
    from spark_ext_spark.llm.multimodal import resize_media
    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\npayload", "web", 3, 7)],
        ["doc_id", "payload", "crawl source", "select", "frame_idx"])
    media = attach_media(df, "doc_id", "payload",
                         keep=["crawl source", "select", "frame_idx"])
    out = resize_media(decode_media(media))
    row = out.collect()[0]
    assert row["crawl source"] == "web"
    assert row["select"] == 3
    assert row["frame_idx"] == 7
    with pytest.raises(ValueError, match="frame_idx"):
        sample_frames(out)
    # DOTTED sidecar names cannot be DECLARED as mapInArrow output
    # columns (Spark resolves the declared schema's field names as
    # multipart references — probed: fails UNRESOLVED_COLUMN even
    # backtick-quoted or via StructType), so the media stages alias
    # them to plain internal names for the Arrow hop and restore the
    # original name right after; a caller-visible dotted sidecar
    # crosses decode+resize unchanged. An existing column at the
    # internal alias name must not collide.
    dotted = attach_media(
        spark.createDataFrame([(1, b"png", "d", "occupied")],
                              ["doc_id", "payload", "a.b",
                               "__sidecar_0"]),
        "doc_id", "payload", keep=["a.b", "__sidecar_0"])
    assert dotted.collect()[0]["a.b"] == "d"
    out2 = resize_media(decode_media(dotted))
    row2 = out2.collect()[0]
    assert row2["a.b"] == "d"
    assert row2["__sidecar_0"] == "occupied"
    assert out2.columns.count("a.b") == 1


def test_null_media_meta_rows_stay_null(spark):
    """A row whose media_meta IS NULL (outer joins produce these;
    attach_media never does) must stay null through decode and resize
    — the Arrow struct rebuild propagates the validity mask instead of
    fabricating a non-null struct of invented dimensions (the
    mapInPandas-era code failed loudly on such rows; silently
    inventing metadata is the one behavior that is never right)."""
    from spark_ext_spark.llm.multimodal import (MEDIA_META_TYPE,
                                                resize_media)
    attached = attach_media(
        spark.createDataFrame([(1, b"\x89PNG\r\n\x1a\nx")],
                              "doc_id long, payload binary"),
        "doc_id", "payload")
    orphan_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("media_meta", MEDIA_META_TYPE)])
    nulled = attached.unionByName(spark.createDataFrame(
        [(2, b"orphan", None)], orphan_schema))
    for stage in (decode_media(nulled),
                  resize_media(decode_media(nulled))):
        got = {r["media_id"]: r["media_meta"] for r in stage.collect()}
        assert got[1] is not None
        assert got[2] is None, stage


def test_reordered_meta_struct_fields_rebuild_by_name(spark):
    """decode/resize must pair media_meta children BY NAME: a caller
    whose struct carries the same fields in a different order (hand-
    built, schema-evolved parquet) must not get width/height swapped
    by positional pairing, and the output must come out in the
    canonical MEDIA_META_TYPE order."""
    from spark_ext_spark.llm.multimodal import resize_media
    payload = b"\x89PNG\r\n\x1a\nreordered"
    df = spark.createDataFrame(
        [(1, payload, ("png", 17, None, None, None))],
        "media_id long, media binary, media_meta struct<"
        "format:string, byte_len:bigint, height:int, width:int, "
        "n_frames:int>")  # height/width SWAPPED vs canonical
    decoded = decode_media(df)
    assert [f.name for f in decoded.schema["media_meta"].dataType.fields] \
        == ["format", "byte_len", "width", "height", "n_frames"]
    meta = decoded.collect()[0]["media_meta"]
    # the deterministic fake dims for this payload, by name
    import hashlib
    d = hashlib.sha256(payload).digest()
    assert meta["width"] == 16 + d[0] % 240
    assert meta["height"] == 16 + d[1] % 240
    resized = resize_media(decoded, width=40, height=20)
    rmeta = resized.collect()[0]["media_meta"]
    assert (rmeta["width"], rmeta["height"]) == (40, 20)
    assert rmeta["byte_len"] == 32


def test_nested_quoted_sidecar_field_names_cross_media_stages(spark):
    """A sidecar STRUCT whose inner field name needs quoting (spaces)
    must cross decode/resize: the output schema is built
    programmatically, not via a simpleString() DDL round-trip that
    cannot quote nested names."""
    from spark_ext_spark.llm.multimodal import resize_media
    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\nx", (("en", 4),))],
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta2", T.StructType([
                T.StructField("inner", T.StructType([
                    T.StructField("lang code", T.StringType()),
                    T.StructField("n tokens", T.IntegerType())]))]))]))
    out = resize_media(decode_media(attach_media(
        df, "doc_id", "payload", keep=["meta2"])))
    row = out.collect()[0]
    assert row["meta2"]["inner"]["lang code"] == "en"
    assert row["meta2"]["inner"]["n tokens"] == 4


def test_resize_media_stub(spark):
    from spark_ext_spark.llm.multimodal import (attach_media, decode_media,
                                                resize_media)
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\npayload-one")),
         (2, bytearray(b"\xff\xd8\xff\xe0jpeg-bytes"))],
        "doc_id long, payload binary")
    resized = resize_media(decode_media(attach_media(df, "doc_id", "payload")),
                           width=32, height=24)
    rows = {r["media_id"]: r for r in resized.collect()}
    assert rows[1]["media_meta"]["width"] == 32
    assert rows[1]["media_meta"]["height"] == 24
    assert rows[1]["media_meta"]["format"] == "png"
    assert rows[2]["media_meta"]["format"] == "jpeg"
    # stub payload is deterministic and content-addressed
    assert len(bytes(rows[1]["media"])) == 32
    again = {r["media_id"]: bytes(r["media"]) for r in resized.collect()}
    assert again[1] == bytes(rows[1]["media"])
    assert again[1] != again[2]
    # n_frames survives the resize untouched
    dec = {r["media_id"]: r["media_meta"]["n_frames"] for r in
           decode_media(attach_media(df, "doc_id", "payload")).collect()}
    assert rows[1]["media_meta"]["n_frames"] == dec[1]


def test_injected_decoder_skips_null_and_empty_payloads(spark):
    """A null/empty media cell must not reach a real decoder (Pillow
    raises UnidentifiedImageError on b'' and would fail the task, and
    after retries a 100 TB job) — it decodes to null dimensions
    instead. Non-empty rows still decode."""
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\nreal-bytes")),
         (2, None), (3, bytearray(b""))],
        "doc_id long, payload binary")

    def decoder(payload):
        assert payload, "decoder must never see a null/empty payload"
        return (len(payload), 7, 2)

    out = decode_media(attach_media(df, "doc_id", "payload"),
                       decoder=decoder)
    metas = {r["media_id"]: r["media_meta"].asDict() for r in out.collect()}
    assert metas[1]["width"] == len(b"\x89PNG\r\n\x1a\nreal-bytes")
    for mid in (2, 3):
        assert metas[mid]["width"] is None
        assert metas[mid]["height"] is None
        assert metas[mid]["n_frames"] is None


def test_string_media_ids_flow_through_decode_and_resize(spark):
    """decode_media/resize_media must carry the id column's own type —
    the mapInPandas schemas used to hardcode bigint and fail Arrow
    conversion for string ids."""
    from spark_ext_spark.llm.multimodal import resize_media
    df = spark.createDataFrame(
        [("img-a", PNG), ("img-b", JPEG)], "item_id string, payload binary")
    decoded = decode_media(attach_media(df, "item_id", "payload"))
    rows = {r["media_id"]: r["media_meta"] for r in decoded.collect()}
    assert set(rows) == {"img-a", "img-b"}
    assert all(m["width"] is not None for m in rows.values())
    resized = resize_media(decoded, width=32, height=32)
    rrows = {r["media_id"]: r["media_meta"] for r in resized.collect()}
    assert set(rrows) == {"img-a", "img-b"}
    assert all(m["width"] == 32 for m in rrows.values())


def test_sample_frames_decodes_raw_frames(spark):
    """A raw (media_id, media) frame without media_meta must be
    attached+decoded on the fly — the old conditional assigned df on
    both branches and then failed to resolve media_meta.n_frames."""
    from spark_ext_spark.llm.multimodal import sample_frames
    raw = spark.createDataFrame([(1, PNG), (2, JPEG)],
                                "media_id long, media binary")
    frames = sample_frames(raw, every_n=5)
    got = {r["media_id"] for r in frames.collect()}
    assert got == {1, 2}
    # frame counts match the decoded metadata
    decoded = decode_media(attach_media(raw, "media_id", "media"))
    nf = {r["media_id"]: r["media_meta"]["n_frames"]
          for r in decoded.collect()}
    counts = {r["media_id"]: 0 for r in frames.collect()}
    for r in frames.collect():
        counts[r["media_id"]] += 1
    for mid, n in nf.items():
        assert counts[mid] == len(range(0, max(n - 1, 0) + 1, 5))


def test_injected_decoder_corrupt_payload_yields_null_dims(spark):
    """A CORRUPT non-empty payload (truncated file, mislabeled format)
    raises inside the decoder; the operator must absorb that into null
    dimensions — same contract as null/empty — instead of failing the
    task and, after retries, a 100 TB job. Healthy rows in the same
    batch still decode."""
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\ntruncated")),
         (2, bytearray(b"\xff\xd8\xff\xe0healthy-jpeg"))],
        "doc_id long, payload binary")

    def decoder(payload):
        if payload.startswith(b"\x89PNG"):
            raise ValueError("broken stream")  # what PIL raises, in spirit
        return (len(payload), 7, 1)

    out = decode_media(attach_media(df, "doc_id", "payload"),
                       decoder=decoder, on_error="null")
    metas = {r["media_id"]: r["media_meta"].asDict() for r in out.collect()}
    assert metas[1]["width"] is None
    assert metas[1]["height"] is None
    assert metas[1]["n_frames"] is None
    assert metas[2]["width"] == len(b"\xff\xd8\xff\xe0healthy-jpeg")
    # format sniff + byte_len (payload-derived, not decode-derived)
    # survive for the corrupt row so it stays attributable downstream
    assert metas[1]["format"] == "png"
    assert metas[1]["byte_len"] == len(b"\x89PNG\r\n\x1a\ntruncated")


def _make_png(width: int, height: int) -> bytes:
    """A minimal valid 8-bit RGB PNG built from the spec (signature +
    IHDR + one zlib IDAT of filter-0 scanlines + IEND) — no image
    library needed to CONSTRUCT it, so the fixture exists even where
    Pillow doesn't."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(3 * width) for _ in range(height))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _pil_available() -> bool:
    import importlib.util
    return importlib.util.find_spec("PIL") is not None


@pytest.mark.skipif(not _pil_available(),
                    reason="Pillow not installed in this sandbox — the "
                           "real-decode path self-verifies wherever it is")
def test_real_decode_reads_real_pngs(spark):
    """End-to-end real decode: spec-constructed PNGs of two distinct
    sizes flow through decode_media(real_decode=True) and come back
    with their true dimensions (golden: the sizes we encoded), and a
    corrupt payload in the same frame nulls out instead of failing."""
    df = spark.createDataFrame(
        [(1, _make_png(5, 3)), (2, _make_png(7, 2)),
         (3, bytearray(b"\x89PNG\r\n\x1a\nnot-really-a-png"))],
        "doc_id long, payload binary")
    out = decode_media(attach_media(df, "doc_id", "payload"),
                       real_decode=True)
    metas = {r["media_id"]: r["media_meta"].asDict() for r in out.collect()}
    assert (metas[1]["width"], metas[1]["height"]) == (5, 3)
    assert (metas[2]["width"], metas[2]["height"]) == (7, 2)
    assert metas[1]["n_frames"] == 1
    assert metas[3]["width"] is None and metas[3]["height"] is None


def test_decode_on_error_raise_propagates(spark):
    """An INJECTED decoder defaults to on_error='raise' (decoder-
    development mode): the first decode failure fails the job instead
    of flowing into null dims — a wrong-arity custom decoder must not
    produce a silently all-null 100 TB output. Explicit
    on_error='null' opts a trusted decoder back into absorption."""
    df = spark.createDataFrame([(1, bytearray(b"\x89PNG\r\n\x1a\nx"))],
                               "doc_id long, payload binary")
    wrong_arity = lambda payload, fmt: (1, 1, 1)         # noqa: E731
    out = decode_media(attach_media(df, "doc_id", "payload"),
                       decoder=wrong_arity)  # default for injected: raise
    with pytest.raises(Exception, match="positional argument"):
        out.collect()
    # explicit null mode absorbs the same defect into null dims (+logs)
    nulls = decode_media(attach_media(df, "doc_id", "payload"),
                         decoder=wrong_arity, on_error="null")
    assert nulls.first()["media_meta"]["width"] is None
    with pytest.raises(ValueError, match="on_error"):
        decode_media(attach_media(df, "doc_id", "payload"),
                     decoder=wrong_arity, on_error="ignore")
