"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata structs, plus Arrow-batched decode / feature /
frame-sample operators.

The Spark-side plumbing (schemas, partition sizing, mapInArrow batch
shapes, deterministic pseudo-features) is real and tested; the codec
bodies are pluggable — ``decode_media(..., real_decode=True)`` decodes
with Pillow when it is importable and raises NotImplementedError
naming the missing dependency otherwise (this container has no
image/audio libraries), a ``decoder=`` callable swaps in any other
codec, and the default path produces deterministic fake metadata
derived from the bytes (magic sniffing + sha256-based dimensions) so
pipelines are end-to-end testable everywhere.

At 100 TB: binary payloads dominate row size — the media stages carry
the media triple plus any row-aligned sidecar columns (the attach_media
``keep`` contract; sidecars ride along instead of a join-back shuffle),
so callers control scan width by what they attach/select upstream, and
should size spark.sql.files.maxPartitionBytes so one Arrow batch of
payloads fits executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["MEDIA_META_SCHEMA", "MEDIA_META_TYPE", "attach_media",
           "sniff_format", "decode_media", "media_features",
           "resize_media", "sample_frames"]

# The typed metadata carried alongside every media payload. The
# StructType is the source of truth — the media stages declare their
# mapInArrow output schema programmatically (no DDL round-trip, so a
# sidecar whose NESTED field names need quoting still works; dotted
# top-level names cross via internal aliases, see _dotted_aliases);
# the DDL string is derived from it for callers that want one.
MEDIA_META_TYPE = T.StructType([
    T.StructField("format", T.StringType()),
    T.StructField("byte_len", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType())])
MEDIA_META_SCHEMA = MEDIA_META_TYPE.simpleString()

# Stub-resize output payload size; byte_len reports the SAME constant,
# so changing the digest size cannot silently desynchronize the two.
_RESIZE_DIGEST_SIZE = 32

_MAGIC = [
    ("89504e47", "png"), ("ffd8ff", "jpeg"), ("47494638", "gif"),
    ("52494646", "riff"), ("494433", "mp3"), ("664c6143", "flac"),
    ("00000018", "mp4"), ("00000020", "mp4"),
]


def sniff_format(bin_col) -> "F.Column":
    """Magic-byte format sniff as a JVM expression (hex prefix match)."""
    prefix = F.lower(F.hex(F.substring(bin_col, 1, 8)))
    expr = F.lit("unknown")
    for magic, fmt in reversed(_MAGIC):
        expr = F.when(prefix.startswith(magic.lower()), fmt).otherwise(expr)
    return expr


def attach_media(df: DataFrame, id_col: str, bin_col: str,
                 keep: "Sequence[str]" = ()) -> DataFrame:
    """Wrap a raw binary column into (id, media binary, media_meta
    struct) — format sniffed from magic bytes, byte_len filled,
    decode-dependent fields left null until decode_media runs.

    ``keep`` carries sidecar columns (source, license, crawl date …)
    through the pipeline row-aligned. Before round 11 callers had to
    join sidecars back by media_id after the media stages — an extra
    shuffle at scale, and a silent FAN-OUT whenever ids are duplicated
    upstream (the r11 media sweep caught media_pipeline double-counting
    duplicated doc_ids exactly this way). decode_media / resize_media /
    sample_frames pass any extra input columns through unchanged."""
    clash = {"media_id", "media", "media_meta"} & set(keep)
    if clash:
        raise ValueError(
            f"attach_media: keep columns {sorted(clash)} collide with "
            "the media triple (media_id/media/media_meta) — rename the "
            "sidecar columns before attaching")
    # frame_idx/frame_stub only collide at sample_frames, which guards
    # for itself — attaching them stays legal for pipelines that never
    # sample frames.
    b = F.col(bin_col)
    meta = F.struct(
        sniff_format(b).alias("format"),
        F.length(b).cast("bigint").alias("byte_len"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"))
    return df.select(F.col(id_col).alias("media_id"), b.alias("media"),
                     meta.alias("media_meta"),
                     *[_qcol(c) for c in keep])


def _sidecars(df: DataFrame) -> list:
    """Extra input columns beyond the media triple — passed through
    every stage unchanged (see attach_media ``keep``)."""
    return [f for f in df.schema.fields
            if f.name not in ("media_id", "media", "media_meta")]


def _qcol(name: str) -> "F.Column":
    """Column reference by EXACT name: backtick-quoted so sidecars
    named with spaces/reserved words resolve as columns (embedded
    backticks escape by doubling, as in Spark SQL)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _dotted_aliases(df: DataFrame, extras) -> dict[str, str]:
    """mapInArrow/mapInPandas cannot EMIT a dotted output column name
    — Spark resolves the declared output schema's field names as
    multipart references even when backtick-quoted or given as a
    StructType (probed on 4.1: `a.b` fails UNRESOLVED_COLUMN while
    plain select/alias of the same column succeeds). Instead of
    rejecting such sidecars, the media stages alias each dotted name
    to a collision-free plain internal name for the Arrow hop and
    restore the original name immediately after (a zero-cost
    projection). Returns {original: internal} for the dotted names."""
    taken = set(df.columns)
    out: dict[str, str] = {}
    for i, f in enumerate(sorted(
            (f for f in extras if "." in f.name), key=lambda f: f.name)):
        safe = f"__sidecar_{i}"
        while safe in taken:
            safe += "_"
        taken.add(safe)
        out[f.name] = safe
    return out


def _media_out_schema(df: DataFrame, extras,
                      aliases: dict[str, str]) -> "T.StructType":
    """Declared output schema for decode_media/resize_media: the media
    triple (media_id keeps the caller's id type — string/UUID ids are
    legal) plus every sidecar with its exact input type (dotted names
    under their internal alias, see _dotted_aliases). Built as a
    StructType, not a DDL string, so names anywhere in the tree that
    would need quoting (spaces, hyphens, reserved words — including
    NESTED struct field names, which simpleString() cannot quote)
    never go through a parser."""
    return T.StructType(
        [T.StructField("media_id", df.schema["media_id"].dataType),
         T.StructField("media", T.BinaryType()),
         T.StructField("media_meta", MEDIA_META_TYPE)]
        + [T.StructField(aliases.get(f.name, f.name), f.dataType,
                         f.nullable) for f in extras])


def _through_arrow(df: DataFrame, extras, fn, out_schema,
                   aliases: dict[str, str]) -> DataFrame:
    """Run ``fn`` via mapInArrow over the media triple + sidecars,
    aliasing dotted sidecar names to plain internal names for the
    Arrow hop and restoring them after (see _dotted_aliases)."""
    sel = [(_qcol(f.name).alias(aliases[f.name])
            if f.name in aliases else _qcol(f.name)) for f in extras]
    res = (df.select("media_id", "media", "media_meta", *sel)
           .mapInArrow(fn, schema=out_schema))
    if aliases:
        res = res.select(
            "media_id", "media", "media_meta",
            *[(F.col(aliases[f.name]).alias(f.name)
               if f.name in aliases else _qcol(f.name))
              for f in extras])
    return res


def _rebuild_meta(meta_arr: "pa.Array", byte_len: "pa.Array",
                  width: "pa.Array", height: "pa.Array",
                  n_frames: "pa.Array") -> "pa.StructArray":
    """Rebuild the media_meta struct column around new child arrays.

    Children are looked up BY NAME and emitted in the canonical
    MEDIA_META_TYPE order, so an input struct whose fields arrive in a
    different order (hand-built, schema-evolved parquet) cannot get
    width/height silently swapped by positional pairing. The
    struct-level validity mask is propagated: a row whose media_meta
    IS NULL stays null instead of becoming a fabricated non-null
    struct (the mapInPandas-era code failed loudly on such rows; the
    Arrow rebuild must not silently invent metadata for them)."""
    fmt = meta_arr.field("format").cast(pa.string())
    children = [fmt, byte_len.cast(pa.int64()), width.cast(pa.int32()),
                height.cast(pa.int32()), n_frames.cast(pa.int32())]
    mask = meta_arr.is_null() if meta_arr.null_count else None
    return pa.StructArray.from_arrays(
        children,
        fields=[pa.field("format", pa.string()),
                pa.field("byte_len", pa.int64()),
                pa.field("width", pa.int32()),
                pa.field("height", pa.int32()),
                pa.field("n_frames", pa.int32())],
        mask=mask)


def _fake_dims(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a real decode: dimensions derived
    from a sha256 digest of the payload — sha256 (not blake2) so any
    other engine (the DuckDB oracle included) can reproduce the fake
    decode byte-for-byte from the same payload."""
    d = hashlib.sha256(payload).digest()
    width = 16 + d[0] % 240
    height = 16 + d[1] % 240
    n_frames = 1 + d[2] % 30
    return width, height, n_frames


def _pil_decoder():
    """Build the payload → (width, height, n_frames) callable from
    Pillow, verifying the import at DISPATCH time (on the driver) so a
    missing codec library fails fast with the dependency named,
    instead of surfacing as per-task executor errors."""
    import importlib
    try:
        importlib.import_module("PIL.Image")
    except ImportError as e:
        raise NotImplementedError(
            "real media decoding requires Pillow (PIL.Image) — install "
            "'Pillow' or pass a custom decoder; the deterministic fake "
            "decode (real_decode=False) remains the testable path"
        ) from e

    def decode_one(payload: bytes) -> tuple[int, int, int]:
        # imported inside the closure: executors re-import on their
        # own interpreters when the UDF deserializes
        import io

        from PIL import Image
        with Image.open(io.BytesIO(payload)) as img:
            return (int(img.width), int(img.height),
                    int(getattr(img, "n_frames", 1)))

    return decode_one


def decode_media(df: DataFrame, real_decode: bool = False,
                 decoder=None, on_error: str | None = None) -> DataFrame:
    """Fill width/height/n_frames via mapInArrow over (media_id,
    media, media_meta).

    Any column beyond the media triple is treated as a row-aligned
    sidecar and carried into the output unchanged with its exact Arrow
    type (see attach_media ``keep``). Before round 11 extra columns
    were silently dropped by an internal ``.select`` — callers that
    relied on that pruning must select the triple themselves.

    A row whose ``media_meta`` IS NULL (possible after outer joins —
    attach_media itself never emits one) stays null: the struct's
    validity mask is propagated through the rebuild, never replaced
    with fabricated dimensions.

    ``real_decode=True`` decodes with Pillow when importable (raises
    NotImplementedError naming the missing dependency otherwise);
    ``decoder`` overrides the per-payload callable
    (bytes → (width, height, n_frames)) — the seam for soundfile /
    ffmpeg / a test double. The default path produces deterministic
    sha256-derived fake dimensions so pipelines stay end-to-end
    testable without codec libraries.

    ``on_error``: ``"null"`` turns a payload the decoder raises on —
    corrupt bytes, truncated file, wrong format — into null dimensions
    instead of failing the task (and, after retries, a 100 TB job);
    each failing batch logs one warning with its failure count so a
    SYSTEMATIC defect (missing executor-side codec) stays visible in
    executor logs, not silently all-null. ``"raise"`` propagates the
    first error. The default depends on where the decoder came from:
    a library decoder (``real_decode=True``) defaults to ``"null"``
    (corrupt files in a 100 TB corpus are data, not bugs), while an
    INJECTED ``decoder`` defaults to ``"raise"`` so a programming
    error in new decoder code (wrong arity TypeError, NameError) fails
    fast instead of silently becoming an all-null column — pass
    ``on_error="null"`` explicitly once the decoder is trusted.
    Callers in null mode should gate on the null-dim rate downstream."""
    if on_error is None:
        on_error = "raise" if decoder is not None else "null"
    if on_error not in ("null", "raise"):
        raise ValueError(f"unknown on_error: {on_error!r}")
    if real_decode and decoder is None:
        decoder = _pil_decoder()
    if decoder is not None:
        inner = decoder
        strict = on_error == "raise"

        def dims(payload):
            # Null/empty payloads are undecodable in any mode — null
            # dims rather than feeding b"" to a real codec.
            if not payload:
                return (None, None, None)
            return inner(payload)
    else:
        inner = None
        strict = True  # the fake path never raises

        def dims(payload):
            # null/empty payloads are undecodable on EVERY path — the
            # fake path previously fabricated sha256(b"")-derived dims
            # for them, diverging from the real/injected decoders'
            # null-dims contract
            if not payload:
                return (None, None, None)
            return _fake_dims(payload)

    # media_id keeps its own type: attach_media accepts any id column
    # (string/UUID ids included), so a hardcoded bigint here would die
    # at Arrow conversion on the executors
    extras = _sidecars(df)
    aliases = _dotted_aliases(df, extras)
    out_schema = _media_out_schema(df, extras, aliases)

    # mapInArrow, not mapInPandas: only media_meta is rebuilt — the
    # payloads and every sidecar column pass through as the ORIGINAL
    # Arrow arrays, so sidecar types survive exactly (mapInPandas
    # widened a bigint-with-null batch to float64, silently corrupting
    # values above 2^53 — this repo's own testdata carries 2^62-scale
    # ids) and the binary payloads skip a pandas copy entirely. The
    # new struct reuses the UNCHANGED children (format, byte_len)
    # zero-copy; only width/height/n_frames are materialized, so the
    # per-row Python work is exactly the decode callable.
    def decode(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            meta_idx = batch.schema.get_field_index("media_meta")
            meta_arr = batch.column(meta_idx)
            payloads = batch.column(
                batch.schema.get_field_index("media")).to_pylist()
            ws, hs, nfs = [], [], []
            n_err, last_err = 0, None
            for payload in payloads:
                payload = payload if payload is not None else b""
                if strict:
                    w, h, nf = dims(payload)
                else:
                    try:
                        w, h, nf = dims(payload)
                    except Exception as e:  # noqa: BLE001 — see on_error
                        n_err += 1
                        last_err = f"{type(e).__name__}: {e}"
                        w = h = nf = None
                ws.append(w)
                hs.append(h)
                nfs.append(nf)
            if n_err:
                # one line per failing batch in the EXECUTOR log: a
                # systematic defect (wrong-arity decoder, missing
                # executor-side codec) shows up as every-batch
                # warnings, not a silently all-null output
                import logging
                logging.getLogger(__name__).warning(
                    "decode_media: %d/%d payloads undecodable in this "
                    "batch (last error: %s)", n_err, batch.num_rows,
                    last_err)
            meta = _rebuild_meta(meta_arr, meta_arr.field("byte_len"),
                                 pa.array(ws, type=pa.int32()),
                                 pa.array(hs, type=pa.int32()),
                                 pa.array(nfs, type=pa.int32()))
            yield batch.set_column(
                meta_idx, pa.field("media_meta", meta.type), meta)

    return _through_arrow(df, extras, decode, out_schema, aliases)


def media_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Deterministic pseudo-embedding per payload (blake2-seeded unit
    vector) via pandas_udf — the production body swaps in a real
    encoder; batch shape, schema, and normalization stay identical."""

    @F.pandas_udf("array<double>")
    def feats(payloads: pd.Series) -> pd.Series:
        out = []
        for p in payloads:
            p = bytes(p) if p is not None else b""
            seed = int.from_bytes(
                hashlib.blake2b(p, digest_size=8).digest(), "big")
            rng = np.random.default_rng(seed)
            v = rng.standard_normal(dim)
            out.append((v / np.linalg.norm(v)).tolist())
        return pd.Series(out)

    return df.select("media_id", feats(F.col("media")).alias("features"))


def sample_frames(df: DataFrame, every_n: int = 5) -> DataFrame:
    """Frame sampling plumbing: one output row per sampled frame index
    (media_id, frame_idx, frame binary-stub). Real frame extraction
    plugs into the same explode shape."""
    # a sidecar named frame_idx/frame_stub would silently collide with
    # this stage's output columns (duplicate names downstream) — fail
    # by name here instead; pipelines that never sample frames may
    # carry such sidecars freely
    clash = {"frame_idx", "frame_stub"} & {f.name for f in _sidecars(df)}
    if clash:
        raise ValueError(
            f"sample_frames: sidecar columns {sorted(clash)} collide "
            "with the frame output columns (frame_idx/frame_stub) — "
            "rename them before sampling frames")
    # a raw (media_id, media) frame has no metadata yet — run the
    # attach→decode steps so n_frames exists (the old conditional
    # assigned df on both branches and then failed resolving
    # media_meta.n_frames)
    if "media_meta" not in df.columns:
        # keep= the raw frame's sidecar columns too — otherwise this
        # convenience branch silently drops what the main path passes
        # through
        df = decode_media(attach_media(
            df, "media_id", "media",
            keep=[c for c in df.columns
                  if c not in ("media_id", "media")]))
    n_frames = F.col("media_meta.n_frames")
    # an undecodable item (null n_frames — null/corrupt payload) has
    # no frames to sample: explode(null) drops it. The bare
    # greatest(n_frames - 1, 0) fabricated one frame for such items
    # because Spark's greatest SKIPS null arguments.
    idx = F.when(n_frames >= 1,
                 F.sequence(F.lit(0), n_frames - 1, F.lit(every_n)))
    extras = [f.name for f in _sidecars(df)]
    return (df
            .select("media_id", F.explode(idx).alias("frame_idx"),
                    F.sha2(F.concat(F.col("media"),
                                    F.lit(":"),
                                    F.col("frame_idx").cast("string")
                                    .cast("binary")), 256)
                    .alias("frame_stub"),
                    *[_qcol(c) for c in extras]))


def resize_media(df: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Resize plumbing over decoded media: mapInArrow batch in, one
    row per item out with media_meta.width/height set to the target.
    Columns beyond the media triple pass through as exact-typed
    sidecars, same contract as decode_media (callers needing the old
    pre-r11 pruning must select the triple themselves).
    The pixel work is the documented stub (same seam as decode_media —
    no image libs in this container): the output payload is a
    deterministic blake2 digest of (payload, target dims) standing in
    for the resampled buffer, so downstream operators see a stable,
    content-addressed binary. Swap the digest for PIL's
    ``Image.resize`` bytes in production; schema, batch shape and
    column pruning are identical."""
    extras = _sidecars(df)
    aliases = _dotted_aliases(df, extras)
    out_schema = _media_out_schema(df, extras, aliases)

    # mapInArrow for the same reason as decode_media: media/media_meta
    # are rebuilt, media_id and every sidecar pass through as the
    # original Arrow arrays with exact types. Unchanged struct
    # children (format, n_frames) are reused zero-copy; width/height/
    # byte_len are constants, so the per-row Python work is exactly
    # one blake2b.
    def resize(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        suffix = f":{width}x{height}".encode()
        for batch in batches:
            media_idx = batch.schema.get_field_index("media")
            meta_idx = batch.schema.get_field_index("media_meta")
            meta_arr = batch.column(meta_idx)
            payloads = [
                hashlib.blake2b(
                    (p if p is not None else b"") + suffix,
                    digest_size=_RESIZE_DIGEST_SIZE).digest()
                for p in batch.column(media_idx).to_pylist()]
            n = batch.num_rows
            meta = _rebuild_meta(
                meta_arr,
                pa.array([_RESIZE_DIGEST_SIZE] * n, type=pa.int64()),
                pa.array([width] * n, type=pa.int32()),
                pa.array([height] * n, type=pa.int32()),
                meta_arr.field("n_frames"))
            out = batch.set_column(
                media_idx, batch.schema.field(media_idx),
                pa.array(payloads, type=batch.column(media_idx).type))
            yield out.set_column(
                meta_idx, pa.field("media_meta", meta.type), meta)

    return _through_arrow(df, extras, resize, out_schema, aliases)
