"""Pure-Python/numpy S2 cell-id math (no external s2 library).

Implements the public S2 geometry cell scheme (s2geometry.io; the same
algorithm as the open-source C++/Java `S2CellId.fromLatLng(...)
.parent(level).toToken()` used by the reference's S2CellTransformer,
/root/reference/sparkext-mllib/src/main/scala/org/apache/spark/ml/
feature/S2CellTransformer.scala:58-61):

  lat/lon → unit XYZ → cube face + (u,v) → quadratic (s,t) → 30-bit
  (i,j) → Hilbert-curve position → 64-bit cell id → parent(level) →
  hex token (trailing zeros stripped).

Three surfaces:
- scalar ``cell_token(lat, lon, level)`` — reference/tests;
- vectorized ``cell_tokens(lat_arr, lon_arr, level)`` over numpy
  arrays (the 8-round Hilbert loop runs as whole-array ops, ~10⁷
  rows/s/core);
- ``s2_token(lat, lon, level)``, the one Arrow UDF over
  ``cell_tokens`` — shared by ``S2CellTransformer`` and the SQL
  function ``register_sql_functions`` registers.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

LOOKUP_BITS = 4
SWAP_MASK = 1
INVERT_MASK = 2
MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61

# Hilbert curve traversal tables (canonical S2 constants).
POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK)

_LOOKUP_POS = [0] * (1 << (2 * LOOKUP_BITS + 2))
_LOOKUP_IJ = [0] * (1 << (2 * LOOKUP_BITS + 2))


def _init_lookup(level: int, i: int, j: int, orig_orientation: int,
                 pos: int, orientation: int) -> None:
    if level == LOOKUP_BITS:
        ij = (i << LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig_orientation] = (pos << 2) + orientation
        _LOOKUP_IJ[(pos << 2) + orig_orientation] = (ij << 2) + orientation
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = POS_TO_IJ[orientation]
    for index in range(4):
        ij = r[index]
        _init_lookup(level, i + (ij >> 1), j + (ij & 1), orig_orientation,
                     pos + index, orientation ^ POS_TO_ORIENTATION[index])


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)

LOOKUP_POS_NP = np.asarray(_LOOKUP_POS, dtype=np.int64)


# --- scalar path -----------------------------------------------------------

def _st_from_uv(u: float) -> float:
    # S2_QUADRATIC_PROJECTION
    if u >= 0:
        return 0.5 * math.sqrt(1 + 3 * u)
    return 1 - 0.5 * math.sqrt(1 - 3 * u)


def _ij_from_st(s: float) -> int:
    return max(0, min((1 << MAX_LEVEL) - 1, int(math.floor(s * (1 << MAX_LEVEL)))))


def _xyz_to_face_uv(x: float, y: float, z: float) -> tuple[int, float, float]:
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax > ay:
        face = 0 if ax > az else 2
    else:
        face = 1 if ay > az else 2
    if (x, y, z)[face] < 0:
        face += 3
    if face == 0:
        return 0, y / x, z / x
    if face == 1:
        return 1, -x / y, z / y
    if face == 2:
        return 2, -x / z, -y / z
    if face == 3:
        return 3, z / x, y / x
    if face == 4:
        return 4, z / y, -x / y
    return 5, -y / z, -x / z


def cell_id_from_lat_lng(lat_deg: float, lon_deg: float) -> int:
    """Level-30 (leaf) S2 cell id for a lat/lon in degrees."""
    phi, theta = math.radians(lat_deg), math.radians(lon_deg)
    cosphi = math.cos(phi)
    x, y, z = cosphi * math.cos(theta), cosphi * math.sin(theta), math.sin(phi)
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _ij_from_st(_st_from_uv(u))
    j = _ij_from_st(_st_from_uv(v))

    n = face << (POS_BITS - 1)
    bits = face & SWAP_MASK
    mask = (1 << LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * LOOKUP_BITS)) & mask) << (LOOKUP_BITS + 2)
        bits += ((j >> (k * LOOKUP_BITS)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        n |= (bits >> 2) << (k * 2 * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    return (n * 2 + 1) & 0xFFFFFFFFFFFFFFFF


def parent_id(cell_id: int, level: int) -> int:
    """Ancestor cell id at the given level (0..30)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError("level must be in [0, 30]")
    new_lsb = 1 << (2 * (MAX_LEVEL - level))
    return (cell_id & (~(new_lsb - 1) & 0xFFFFFFFFFFFFFFFF)) | new_lsb


def token(cell_id: int) -> str:
    """Hex token: 16 hex digits, trailing zeros stripped ('X' if none)."""
    s = format(cell_id, "016x").rstrip("0")
    return s if s else "X"


def cell_token(lat_deg: float, lon_deg: float, level: int) -> str:
    return token(parent_id(cell_id_from_lat_lng(lat_deg, lon_deg), level))


# --- vectorized path -------------------------------------------------------

def cell_tokens(lat: np.ndarray, lon: np.ndarray,
                level: int) -> list[str | None]:
    """Vectorized cell tokens for degree arrays (the pandas_udf body).

    NaN coordinates (null lat/lon upstream) yield ``None`` — they must
    not be laundered into a legitimate-looking face-0 token.
    """
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError("level must be in [0, 30]")
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    theta = np.radians(np.asarray(lon, dtype=np.float64))
    bad = np.isnan(phi) | np.isnan(theta)
    if bad.any():
        # compute on a safe placeholder, null the outputs afterwards
        phi = np.where(bad, 0.0, phi)
        theta = np.where(bad, 0.0, theta)
    cosphi = np.cos(phi)
    x = cosphi * np.cos(theta)
    y = cosphi * np.sin(theta)
    z = np.sin(phi)

    xyz = np.stack([x, y, z])           # (3, n)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    # Same tie-break as the scalar _xyz_to_face_uv (and canonical S2
    # largestAbsComponent): ties prefer the LATER axis — np.argmax
    # would pick the first and diverge on exact cube-corner ties.
    face = np.where(ax > ay, np.where(ax > az, 0, 2),
                    np.where(ay > az, 1, 2))
    comp = np.take_along_axis(xyz, face[None, :], axis=0)[0]
    face = np.where(comp < 0, face + 3, face)

    # u/v per face (S2 canonical projections)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
            [y / x, -x / y, -x / z, z / x, z / y, -y / z])
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
            [z / x, z / y, -y / z, y / x, -x / y, -x / z])

    def st(q):
        # np.where evaluates both branches; each sqrt is only valid on
        # its own sign's domain, so suppress the spurious warning.
        with np.errstate(invalid="ignore"):
            return np.where(q >= 0, 0.5 * np.sqrt(1 + 3 * q),
                            1 - 0.5 * np.sqrt(1 - 3 * q))

    lim = (1 << MAX_LEVEL) - 1
    i = np.clip(np.floor(st(u) * (1 << MAX_LEVEL)), 0, lim).astype(np.int64)
    j = np.clip(np.floor(st(v) * (1 << MAX_LEVEL)), 0, lim).astype(np.int64)

    n = (face.astype(np.uint64)) << np.uint64(POS_BITS - 1)
    bits = (face & SWAP_MASK).astype(np.int64)
    mask = (1 << LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits = bits + (((i >> (k * LOOKUP_BITS)) & mask) << (LOOKUP_BITS + 2))
        bits = bits + (((j >> (k * LOOKUP_BITS)) & mask) << 2)
        bits = LOOKUP_POS_NP[bits]
        n |= (bits >> 2).astype(np.uint64) << np.uint64(k * 2 * LOOKUP_BITS)
        bits = bits & (SWAP_MASK | INVERT_MASK)
    ids = (n << np.uint64(1)) + np.uint64(1)

    new_lsb = np.uint64(1 << (2 * (MAX_LEVEL - level)))
    mask64 = np.uint64(0xFFFFFFFFFFFFFFFF)
    parents = (ids & ((~(new_lsb - np.uint64(1))) & mask64)) | new_lsb
    return [None if b else token(int(p)) for p, b in zip(parents, bad)]


# no type hints: PEP-563 string annotations (module-level future
# import) are unresolvable by pyspark's hint inspection
@F.pandas_udf(StringType())
def s2_token(lat, lon, level):
    """Arrow UDF: S2 cell token per row; ``level`` may be a per-row
    column (one vectorized pass per distinct level, so a literal level
    is one pass). Null/NaN coordinates or a null level → NULL."""
    out = pd.Series([None] * len(lat), dtype=object)
    la = lat.to_numpy(dtype=np.float64, na_value=np.nan)
    lo = lon.to_numpy(dtype=np.float64, na_value=np.nan)
    for lvl in pd.unique(level.dropna()):
        m = (level == lvl).to_numpy()
        out[m] = cell_tokens(la[m], lo[m], int(lvl))
    return out
