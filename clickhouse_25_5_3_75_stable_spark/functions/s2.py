"""S2 cell-geometry family — exact, from the published S2 geometry
model (SURVEY §2.8 geo; reference /root/reference/src/Functions/
geoToS2.cpp, s2ToGeo.cpp, s2GetNeighbors.cpp, s2CellsIntersect.cpp,
s2CapContains.cpp, s2CapUnion.cpp, s2RectAdd.cpp, s2RectContains.cpp,
s2RectUnion.cpp, s2RectIntersection.cpp).

The reference links google/s2geometry (Apache-2.0) and exposes thin
wrappers: geoToS2 = S2CellId(S2LatLng::FromDegrees(lat, lon)) — the
LEAF (level-30) cell of the point; s2ToGeo = cell-center lat/lng;
s2GetNeighbors = GetEdgeNeighbors (down/right/up/left, wrapped across
cube-face boundaries); s2CellsIntersect = leaf-range overlap;
s2Cap* / s2Rect* operate on caps (center point id + radius degrees)
and S2LatLngRect lat/lng intervals whose corners travel as point ids.

This module is an independent transcription of that published model —
the cube-face projection (quadratic UV<->ST), the per-face Hilbert
curve with the 4-level lookup tables generated from the spec's
position/orientation arrays, leaf encoding ``face<<60 | pos | 1`` —
the same dual-transcription tier as cityhash.py / h3.py.  No geo
libraries are involved; everything is float64 + uint64 bit math.

UInt64 transport: cell ids are BIGINT two's-complement bit patterns
(faces 4-5 come out negative), the repo-wide UInt64 convention set by
the hash family.  NULL in -> NULL out (the reference throws on NULLs
it can't reach; Spark's null propagation is our documented stance).

Validation (tests/test_s2.py): ClickHouse's own published doc
examples (geoToS2(37.79506683, 55.71290588) = 4704772434919038107 and
the s2ToGeo round-trip) plus structural properties: geoToS2->s2ToGeo
re-encodes to the same leaf; the 4 edge neighbors are distinct valid
cells adjacent by construction; face cells wrap to the correct
adjacent faces; intersects is reflexive/symmetric and agrees with
prefix containment; cap/rect algebra (union monotone, contains
consistent with distance).

Execution shape: geoToS2 / s2ToGeo / intersects / capContains are
Arrow-batched numpy over the full batch (the 100 TB sharding path —
one table-lookup Hilbert loop of 8 iterations per batch, no per-row
Python); neighbors, cap union and the rect ops run their *_py
reference per row for the branchy S1Interval algebra (boundary-heavy,
never a scan hot path). Their UDFs are rows of functions/udfs.py.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

_MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP = 0x01
_INVERT = 0x02
_MAX_SIZE = 1 << _MAX_LEVEL          # kMaxSize == kLimitIJ == 2^30
_MAX_SITI = 1 << (_MAX_LEVEL + 1)    # 2^31

# Hilbert sub-cell traversal orders and orientation deltas — the four
# published arrays of the S2 spec ("ij" = i*2+j sub-cell coordinate).
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENT = (_SWAP, 0, 0, _INVERT + _SWAP)

# 10-bit lookup tables: "iiiijjjjoo" -> "ppppppppoo" and inverse.
_LOOKUP_POS = np.zeros(1 << 10, dtype=np.uint16)
_LOOKUP_IJ = np.zeros(1 << 10, dtype=np.uint16)


def _init_tables() -> None:
    def rec(level: int, i: int, j: int, orig: int, pos: int, orient: int):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            _LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orient
            _LOOKUP_IJ[(pos << 2) + orig] = (ij << 2) + orient
            return
        r = _POS_TO_IJ[orient]
        for idx in range(4):
            rec(level + 1, (i << 1) + (r[idx] >> 1), (j << 1) + (r[idx] & 1),
                orig, (pos << 2) + idx, orient ^ _POS_TO_ORIENT[idx])

    for o in (0, _SWAP, _INVERT, _SWAP | _INVERT):
        rec(0, 0, 0, o, 0, o)


_init_tables()


# ---------------------------------------------------------------------------
# Scalar Python reference (tests, wrap fallbacks, rect/cap algebra)
# ---------------------------------------------------------------------------

def from_face_ij_py(face: int, i: int, j: int) -> int:
    """Leaf cell id (uint64) from face + 30-bit (i, j)."""
    n = face << 60
    bits = face & _SWAP
    for k in range(7, -1, -1):
        bits += ((i >> (k * 4)) & 15) << 6
        bits += ((j >> (k * 4)) & 15) << 2
        bits = int(_LOOKUP_POS[bits])
        n |= (bits >> 2) << (k * 8)
        bits &= _SWAP | _INVERT
    return ((n << 1) + 1) & 0xFFFFFFFFFFFFFFFF


def to_face_ij_py(cid: int) -> tuple[int, int, int]:
    face = (cid >> 61) & 7
    bits = face & _SWAP
    i = j = 0
    for k in range(7, -1, -1):
        nbits = 2 if k == 7 else 4
        bits += ((cid >> (k * 8 + 1)) & ((1 << (2 * nbits)) - 1)) << 2
        bits = int(_LOOKUP_IJ[bits])
        i += (bits >> 6) << (k * 4)
        j += ((bits >> 2) & 15) << (k * 4)
        bits &= _SWAP | _INVERT
    return face, i, j


def s2_level_py(cid: int) -> int:
    lsb = cid & (-cid & 0xFFFFFFFFFFFFFFFF)
    return _MAX_LEVEL - ((lsb.bit_length() - 1) >> 1)


def s2_is_valid_py(cid: int) -> bool:
    face = (cid >> 61) & 7
    lsb = cid & (-cid & 0xFFFFFFFFFFFFFFFF)
    return face < 6 and bool(lsb & 0x1555555555555555)


def s2_parent_py(cid: int, level: int) -> int:
    new_lsb = 1 << (2 * (_MAX_LEVEL - level))
    return (cid & ((-new_lsb) & 0xFFFFFFFFFFFFFFFF)) | new_lsb


def _uv_to_st(u: float) -> float:
    if u >= 0:
        return 0.5 * math.sqrt(1 + 3 * u)
    return 1 - 0.5 * math.sqrt(1 - 3 * u)


def _st_to_uv(s: float) -> float:
    if s >= 0.5:
        return (1.0 / 3.0) * (4 * s * s - 1)
    return (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s))


def _st_to_ij(s: float) -> int:
    # FastIntRound == lrint == round-half-even
    v = _MAX_SIZE * s - 0.5
    r = math.floor(v)
    frac = v - r
    if frac > 0.5 or (frac == 0.5 and (r & 1)):
        r += 1
    return max(0, min(_MAX_SIZE - 1, int(r)))


def _face_uv_to_xyz(face: int, u: float, v: float):
    if face == 0:
        return (1.0, u, v)
    if face == 1:
        return (-u, 1.0, v)
    if face == 2:
        return (-u, -v, 1.0)
    if face == 3:
        return (-1.0, -v, -u)
    if face == 4:
        return (v, -1.0, -u)
    return (v, u, -1.0)


def _xyz_to_face_uv(p) -> tuple[int, float, float]:
    ax, ay, az = abs(p[0]), abs(p[1]), abs(p[2])
    face = (0 if ax > az else 2) if ax > ay else (1 if ay > az else 2)
    if p[face] < 0:
        face += 3
    if face == 0:
        u, v = p[1] / p[0], p[2] / p[0]
    elif face == 1:
        u, v = -p[0] / p[1], p[2] / p[1]
    elif face == 2:
        u, v = -p[0] / p[2], -p[1] / p[2]
    elif face == 3:
        u, v = p[2] / p[0], p[1] / p[0]
    elif face == 4:
        u, v = p[2] / p[1], -p[0] / p[1]
    else:
        u, v = -p[1] / p[2], -p[0] / p[2]
    return face, u, v


def geo_to_s2_py(lon: float, lat: float) -> int:
    """geoToS2(lon, lat) -> leaf cell id (reference geoToS2.cpp:128-141:
    S2LatLng::FromDegrees(lat, lon) -> S2CellId)."""
    phi = math.radians(lat)
    theta = math.radians(lon)
    cosphi = math.cos(phi)
    p = (math.cos(theta) * cosphi, math.sin(theta) * cosphi, math.sin(phi))
    face, u, v = _xyz_to_face_uv(p)
    return from_face_ij_py(face, _st_to_ij(_uv_to_st(u)), _st_to_ij(_uv_to_st(v)))


def _center_xyz_py(cid: int):
    """Raw (unnormalized) center point of a cell id."""
    face, i, j = to_face_ij_py(cid)
    if cid & 1:
        delta = 1
    else:
        # signed cast of the low 32 bits is irrelevant here: only bit 2
        delta = 2 if ((i ^ (cid >> 2)) & 1) else 0
    si, ti = 2 * i + delta, 2 * j + delta
    u = _st_to_uv(si / _MAX_SITI)
    v = _st_to_uv(ti / _MAX_SITI)
    return _face_uv_to_xyz(face, u, v)


def s2_to_geo_py(cid: int) -> tuple[float, float]:
    """(lon_degrees, lat_degrees) of the cell center (s2ToGeo.cpp)."""
    x, y, z = _center_xyz_py(cid)
    lat = math.atan2(z, math.hypot(x, y))
    lon = math.atan2(y, x)
    return math.degrees(lon), math.degrees(lat)


def _normalize(p):
    n = math.sqrt(p[0] * p[0] + p[1] * p[1] + p[2] * p[2])
    return (p[0] / n, p[1] / n, p[2] / n)


def _from_face_ij_wrap_py(face: int, i: int, j: int) -> int:
    """Leaf cell just across a face boundary (linear ST projection on
    the wrap path — deliberate in the published model)."""
    i = max(-1, min(_MAX_SIZE, i))
    j = max(-1, min(_MAX_SIZE, j))
    scale = 1.0 / _MAX_SIZE
    limit = 1.0 + 2.220446049250313e-16
    u = max(-limit, min(limit, scale * (2 * (i - _MAX_SIZE // 2) + 1)))
    v = max(-limit, min(limit, scale * (2 * (j - _MAX_SIZE // 2) + 1)))
    face2, u2, v2 = _xyz_to_face_uv(_face_uv_to_xyz(face, u, v))
    return from_face_ij_py(face2, _st_to_ij(0.5 * (u2 + 1)), _st_to_ij(0.5 * (v2 + 1)))


def _from_face_ij_same_py(face: int, i: int, j: int, same: bool) -> int:
    if same:
        return from_face_ij_py(face, i, j)
    return _from_face_ij_wrap_py(face, i, j)


def s2_get_neighbors_py(cid: int) -> list[int]:
    """The 4 edge neighbors (down, right, up, left), at the cell's own
    level, wrapped across face boundaries (s2GetNeighbors.cpp)."""
    level = s2_level_py(cid)
    size = 1 << (_MAX_LEVEL - level)
    face, i, j = to_face_ij_py(cid)
    out = [
        _from_face_ij_same_py(face, i, j - size, j - size >= 0),
        _from_face_ij_same_py(face, i + size, j, i + size < _MAX_SIZE),
        _from_face_ij_same_py(face, i, j + size, j + size < _MAX_SIZE),
        _from_face_ij_same_py(face, i - size, j, i - size >= 0),
    ]
    return [s2_parent_py(n, level) for n in out]


def s2_cells_intersect_py(a: int, b: int) -> bool:
    la = a & (-a & 0xFFFFFFFFFFFFFFFF)
    lb = b & (-b & 0xFFFFFFFFFFFFFFFF)
    return (b - (lb - 1) <= a + (la - 1)) and (b + (lb - 1) >= a - (la - 1))


# --- caps ------------------------------------------------------------------

def _chord2_from_degrees(deg: float) -> float:
    if deg < 0:
        return -1.0
    length = 2 * math.sin(0.5 * min(math.pi, math.radians(deg)))
    return length * length


def s2_cap_contains_py(center_id: int, degrees: float, point_id: int) -> bool:
    """S2Cap(center.ToPoint(), degrees).Contains(point.ToPoint())
    (s2CapContains.cpp:150-153): chord-length comparison on unit
    vectors."""
    c = _normalize(_center_xyz_py(center_id))
    p = _normalize(_center_xyz_py(point_id))
    d2 = ((c[0] - p[0]) ** 2 + (c[1] - p[1]) ** 2 + (c[2] - p[2]) ** 2)
    return min(4.0, d2) <= _chord2_from_degrees(degrees)


def _angle_between(a, b) -> float:
    cx = a[1] * b[2] - a[2] * b[1]
    cy = a[2] * b[0] - a[0] * b[2]
    cz = a[0] * b[1] - a[1] * b[0]
    cross = math.sqrt(cx * cx + cy * cy + cz * cz)
    dot = a[0] * b[0] + a[1] * b[1] + a[2] * b[2]
    return math.atan2(cross, dot)


def _chord2_to_radians(length2: float) -> float:
    if length2 < 0:
        return -1.0
    return 2 * math.asin(0.5 * math.sqrt(min(4.0, length2)))


def s2_cap_union_py(c1: int, d1: float, c2: int, d2: float) -> tuple[int, float]:
    """Smallest cap containing both caps (s2CapUnion.cpp; S2Cap::Union):
    returns (center leaf id, radius degrees)."""
    r1, r2 = _chord2_from_degrees(d1), _chord2_from_degrees(d2)
    a, b = _normalize(_center_xyz_py(c1)), _normalize(_center_xyz_py(c2))
    if r1 < r2:  # keep the larger cap first
        a, b, r1, r2 = b, a, r2, r1
    if r1 >= 4.0 or r2 < 0:  # full wins; empty other is a no-op
        cen, rad2 = a, r1
    else:
        th1, th2 = _chord2_to_radians(r1), _chord2_to_radians(r2)
        dist = _angle_between(a, b)
        if th1 >= dist + th2:
            cen, rad2 = a, r1
        else:
            res_rad = 0.5 * (dist + th1 + th2)
            # point on the great circle a->b at angle (dist - th1 + th2)/2
            ang = 0.5 * (dist - th1 + th2)
            cx = a[1] * b[2] - a[2] * b[1]
            cy = a[2] * b[0] - a[0] * b[2]
            cz = a[0] * b[1] - a[1] * b[0]
            dirv = _normalize((cy * a[2] - cz * a[1],
                               cz * a[0] - cx * a[2],
                               cx * a[1] - cy * a[0]))
            cen = (math.cos(ang) * a[0] + math.sin(ang) * dirv[0],
                   math.cos(ang) * a[1] + math.sin(ang) * dirv[1],
                   math.cos(ang) * a[2] + math.sin(ang) * dirv[2])
            length = 2 * math.sin(0.5 * min(math.pi, res_rad))
            rad2 = length * length
    face, u, v = _xyz_to_face_uv(cen)
    cen_id = from_face_ij_py(face, _st_to_ij(_uv_to_st(u)), _st_to_ij(_uv_to_st(v)))
    return cen_id, math.degrees(_chord2_to_radians(rad2))


# --- S2LatLngRect algebra (lat: R1Interval, lng: S1Interval) ---------------

_PI = math.pi


def _latlng_of(cid: int) -> tuple[float, float]:
    """(lat_radians, lng_radians) of a cell center."""
    x, y, z = _center_xyz_py(cid)
    return math.atan2(z, math.hypot(x, y)), math.atan2(y, x)


def _s1_new(lo: float, hi: float) -> tuple[float, float]:
    if lo == -_PI and hi != _PI:
        lo = _PI
    if hi == -_PI and lo != _PI:
        hi = _PI
    return lo, hi


def _s1_is_empty(iv) -> bool:
    return iv[0] == _PI and iv[1] == -_PI


def _s1_fast_contains(iv, p: float) -> bool:
    lo, hi = iv
    if lo > hi:
        return (p >= lo or p <= hi) and not _s1_is_empty(iv)
    return lo <= p <= hi


def _s1_contains_pt(iv, p: float) -> bool:
    if p == -_PI:
        p = _PI
    return _s1_fast_contains(iv, p)


def _s1_positive_distance(a: float, b: float) -> float:
    d = b - a
    if d >= 0:
        return d
    return (b + _PI) - (a - _PI)


def _s1_add_point(iv, p: float):
    if p == -_PI:
        p = _PI
    if _s1_fast_contains(iv, p):
        return iv
    if _s1_is_empty(iv):
        return (p, p)
    if _s1_positive_distance(p, iv[0]) < _s1_positive_distance(iv[1], p):
        return (p, iv[1])
    return (iv[0], p)


def _s1_length(iv) -> float:
    length = iv[1] - iv[0]
    if length >= 0:
        return length
    length += 2 * _PI
    return length if length > 0 else -1.0


def _s1_contains_iv(x, y) -> bool:
    if x[0] > x[1]:  # x inverted
        if y[0] > y[1]:
            return y[0] >= x[0] and y[1] <= x[1]
        return (y[0] >= x[0] or y[1] <= x[1]) and not _s1_is_empty(x)
    if y[0] > y[1]:
        return (x[0] == -_PI and x[1] == _PI) or _s1_is_empty(y)
    return y[0] >= x[0] and y[1] <= x[1]


def _s1_union(x, y):
    if _s1_is_empty(y):
        return x
    if _s1_fast_contains(x, y[0]):
        if _s1_fast_contains(x, y[1]):
            if _s1_contains_iv(x, y):
                return x
            return (-_PI, _PI)
        return (x[0], y[1])
    if _s1_fast_contains(x, y[1]):
        return (y[0], x[1])
    if _s1_is_empty(x) or _s1_fast_contains(y, x[0]):
        return y
    if _s1_positive_distance(y[1], x[0]) < _s1_positive_distance(x[1], y[0]):
        return (y[0], x[1])
    return (x[0], y[1])


def _s1_intersection(x, y):
    if _s1_is_empty(y):
        return (_PI, -_PI)
    if _s1_fast_contains(x, y[0]):
        if _s1_fast_contains(x, y[1]):
            return y if _s1_length(y) < _s1_length(x) else x
        return (y[0], x[1])
    if _s1_fast_contains(x, y[1]):
        return (x[0], y[1])
    if _s1_fast_contains(y, x[0]):
        return x
    return (_PI, -_PI)


def _rect_from_ids(lo_id: int, hi_id: int):
    lat_lo, lng_lo = _latlng_of(lo_id)
    lat_hi, lng_hi = _latlng_of(hi_id)
    return (lat_lo, lat_hi), _s1_new(lng_lo, lng_hi)


def _rect_to_ids(lat, lng) -> tuple[int, int]:
    def enc(la, ln):
        cosla = math.cos(la)
        p = (math.cos(ln) * cosla, math.sin(ln) * cosla, math.sin(la))
        face, u, v = _xyz_to_face_uv(p)
        return from_face_ij_py(face, _st_to_ij(_uv_to_st(u)),
                               _st_to_ij(_uv_to_st(v)))

    return enc(lat[0], lng[0]), enc(lat[1], lng[1])


def s2_rect_add_py(lo_id: int, hi_id: int, point_id: int) -> tuple[int, int]:
    """S2LatLngRect(lo, hi).AddPoint(point) -> (lo, hi) ids
    (s2RectAdd.cpp:117-133)."""
    lat, lng = _rect_from_ids(lo_id, hi_id)
    plat, plng = _latlng_of(point_id)
    if lat[0] > lat[1]:  # empty lat interval -> collapses to the point
        lat = (plat, plat)
    else:
        lat = (min(lat[0], plat), max(lat[1], plat))
    lng = _s1_add_point(lng, plng)
    return _rect_to_ids(lat, lng)


def s2_rect_contains_py(lo_id: int, hi_id: int, point_id: int) -> bool:
    lat, lng = _rect_from_ids(lo_id, hi_id)
    plat, plng = _latlng_of(point_id)
    return lat[0] <= plat <= lat[1] and _s1_contains_pt(lng, plng)


def s2_rect_union_py(lo1, hi1, lo2, hi2) -> tuple[int, int]:
    lat1, lng1 = _rect_from_ids(lo1, hi1)
    lat2, lng2 = _rect_from_ids(lo2, hi2)
    if lat1[0] > lat1[1]:
        lat = lat2
    elif lat2[0] > lat2[1]:
        lat = lat1
    else:
        lat = (min(lat1[0], lat2[0]), max(lat1[1], lat2[1]))
    return _rect_to_ids(lat, _s1_union(lng1, lng2))


def s2_rect_intersection_py(lo1, hi1, lo2, hi2) -> tuple[int, int]:
    lat1, lng1 = _rect_from_ids(lo1, hi1)
    lat2, lng2 = _rect_from_ids(lo2, hi2)
    lat = (max(lat1[0], lat2[0]), min(lat1[1], lat2[1]))
    lng = _s1_intersection(lng1, lng2)
    if lat[0] > lat[1] or _s1_is_empty(lng):
        lat, lng = (1.0, 0.0), (_PI, -_PI)  # canonical Empty rect
    return _rect_to_ids(lat, lng)


# ---------------------------------------------------------------------------
# Vectorized numpy batch paths
# ---------------------------------------------------------------------------

def _from_face_ij_np(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Vectorized FromFaceIJ over uint64 arrays."""
    n = face.astype(np.uint64) << np.uint64(60)
    bits = (face & _SWAP).astype(np.uint64)
    i = i.astype(np.uint64)
    j = j.astype(np.uint64)
    for k in range(7, -1, -1):
        bits = bits + (((i >> np.uint64(k * 4)) & np.uint64(15)) << np.uint64(6))
        bits = bits + (((j >> np.uint64(k * 4)) & np.uint64(15)) << np.uint64(2))
        bits = _LOOKUP_POS[bits.astype(np.int64)].astype(np.uint64)
        n |= (bits >> np.uint64(2)) << np.uint64(k * 8)
        bits &= np.uint64(_SWAP | _INVERT)
    return (n << np.uint64(1)) + np.uint64(1)


def _to_face_ij_np(cid: np.ndarray):
    face = (cid >> np.uint64(61)) & np.uint64(7)
    bits = face & np.uint64(_SWAP)
    i = np.zeros(len(cid), dtype=np.uint64)
    j = np.zeros(len(cid), dtype=np.uint64)
    for k in range(7, -1, -1):
        nbits = 2 if k == 7 else 4
        mask = np.uint64((1 << (2 * nbits)) - 1)
        bits = bits + (((cid >> np.uint64(k * 8 + 1)) & mask) << np.uint64(2))
        bits = _LOOKUP_IJ[bits.astype(np.int64)].astype(np.uint64)
        i += (bits >> np.uint64(6)) << np.uint64(k * 4)
        j += ((bits >> np.uint64(2)) & np.uint64(15)) << np.uint64(k * 4)
        bits &= np.uint64(_SWAP | _INVERT)
    return face.astype(np.int64), i.astype(np.int64), j.astype(np.int64)


def _uv_to_st_np(u: np.ndarray) -> np.ndarray:
    # np.where evaluates both branches; one sqrt sees a negative operand
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1 + 3 * u),
                        1 - 0.5 * np.sqrt(1 - 3 * u))


def _st_to_uv_np(s: np.ndarray) -> np.ndarray:
    return np.where(s >= 0.5, (1.0 / 3.0) * (4 * s * s - 1),
                    (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s)))


def _st_to_ij_np(s: np.ndarray) -> np.ndarray:
    v = np.rint(_MAX_SIZE * s - 0.5)  # rint == lrint: half-to-even
    return np.clip(v, 0, _MAX_SIZE - 1).astype(np.int64)


def _geo_to_s2_np(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    phi = np.radians(lat)
    theta = np.radians(lon)
    cosphi = np.cos(phi)
    x = np.cos(theta) * cosphi
    y = np.sin(theta) * cosphi
    z = np.sin(phi)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face)
    # per-face u/v ratios (vectorized switch; np.select evaluates every
    # branch, so off-face divides can hit 0 — ignored, never selected)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y], default=-y / z)
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y], default=-x / z)
    i = _st_to_ij_np(_uv_to_st_np(u))
    j = _st_to_ij_np(_uv_to_st_np(v))
    return _from_face_ij_np(face.astype(np.uint64), i.astype(np.uint64),
                            j.astype(np.uint64))


def _center_xyz_np(cid: np.ndarray):
    face, i, j = _to_face_ij_np(cid)
    is_leaf = (cid & np.uint64(1)).astype(bool)
    flip = ((i ^ (cid >> np.uint64(2)).astype(np.int64)) & 1).astype(bool)
    delta = np.where(is_leaf, 1, np.where(flip, 2, 0))
    u = _st_to_uv_np((2 * i + delta) / _MAX_SITI)
    v = _st_to_uv_np((2 * j + delta) / _MAX_SITI)
    one = np.ones_like(u)
    x = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [one, -u, -u, -one, v], default=v)
    y = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [u, one, -v, -v, -one], default=u)
    z = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [v, v, one, -u, -u], default=-one)
    return x, y, z


def _s2_to_geo_np(cid: np.ndarray):
    x, y, z = _center_xyz_np(cid)
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    lon = np.degrees(np.arctan2(y, x))
    return lon, lat


# ---------------------------------------------------------------------------
# Arrow-batched kernels (their pandas UDFs are rows of functions/udfs.py;
# the per-row *_py functions above back the rest of the family there)
# ---------------------------------------------------------------------------

def _u64_series(s: pd.Series):
    """(null mask, uint64 values with 0 at nulls) — robust to int64,
    Decimal(20,0), and Python ints beyond 2^63: CH users pass unsigned
    cell-id literals through SQL, which Spark types as DECIMAL."""
    mask = s.notna().to_numpy()
    vals = np.zeros(len(s), dtype=np.uint64)
    if mask.any():
        vals[mask] = np.array(
            [int(v) & 0xFFFFFFFFFFFFFFFF for v in s[s.notna()]],
            dtype=np.uint64,
        )
    return mask, vals


def _geo_to_s2_fn(lo: pd.Series, la: pd.Series) -> pd.Series:
    mask = lo.notna() & la.notna()
    out = np.zeros(len(lo), dtype=np.int64)
    if mask.any():
        ids = _geo_to_s2_np(lo[mask].to_numpy(np.float64),
                            la[mask].to_numpy(np.float64))
        out[mask.to_numpy()] = ids.astype(np.int64)
    res = pd.Series(out)
    res[~mask.to_numpy()] = None
    return res


def _s2_to_geo_fn(c: pd.Series) -> pd.DataFrame:
    mask, ids = _u64_series(c)
    lon = np.full(len(c), np.nan)
    lat = np.full(len(c), np.nan)
    if mask.any():
        lo, la = _s2_to_geo_np(ids[mask])
        lon[mask] = lo
        lat[mask] = la
    df = pd.DataFrame({"lon": lon, "lat": lat})
    df.loc[~mask, :] = None
    return df


def _s2_intersect_fn(x: pd.Series, y: pd.Series) -> pd.Series:
    mx, xa = _u64_series(x)
    my, ya = _u64_series(y)
    mask = pd.Series(mx & my)
    la = xa & (np.uint64(0) - xa)
    lb = ya & (np.uint64(0) - ya)
    res = ((ya - (lb - np.uint64(1)) <= xa + (la - np.uint64(1)))
           & (ya + (lb - np.uint64(1)) >= xa - (la - np.uint64(1))))
    s = pd.Series(res.astype(object))
    s[~mask.to_numpy()] = None
    return s


def _s2_cap_contains_fn(c: pd.Series, d: pd.Series, p: pd.Series) -> pd.Series:
    mc, cu = _u64_series(c)
    mp, pu = _u64_series(p)
    cu[~mc] = 1
    pu[~mp] = 1
    mask = pd.Series(mc & mp & d.notna().to_numpy())
    cx, cy, cz = _center_xyz_np(cu)
    px, py, pz = _center_xyz_np(pu)
    cn = np.sqrt(cx * cx + cy * cy + cz * cz)
    pn = np.sqrt(px * px + py * py + pz * pz)
    cx, cy, cz = cx / cn, cy / cn, cz / cn
    px, py, pz = px / pn, py / pn, pz / pn
    d2 = (cx - px) ** 2 + (cy - py) ** 2 + (cz - pz) ** 2
    # degrees may arrive as Decimal objects from SQL literals
    deg = d.astype(float).fillna(0.0).to_numpy(np.float64)
    length = 2 * np.sin(0.5 * np.minimum(np.pi, np.radians(deg)))
    chord2 = np.where(deg < 0, -1.0, length * length)
    res = np.minimum(4.0, d2) <= chord2
    s = pd.Series(res.astype(object))
    s[~mask.to_numpy()] = None
    return s
