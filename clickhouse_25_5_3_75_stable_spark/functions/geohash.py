"""Geohash encode/decode — numpy-vectorized Pandas UDFs.

Reference: src/Functions/geohashEncode.cpp / geohashDecode.cpp (the
public geohash algorithm: alternate-bit binary subdivision of the
lon/lat intervals, 5 bits per base32 character). No external geo
library is needed — unlike h3/s2 (which stay excluded), geohash is
~40 lines of bit math, vectorized here across the Arrow batch: the
Python loop is over BIT POSITIONS (≤60), never rows.

At 100 TB these run as any other pandas-UDF projection: Arrow batches,
no shuffle, linear scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_MAX_PRECISION = 12

# byte value -> 5-bit value (or -1)
_DECODE_LUT = np.full(256, -1, dtype=np.int8)
for _i, _c in enumerate(_BASE32):
    _DECODE_LUT[ord(_c)] = _i


def _encode_np(lon: np.ndarray, lat: np.ndarray, precision: int) -> list[str]:
    n = lon.shape[0]
    nbits = precision * 5
    lon_lo = np.full(n, -180.0)
    lon_hi = np.full(n, 180.0)
    lat_lo = np.full(n, -90.0)
    lat_hi = np.full(n, 90.0)
    vals = np.zeros((n, precision), dtype=np.int32)
    for i in range(nbits):
        if i % 2 == 0:  # even bit: longitude
            mid = (lon_lo + lon_hi) / 2.0
            bit = lon >= mid
            lon_lo = np.where(bit, mid, lon_lo)
            lon_hi = np.where(bit, lon_hi, mid)
        else:  # odd bit: latitude
            mid = (lat_lo + lat_hi) / 2.0
            bit = lat >= mid
            lat_lo = np.where(bit, mid, lat_lo)
            lat_hi = np.where(bit, lat_hi, mid)
        vals[:, i // 5] = (vals[:, i // 5] << 1) | bit
    chars = np.frombuffer(_BASE32.encode(), dtype=np.uint8)[vals]
    return [bytes(row).decode() for row in chars]


def _decode_np(codes: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    s = codes.fillna("").astype(str).str.slice(0, _MAX_PRECISION)
    lens = s.str.len().to_numpy()
    n = len(s)
    # fixed-width byte matrix, padded with '0' (harmless: masked below)
    padded = s.str.pad(_MAX_PRECISION, side="right", fillchar="0")
    mat = (
        np.frombuffer("".join(padded.tolist()).encode("latin1"), dtype=np.uint8)
        .reshape(n, _MAX_PRECISION)
    )
    five = _DECODE_LUT[mat].astype(np.int32)  # (n, 12), -1 for invalid
    lon_lo = np.full(n, -180.0)
    lon_hi = np.full(n, 180.0)
    lat_lo = np.full(n, -90.0)
    lat_hi = np.full(n, 90.0)
    for i in range(_MAX_PRECISION * 5):
        ci, bi = i // 5, 4 - (i % 5)
        active = ci < lens
        bit = ((five[:, ci] >> bi) & 1).astype(bool) & active
        keep = ~active
        if i % 2 == 0:
            mid = (lon_lo + lon_hi) / 2.0
            lon_lo = np.where(keep, lon_lo, np.where(bit, mid, lon_lo))
            lon_hi = np.where(keep, lon_hi, np.where(bit, lon_hi, mid))
        else:
            mid = (lat_lo + lat_hi) / 2.0
            lat_lo = np.where(keep, lat_lo, np.where(bit, mid, lat_lo))
            lat_hi = np.where(keep, lat_hi, np.where(bit, lat_hi, mid))
    return (lon_lo + lon_hi) / 2.0, (lat_lo + lat_hi) / 2.0


def _precision(p: pd.Series, default: int) -> int:
    """The batch's precision: its first value (the reference requires a
    constant), NULL for the default, clamped to 1..12."""
    v = p.iloc[0] if len(p) else None
    return max(1, min(_MAX_PRECISION, default if v is None or pd.isna(v) else int(v)))


def _encode_fn(lon: pd.Series, lat: pd.Series, precision: pd.Series) -> pd.Series:
    """geohashEncode(longitude, latitude[, precision]) -> String."""
    return pd.Series(_encode_np(lon.to_numpy(dtype=np.float64),
                                lat.to_numpy(dtype=np.float64), _precision(precision, 12)))


def _decode_fn(codes: pd.Series) -> pd.DataFrame:
    """geohashDecode(str) -> (longitude, latitude) of the cell center."""
    lon, lat = _decode_np(codes)
    return pd.DataFrame({"longitude": lon, "latitude": lat})


def _boxes_np(
    lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray,
    precision: int, cap: int = 100_000,
) -> list[list[str]]:
    """Geohash cells covering each [lon1,lon2]×[lat1,lat2] box at the
    precision (reference geohashesInBox.cpp). Cell edge sizes follow
    from the bit split: lon gets ceil(5p/2) bits, lat floor(5p/2)."""
    lon_bits = (5 * precision + 1) // 2
    lat_bits = (5 * precision) // 2
    dlon = 360.0 / (1 << lon_bits)
    dlat = 180.0 / (1 << lat_bits)
    out: list[list[str]] = []
    for j in range(lon1.shape[0]):
        lo_x, hi_x = sorted((lon1[j], lon2[j]))
        lo_y, hi_y = sorted((lat1[j], lat2[j]))
        # snap to the cell grid
        x0 = np.floor((lo_x + 180.0) / dlon)
        x1 = np.floor((hi_x + 180.0) / dlon)
        y0 = np.floor((lo_y + 90.0) / dlat)
        y1 = np.floor((hi_y + 90.0) / dlat)
        nx, ny = int(x1 - x0) + 1, int(y1 - y0) + 1
        if nx * ny > cap or nx <= 0 or ny <= 0:
            out.append([])  # reference returns empty when over the limit
            continue
        xs = (x0 + np.arange(nx)) * dlon - 180.0 + dlon / 2
        ys = (y0 + np.arange(ny)) * dlat - 90.0 + dlat / 2
        gx, gy = np.meshgrid(xs, ys)
        out.append(_encode_np(gx.ravel(), gy.ravel(), precision))
    return out


def _boxes_fn(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series,
              precision: pd.Series) -> pd.Series:
    """geohashesInBox(lon_min, lat_min, lon_max, lat_max, precision) ->
    Array(String): the cells intersecting the box (empty above the
    cell-count cap, mirroring the reference's limit)."""
    return pd.Series(_boxes_np(
        lon1.to_numpy(np.float64), lat1.to_numpy(np.float64),
        lon2.to_numpy(np.float64), lat2.to_numpy(np.float64), _precision(precision, 4),
    ))
