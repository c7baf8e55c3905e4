"""S2-style cell encoding + web-mercator slippy tiles, vectorized in numpy.

The cube-face projection (lon/lat -> face, u, v -> s, t with the quadratic
UV->ST map) reproduces the reference's +proj=s2 semantics
(/root/reference/src/projections/s2.cpp — face selection :109-112, quadratic
UV->ST :148-166, face UV tables :260-334, geodetic->geocentric latitude
shift :336-346). On top of the reference's per-face (s,t) we add what PROJ
stops short of: the 64-bit Hilbert-curve cell id of the public S2 geometry
scheme (face:3 bits, 60 position bits, trailing 1 sentinel), computed with
4-bit lookup tables so encoding is ~8 table-gathers per point — fully
vectorized, no per-row Python.

Cell ids are the engine's spatial join/partition keys: the Hilbert order
gives prefix locality (a parent cell is a bit-prefix range), so
repartitionByRange on cell id co-locates spatial neighborhoods, and
cell-cover joins become int64 equality joins Catalyst can hash/sort-merge.
"""

from __future__ import annotations

import math

import numpy as np

MAX_LEVEL = 30
_POS_BITS = 2 * MAX_LEVEL + 1  # 61
_SWAP = 1
_INVERT = 2

# Hilbert sub-cell orderings (public S2 scheme)
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENT = (_SWAP, 0, 0, _INVERT | _SWAP)

_LOOKUP_BITS = 4
_LOOKUP_POS = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) | j
        _LOOKUP_POS[(ij << 2) | orig] = (pos << 2) | orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for idx in range(4):
        ij = r[idx]
        _init_lookup(
            level, i + (ij >> 1), j + (ij & 1), orig, pos + idx,
            orient ^ _POS_TO_ORIENT[idx],
        )


for _o in (0, _SWAP, _INVERT, _SWAP | _INVERT):
    _init_lookup(0, 0, 0, _o, 0, _o)


# --------------------------------------------------------------------------
# lon/lat -> face/UV/ST
# --------------------------------------------------------------------------

def lonlat_to_xyz(lon_deg, lat_deg, geocentric_es: float | None = None):
    """Unit-sphere XYZ; optionally apply the ellipsoid->sphere geodetic->
    geocentric latitude shift the reference s2 projection applies
    (s2.cpp:341-346) with ``geocentric_es`` = one_minus_f_squared trigger."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    if geocentric_es is not None:
        lat = np.arctan(geocentric_es * np.tan(lat))
    coslat = np.cos(lat)
    return coslat * np.cos(lon), coslat * np.sin(lon), np.sin(lat)


def xyz_to_face_uv(x, y, z):
    """Face 0..5 (+x,+y,+z,-x,-y,-z by largest |component|) and (u, v)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        ax > ay,
        np.where(ax > az, 0, 2),
        np.where(ay > az, 1, 2),
    )
    face = np.where((face == 0) & (x < 0), 3, face)
    face = np.where((face == 1) & (y < 0), 4, face)
    face = np.where((face == 2) & (z < 0), 5, face)

    # per-face (u, v) ratios (reference s2.cpp ValidFaceXYZtoUV :190-216):
    # pick each point's numerators and face-axis component, then divide
    # once; (-x)/y is -(x/y) bit for bit
    den = np.choose(face, (x, y, z, x, y, z))
    nx, ny = -x, -y
    u = np.choose(face, (y, nx, nx, z, z, ny)) / den
    v = np.choose(face, (z, z, ny, y, nx, nx)) / den
    return face.astype(np.int64), u, v


def uv_to_st(u):
    """Quadratic UV->ST map (reference s2.cpp:148-166)."""
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):  # np.where evaluates both branches
        return np.where(
            u >= 0,
            0.5 * np.sqrt(1.0 + 3.0 * u),
            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u),
        )


# --------------------------------------------------------------------------
# cell ids
# --------------------------------------------------------------------------

def _st_to_ij(s):
    return np.clip((np.asarray(s) * (1 << MAX_LEVEL)).astype(np.int64), 0, (1 << MAX_LEVEL) - 1)


def _faceij_to_id(face, i, j, level: int = MAX_LEVEL):
    """(face, i30, j30) -> level-30 cell id via up to 8 lookup-table
    gathers. Only the first ``level`` position levels are exact: the first
    round holds levels 1-2 (i and j have 30 bits), each later one 4 more,
    and the rounds past ``level`` are skipped, leaving zero bits for
    ``parent_id`` to truncate."""
    n = face.astype(np.int64) << (_POS_BITS - 1)
    bits = face.astype(np.int64) & _SWAP
    mask = (1 << _LOOKUP_BITS) - 1
    rounds = 1 + -(-max(level - 2, 0) // _LOOKUP_BITS)
    for k in range(7, 7 - rounds, -1):
        bits += ((i >> (k * _LOOKUP_BITS)) & mask) << (_LOOKUP_BITS + 2)
        bits += ((j >> (k * _LOOKUP_BITS)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        n |= (bits >> 2) << (k * 2 * _LOOKUP_BITS)
        bits &= _SWAP | _INVERT
    # faces 4-5 intentionally wrap negative: ids are int64 bit patterns
    return (n << 1) | 1


def s2_cell_id(lon_deg, lat_deg, level: int = MAX_LEVEL, geocentric_es: float | None = None):
    """lon/lat degrees -> S2 cell id at ``level`` (int64 ndarray). A
    point whose lon or lat is not finite has no cell: its id is 0, the
    value spatial_join keys null cells to."""
    with np.errstate(invalid="ignore"):
        x, y, z = lonlat_to_xyz(lon_deg, lat_deg, geocentric_es)
        ok = np.isfinite(x)     # exactly where lon and lat both are finite
        face, u, v = xyz_to_face_uv(x, y, z)
        i = _st_to_ij(uv_to_st(u))
        j = _st_to_ij(uv_to_st(v))
    cell = _faceij_to_id(face, i, j, level)
    if level < MAX_LEVEL:
        cell = parent_id(cell, level)
    return cell if ok.all() else np.where(ok, cell, 0)


def parent_id(cell_id, level: int):
    """Ancestor cell at ``level`` (prefix truncation + new sentinel bit)."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    lsb = np.int64(1) << (2 * (MAX_LEVEL - level))
    return (cell_id & -lsb) | lsb


# --------------------------------------------------------------------------
# slippy (web-mercator) tiles — exact floor math, no sampling
# --------------------------------------------------------------------------

WEBMERC_MAX_LAT = math.degrees(2 * math.atan(math.exp(math.pi)) - math.pi / 2)  # 85.05112878...


def slippy_tile(lon_deg, lat_deg, zoom: int):
    """(tile_x, tile_y) of the standard XYZ scheme at ``zoom``."""
    lon = np.asarray(lon_deg, dtype=np.float64)
    lat = np.clip(np.asarray(lat_deg, dtype=np.float64), -WEBMERC_MAX_LAT, WEBMERC_MAX_LAT)
    n = float(1 << zoom)
    tx = np.floor((lon + 180.0) / 360.0 * n)
    phi = np.radians(lat)
    ty = np.floor((1.0 - np.arcsinh(np.tan(phi)) / np.pi) / 2.0 * n)
    tx = np.clip(tx, 0, n - 1).astype(np.int64)
    ty = np.clip(ty, 0, n - 1).astype(np.int64)
    return tx, ty
