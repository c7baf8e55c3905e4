"""Unified GeoTIFF grid shift — the reference's modern +proj=gridshift.

Re-derivation of /root/reference/src/transformations/gridshift.cpp:
  * grid TYPE taxonomy + main/aux selection      — checkGridTypes :115-205
  * per-sample channel detection by DESCRIPTION  — grid_interpolate :230-330
  * bilinear + NOAA biquadratic (qterp) windows  — :410-555
  * arc-second -> radian conversion after interpolation, swapXY storage
    optimization, easting/northing metre offsets for projected grids
  * antimeridian +/-2pi input normalization      — normalizeX :568-585
  * forward add; inverse fixed-point iteration (bilinear only, like NOAA
    NCAT; biquadratic single-step)               — grid_apply_internal
  * subgrid hierarchy: most-detailed containing grid wins (grids.cpp gridAt)

Vectorized with per-point grid-assignment masks; grids are numpy arrays
closure-captured into the UDF (broadcast at scale).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from proj_spark.sources import grids as _grids
from proj_spark.sources.geotiff import GeoTiffGrid, parse_geotiff
from proj_spark.sources.grids import _REL_TOL

_ARCSEC2RAD = 1.0 / 3600 / 180 * math.pi

_VERT_DESCS = ("ellipsoidal_height_offset", "geoid_undulation",
               "hydroid_height", "vertical_offset")


@dataclass
class GridUnit:
    """One top-level grid + its (recursively contained) subgrids, all of one
    TYPE; lookup resolves to the smallest containing grid."""
    type: str
    grids: list          # area-ascending (children first)


def read_grid_units(path: str) -> list[GridUnit]:
    """One GeoTIFF's grids grouped into top-level units."""
    grids = [g for g in parse_geotiff(path) if g.subfile_type in (0, 2)]
    # generic grids inherit missing metadata from the file's FIRST grid
    # (reference grids.cpp GTiffGenericGrid::metadataItem :2866-2870)
    if len(grids) > 1:
        first = grids[0]
        for g in grids[1:]:
            for k, v in first.metadata.items():
                g.metadata.setdefault(k, v)
            for k, v in first.sample_meta.items():
                g.sample_meta.setdefault(k, v)
    # top-level grids: TYPE non-empty or no containing predecessor
    tops: list[list[GeoTiffGrid]] = []
    for g in grids:
        placed = False
        parent_name = g.metadata_item("parent_grid_name")
        gname = g.metadata_item("grid_name")
        gtype = g.metadata_item("TYPE")
        for unit in tops:
            top = unit[0]
            if parent_name and any(
                    x.metadata_item("grid_name") == parent_name
                    for x in unit):
                unit.append(g)
                placed = True
                break
            # spatial-extent fallback (grids.cpp insertIntoHierarchy
            # :1410-1426): unnamed grid, same (or no) TYPE, contained
            if (not parent_name and not gname
                    and (not gtype
                         or gtype == top.metadata_item("TYPE"))
                    and top.west <= g.west and top.south <= g.south
                    and top.east >= g.east and top.north >= g.north):
                unit.append(g)
                placed = True
                break
        if not placed:
            tops.append([g])
    return [GridUnit(unit[0].metadata_item("TYPE"),
                     sorted(unit, key=lambda g: g.area()))
            for unit in tops]


def load_grid_units(spec: str) -> list[GridUnit]:
    return _grids.load(spec, read_grid_units)


def channels(g: GeoTiffGrid, names: tuple, default: tuple) -> list[int]:
    """The sample whose DESCRIPTION is each of ``names`` (the last such
    sample wins), else that name's default index."""
    idx = list(default)
    for i in range(g.samples):
        d = g.metadata_item("DESCRIPTION", i)
        if d in names:
            idx[names.index(d)] = i
    return idx


def sample3(units: list[GridUnit], x, y, idx) -> list[np.ndarray]:
    """Bilinear values of the three channels ``idx`` from the first grid
    (units in file order, finest subgrid first) whose cell holds the point
    with no nodata corner in any of them; NaN elsewhere."""
    out = [np.full_like(x, np.nan) for _ in idx]
    done = np.zeros(x.shape, dtype=bool)
    for unit in units:
        for g in unit.grids:
            got = [_interp_grid(g, x, y, i, -1, -1, True, True) for i in idx]
            hit = ~done & got[0][3] & got[1][3] & got[2][3]
            out = [np.where(hit, v[0], o) for v, o in zip(got, out)]
            done |= hit
    return out


def _qterp(x, f0, f1, f2):
    df0 = f1 - f0
    df1 = f2 - f1
    d2f0 = df1 - df0
    return f0 + x * df0 + 0.5 * x * (x - 1.0) * d2f0


def _channel_indices(g: GeoTiffGrid, want_type: str, no_z: bool):
    """Mirror of the GridInfo channel detection (gridshift.cpp:230-310)."""
    ix = iy = iz = -1
    east_north = False
    for i in range(g.samples):
        d = g.metadata_item("DESCRIPTION", i)
        if g.is_geographic and d == "latitude_offset":
            iy = i
        elif g.is_geographic and d == "longitude_offset":
            ix = i
        elif not g.is_geographic and d == "easting_offset":
            east_north = True
            ix = i
        elif not g.is_geographic and d == "northing_offset":
            east_north = True
            iy = i
        elif d in _VERT_DESCS:
            iz = i
    if g.samples >= 2 and iy < 0 and ix < 0 and want_type == "HORIZONTAL_OFFSET":
        if not g.is_geographic:
            east_north = True
            ix, iy = 0, 1
        else:
            ix, iy = 1, 0
    if want_type in ("HORIZONTAL_OFFSET", "GEOGRAPHIC_3D_OFFSET") and (ix < 0 or iy < 0):
        raise ValueError("gridshift: grid lacks expected horizontal samples")
    if want_type != "HORIZONTAL_OFFSET" and iz < 0 and want_type:
        raise ValueError("gridshift: grid lacks expected vertical sample")
    if no_z:
        iz = -1
    return ix, iy, iz, east_north


def _interp_grid(g: GeoTiffGrid, x, y, ix, iy, iz, east_north, bilinear):
    """Interpolate (sx, sy, sz, valid) at normalized coords (already
    longitude-wrapped into the grid span). Mirrors grid_interpolate."""
    il, ip, fl, fp, valid = _grids.cell(g, x - g.west, y - g.south)

    def sample(chan, iyy, ixx):
        return g.data[np.clip(iyy, 0, g.height - 1),
                      np.clip(ixx, 0, g.width - 1), chan]

    if bilinear or g.width < 3 or g.height < 3:
        n = 2

        def interp(chan):
            return _grids.bilinear(g.data[..., chan], il, ip, fl, fp)
    else:
        # shift the 3x3 window before/after the half pixel (NOAA qterp)
        n = 3
        shift_l = ((fl <= 0.5) & (il > 0)) | (il + 2 == g.width)
        il = np.where(shift_l, il - 1, il)
        fl = np.where(shift_l, fl + 1.0, fl)
        shift_p = ((fp <= 0.5) & (ip > 0)) | (ip + 2 == g.height)
        ip = np.where(shift_p, ip - 1, ip)
        fp = np.where(shift_p, fp + 1.0, fp)
        valid &= (il >= 0) & (il + 2 < g.width) & (ip >= 0) & (ip + 2 < g.height)

        def interp(chan):
            rows = [
                _qterp(fl, sample(chan, ip + j, il), sample(chan, ip + j, il + 1),
                       sample(chan, ip + j, il + 2))
                for j in (0, 1, 2)
            ]
            return _qterp(fp, rows[0], rows[1], rows[2])

    sx, sy, sz = (interp(c) if c >= 0 else np.zeros_like(x)
                  for c in (ix, iy, iz))
    if g.nodata is not None:
        for chan in (ix, iy, iz):
            if chan >= 0:
                for dy in range(n):
                    for dx in range(n):
                        valid &= sample(chan, ip + dy, il + dx) != g.nodata

    if ix >= 0 and iy >= 0 and not east_north:
        sx = sx * _ARCSEC2RAD
        sy = sy * _ARCSEC2RAD
    return sx, sy, sz, valid


class GridshiftTransform:
    """Compiled +proj=gridshift (driver-side; numpy grids closure-captured)."""

    def __init__(self, spec: str, interpolation: str = "",
                 no_z_transform: bool = False):
        if interpolation and interpolation not in ("bilinear", "biquadratic"):
            raise ValueError(
                f"gridshift: unsupported interpolation {interpolation!r}")
        self.units = load_grid_units(spec)
        self.no_z = no_z_transform
        self.interpolation = interpolation

        has_horiz = any(u.type == "HORIZONTAL_OFFSET" for u in self.units)
        has_g3d = any(u.type == "GEOGRAPHIC_3D_OFFSET" for u in self.units)
        vert_types = [t for t in (
            "ELLIPSOIDAL_HEIGHT_OFFSET",
            "VERTICAL_OFFSET_GEOGRAPHIC_TO_VERTICAL",
            "VERTICAL_OFFSET_VERTICAL_TO_VERTICAL",
        ) if any(u.type == t for u in self.units)]
        known = {"HORIZONTAL_OFFSET", "GEOGRAPHIC_3D_OFFSET",
                 "ELLIPSOIDAL_HEIGHT_OFFSET",
                 "VERTICAL_OFFSET_GEOGRAPHIC_TO_VERTICAL",
                 "VERTICAL_OFFSET_VERTICAL_TO_VERTICAL"}
        for u in self.units:
            if not u.type:
                raise ValueError("gridshift: missing TYPE metadata in grid")
            if u.type not in known:
                raise ValueError(
                    f"gridshift: unhandled grid TYPE {u.type!r}")
        if len(vert_types) > 1:
            raise ValueError("gridshift: unsupported mix of grid types")
        if has_g3d:
            self.main_type = "GEOGRAPHIC_3D_OFFSET"
        elif not has_horiz:
            self.main_type = vert_types[0]
        else:
            self.main_type = "HORIZONTAL_OFFSET"
        self.aux_type = vert_types[0] if (has_horiz and vert_types) else ""
        self.main_is_g3d = has_g3d
        self.has_horiz = has_horiz
        self.is_projected = not self.units[0].grids[0].is_geographic

        # constant_offset (per-axis) — S-JTSK-style post-shift offset
        # (gridshift.cpp m_offsetX/m_offsetY :84-95, :150-170)
        self.offset_x = self.offset_y = 0.0
        for u in self.units:
            if u.type == "HORIZONTAL_OFFSET":
                top = u.grids[-1]
                ox = top.metadata_item("constant_offset", 0)
                oy = top.metadata_item("constant_offset", 1)
                if ox:
                    self.offset_x = float(ox)
                if oy:
                    self.offset_y = float(oy)

    # -- per-point evaluation ------------------------------------------------

    def _interpolate(self, want_type: str, x, y, fallback_horiz: bool):
        """(sx, sy, sz, done, bilinear_used, via_fallback) across all units
        of want_type (file order, children-first within a unit); points not
        matched by want_type optionally retry HORIZONTAL_OFFSET units
        (gridshift.cpp apply :744-758)."""
        sx = np.zeros_like(x)
        sy = np.zeros_like(x)
        sz = np.zeros_like(x)
        done = np.zeros(x.shape, dtype=bool)
        via_fallback = np.zeros(x.shape, dtype=bool)
        bilinear_used = np.ones(x.shape, dtype=bool)
        types = [want_type] + (
            ["HORIZONTAL_OFFSET"] if fallback_horiz else [])
        for t in types:
            for unit in self.units:
                if unit.type != t:
                    continue
                for g in unit.grids:
                    rem = ~done
                    if not rem.any():
                        break
                    ix, iy, iz, en = _channel_indices(g, t, self.no_z)
                    interp = self.interpolation or g.metadata_item(
                        "interpolation_method") or "bilinear"
                    if interp not in ("bilinear", "biquadratic"):
                        raise ValueError(
                            f"gridshift: unsupported interpolation {interp!r}")
                    # normalizeX: wrap lon into the grid span
                    if g.is_geographic:
                        eps = (g.resx + g.resy) * _REL_TOL
                        xw = np.where(x < g.west - eps, x + 2 * math.pi,
                                      np.where(x > g.east + eps,
                                               x - 2 * math.pi, x))
                    else:
                        xw = x
                    gx, gy, gz, valid = _interp_grid(
                        g, xw, y, ix, iy, iz, en,
                        interp == "bilinear")
                    hit = rem & valid
                    sx = np.where(hit, gx, sx)
                    sy = np.where(hit, gy, sy)
                    sz = np.where(hit, gz, sz)
                    bilinear_used = np.where(
                        hit,
                        (interp == "bilinear") | (g.width < 3) | (g.height < 3),
                        bilinear_used)
                    via_fallback |= hit & (t != want_type)
                    done |= hit
        return sx, sy, sz, done, bilinear_used, via_fallback

    def _apply_aux(self, need_aux, ox, oy, oz, sign: float):
        """Second (vertical) pass at the main pass's OUTPUT position, only
        for points that did not get a GEOGRAPHIC_3D z (reference apply
        second pass :783-810)."""
        if not need_aux.any():
            return oz
        ax, ay, az, aok, _, _ = self._interpolate(self.aux_type, ox, oy, False)
        return np.where(need_aux, np.where(aok, oz + sign * az, np.nan), oz)

    def fwd(self, x, y, z):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        z = np.asarray(z, dtype=np.float64)
        fb = self.main_is_g3d and self.has_horiz
        sx, sy, sz, ok, _, via_fb = self._interpolate(self.main_type, x, y, fb)
        ox = np.where(ok, x + sx, np.nan)
        oy = np.where(ok, y + sy, np.nan)
        oz = np.where(ok, z + sz, np.nan)
        if self.aux_type:
            need_aux = ok & (via_fb if self.main_is_g3d else np.ones_like(ok))
            oz = self._apply_aux(need_aux, ox, oy, oz, +1.0)
        return ox + self.offset_x, oy + self.offset_y, oz

    def inv(self, x, y, z):
        x = np.asarray(x, dtype=np.float64) - self.offset_x
        y = np.asarray(y, dtype=np.float64) - self.offset_y
        z = np.asarray(z, dtype=np.float64)
        vertical_only = self.main_type not in (
            "HORIZONTAL_OFFSET", "GEOGRAPHIC_3D_OFFSET")
        fb = self.main_is_g3d and self.has_horiz

        sx, sy, sz, ok, bilinear, via_fb = self._interpolate(
            self.main_type, x, y, fb)
        if vertical_only:
            return (np.where(ok, x, np.nan), np.where(ok, y, np.nan),
                    np.where(ok, z - sz, np.nan))

        gx = x - sx
        gy = y - sy
        # NOAA NCAT: no iteration for biquadratic; iterate bilinear points
        iterate = ok & bilinear
        itdone = ~iterate
        for _ in range(10):
            if itdone.all():
                break
            s2x, s2y, s2z, ok2, _, _ = self._interpolate(
                self.main_type, gx, gy, fb)
            dx = np.where(ok2, gx + s2x - x, 0.0)
            dy = np.where(ok2, gy + s2y - y, 0.0)
            gx = np.where(itdone, gx, gx - dx)
            gy = np.where(itdone, gy, gy - dy)
            sz = np.where(~itdone & ok2, s2z, sz)
            itdone |= (dx * dx + dy * dy) <= 1e-24
            itdone |= ~ok2
        oz = z - sz
        if not self.is_projected:
            gx = np.remainder(gx + math.pi, 2 * math.pi) - math.pi
        ox = np.where(ok, gx, np.nan)
        oy = np.where(ok, gy, np.nan)
        oz = np.where(ok, oz, np.nan)
        if self.aux_type:
            need_aux = ok & (via_fb if self.main_is_g3d else np.ones_like(ok))
            oz = self._apply_aux(need_aux, ox, oy, oz, -1.0)
        return ox, oy, oz
