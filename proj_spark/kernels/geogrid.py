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
  * per-point grid choice: sources.grids.select (grids.cpp gridAt), over
    the top-level grids of one TYPE

Vectorized with per-point grid-assignment masks; grids are numpy arrays
closure-captured into the UDF (broadcast at scale).
"""

from __future__ import annotations

import numpy as np

from proj_spark.sources import grids as _grids
from proj_spark.sources.geotiff import _ARCSEC2RAD, _VERT_DESCS, GeoTiffGrid


def channels(g: GeoTiffGrid, names: tuple, default: tuple) -> list[int]:
    """The sample whose DESCRIPTION is each of ``names`` (the last such
    sample wins), else that name's default index."""
    idx = list(default)
    for i in range(g.samples):
        d = g.metadata_item("DESCRIPTION", i)
        if d in names:
            idx[names.index(d)] = i
    return idx


def sample3(grids: list, x, y, idx) -> list[np.ndarray]:
    """Bilinear values of the three channels ``idx`` from the grid
    ``select`` picks; NaN outside every grid or at a nodata corner."""
    out = [np.full_like(x, np.nan) for _ in idx]
    for g, m, xg in _grids.select(grids, x, y, None):
        *vals, valid = _interp_grid(g, xg, y[m], *idx, True, True)
        for o, v in zip(out, vals):
            o[m] = np.where(valid, v, np.nan)
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
        self.grids = _grids.load(spec, _grids.read_generic)
        self.no_z = no_z_transform
        self.interpolation = interpolation

        # a grid serves the TYPE of its top-level grid (gridAt filters the
        # top-level grids by TYPE, then descends)
        types: dict[str, str] = {}
        for g in self.grids:
            types[g.name] = types.get(g.parent) or g.metadata_item("TYPE")
        self.by_type: dict[str, list] = {}
        for g in self.grids:
            self.by_type.setdefault(types[g.name], []).append(g)
        has_horiz = "HORIZONTAL_OFFSET" in self.by_type
        has_g3d = "GEOGRAPHIC_3D_OFFSET" in self.by_type
        vert_types = [t for t in (
            "ELLIPSOIDAL_HEIGHT_OFFSET",
            "VERTICAL_OFFSET_GEOGRAPHIC_TO_VERTICAL",
            "VERTICAL_OFFSET_VERTICAL_TO_VERTICAL",
        ) if t in self.by_type]
        known = {"HORIZONTAL_OFFSET", "GEOGRAPHIC_3D_OFFSET",
                 "ELLIPSOIDAL_HEIGHT_OFFSET",
                 "VERTICAL_OFFSET_GEOGRAPHIC_TO_VERTICAL",
                 "VERTICAL_OFFSET_VERTICAL_TO_VERTICAL"}
        for t in self.by_type:
            if not t:
                raise ValueError("gridshift: missing TYPE metadata in grid")
            if t not in known:
                raise ValueError(f"gridshift: unhandled grid TYPE {t!r}")
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
        self.is_projected = not self.grids[0].is_geographic

        # constant_offset (per-axis) — S-JTSK-style post-shift offset
        # (gridshift.cpp m_offsetX/m_offsetY :84-95, :150-170)
        self.offset_x = self.offset_y = 0.0
        for g in self.by_type.get("HORIZONTAL_OFFSET", []):
            if g.parent == "NONE":
                ox = g.metadata_item("constant_offset", 0)
                oy = g.metadata_item("constant_offset", 1)
                if ox:
                    self.offset_x = float(ox)
                if oy:
                    self.offset_y = float(oy)

    # -- per-point evaluation ------------------------------------------------

    def _interpolate(self, want_type: str, x, y, fallback_horiz: bool):
        """(sx, sy, sz, done, bilinear_used, via_fallback) from the
        want_type grid ``select`` picks; points no want_type grid holds
        optionally retry the HORIZONTAL_OFFSET grids (gridshift.cpp apply
        :744-758)."""
        sx = np.zeros_like(x)
        sy = np.zeros_like(x)
        sz = np.zeros_like(x)
        done = np.zeros(x.shape, dtype=bool)
        held = np.zeros(x.shape, dtype=bool)
        via_fallback = np.zeros(x.shape, dtype=bool)
        bilinear_used = np.ones(x.shape, dtype=bool)
        types = [want_type] + (
            ["HORIZONTAL_OFFSET"] if fallback_horiz else [])
        for t in types:
            rem = np.flatnonzero(~held)
            for g, m, xg in _grids.select(self.by_type.get(t, []),
                                          x[rem], y[rem], None):
                i = rem[m]
                ix, iy, iz, en = _channel_indices(g, t, self.no_z)
                interp = self.interpolation or g.metadata_item(
                    "interpolation_method") or "bilinear"
                if interp not in ("bilinear", "biquadratic"):
                    raise ValueError(
                        f"gridshift: unsupported interpolation {interp!r}")
                gx, gy, gz, valid = _interp_grid(
                    g, xg, y[i], ix, iy, iz, en, interp == "bilinear")
                sx[i], sy[i], sz[i] = gx, gy, gz
                bilinear_used[i] = ((interp == "bilinear") | (g.width < 3)
                                    | (g.height < 3))
                via_fallback[i] = t != want_type
                done[i] = valid
                held[i] = True
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
            gx = np.remainder(gx + np.pi, 2 * np.pi) - np.pi
        ox = np.where(ok, gx, np.nan)
        oy = np.where(ok, gy, np.nan)
        oz = np.where(ok, oz, np.nan)
        if self.aux_type:
            need_aux = ok & (via_fb if self.main_is_g3d else np.ones_like(ok))
            oz = self._apply_aux(need_aux, ox, oy, oz, -1.0)
        return ox, oy, oz
