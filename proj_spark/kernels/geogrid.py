"""Unified GeoTIFF grid shift — the reference's modern +proj=gridshift.

Re-derivation of /root/reference/src/transformations/gridshift.cpp:
  * grid TYPE taxonomy + main/aux selection      — checkGridTypes :115-205
  * per-sample channels by DESCRIPTION — the one channel resolver,
    sources.geotiff.channels (grid_interpolate :230-330)
  * arc-second -> radian conversion after interpolation, easting/northing
    metre offsets for projected grids, constant offsets
  * antimeridian +/-2pi input normalization      — normalizeX :568-585
  * every pass runs the one horizontal kernel, kernels.gridshift
    ``hgrid_apply``, over its sampler ``interpolate`` (bilinear, or NOAA
    biquadratic with a single inverse step)
  * per-point grid choice: sources.grids.select (grids.cpp gridAt), over
    the top-level grids of one TYPE

Vectorized with per-point grid-assignment masks; grids are numpy arrays
closure-captured into the UDF (broadcast at scale).
"""

from __future__ import annotations

import numpy as np

from proj_spark.kernels.gridshift import hgrid_apply, interpolate
from proj_spark.sources import grids as _grids
from proj_spark.sources.geotiff import _ARCSEC2RAD, _VERT_DESCS, channels


def sample3(grids: list, x, y, names: tuple, default: tuple) -> list[np.ndarray]:
    """Bilinear values of the three channels ``names`` from the grid
    ``select`` picks; NaN outside every grid or at a nodata corner."""
    out = [np.full_like(x, np.nan) for _ in names]
    for g, m, xg in _grids.select(grids, x, y, None):
        valid, _, *vals = interpolate(g, xg - g.west, y[m] - g.south,
                                      channels(g, names, default))
        for o, v in zip(out, vals):
            o[m] = np.where(valid, v, np.nan)
    return out


_VERTICAL_TYPES = ("ELLIPSOIDAL_HEIGHT_OFFSET",
                   "VERTICAL_OFFSET_GEOGRAPHIC_TO_VERTICAL",
                   "VERTICAL_OFFSET_VERTICAL_TO_VERTICAL")


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
        self.by_type: dict[str, list] = {}
        for g in self.grids:
            types[g.name] = types.get(g.parent) or g.metadata_item("TYPE")
            self.by_type.setdefault(types[g.name], []).append(g)
        for t, gs in self.by_type.items():
            if not t:
                raise ValueError(f"{gs[0].path}: gridshift: missing TYPE "
                                 f"metadata in grid")
            if t not in ("HORIZONTAL_OFFSET", "GEOGRAPHIC_3D_OFFSET",
                         *_VERTICAL_TYPES):
                raise ValueError(f"{gs[0].path}: gridshift: unhandled grid "
                                 f"TYPE {t!r}")
        vert_types = [t for t in _VERTICAL_TYPES if t in self.by_type]
        if len(vert_types) > 1:
            raise ValueError("gridshift: unsupported mix of grid types")
        self.has_horiz = "HORIZONTAL_OFFSET" in self.by_type
        self.main_is_g3d = "GEOGRAPHIC_3D_OFFSET" in self.by_type
        self.main_type = ("GEOGRAPHIC_3D_OFFSET" if self.main_is_g3d
                          else "HORIZONTAL_OFFSET" if self.has_horiz
                          else vert_types[0])
        self.aux_type = vert_types[0] if self.has_horiz and vert_types else ""
        self.is_projected = not self.grids[0].is_geographic
        for t, gs in self.by_type.items():
            for g in gs:  # a grid no point could use fails here, by name
                self._planes(g, t)
                self._biquadratic(g)

        # constant_offset (per-axis) — S-JTSK-style post-shift offset
        # (gridshift.cpp m_offsetX/m_offsetY :84-95, :150-170)
        self.offset_x = self.offset_y = 0.0
        for g in self.by_type.get("HORIZONTAL_OFFSET", []):
            if g.parent == "NONE":
                ox, oy = (g.metadata_item("constant_offset", i) for i in (0, 1))
                self.offset_x = float(ox) if ox else self.offset_x
                self.offset_y = float(oy) if oy else self.offset_y

    def _planes(self, g, t: str):
        """(x, y, z) planes of grid g serving TYPE t (gridshift.cpp
        :230-310); only HORIZONTAL_OFFSET has default samples."""
        xy = (("longitude_offset", "latitude_offset") if g.is_geographic
              else ("easting_offset", "northing_offset"))
        default = {"HORIZONTAL_OFFSET": ((1, 0) if g.is_geographic else (0, 1))
                   + (-1,),
                   "GEOGRAPHIC_3D_OFFSET": (None, None, None)}.get(
                       t, (-1, -1, None))
        px, py, pz = channels(g, (*xy, _VERT_DESCS), default)
        return px, py, None if self.no_z else pz

    def _biquadratic(self, g) -> bool:
        interp = self.interpolation or g.metadata_item(
            "interpolation_method") or "bilinear"
        if interp not in ("bilinear", "biquadratic"):
            raise ValueError(f"{g.path}: gridshift: unsupported "
                             f"interpolation {interp!r}")
        return interp == "biquadratic"

    def _pass(self, t: str, x, y, inverse: bool):
        """TYPE t's grids through the one horizontal kernel: (x', y', ok,
        held, sz), geographic offsets turned from arc-seconds to radians
        after interpolation."""
        def sample(g, dx, dy):
            px, py, pz = self._planes(g, t)
            valid, bl, sx, sy, sz = interpolate(g, dx, dy, (px, py, pz),
                                                self._biquadratic(g))
            if px is not None and py is not None and g.is_geographic:
                sx, sy = sx * _ARCSEC2RAD, sy * _ARCSEC2RAD
            return valid, bl, sx, sy, sz

        *out, rest = hgrid_apply(x, y, self.by_type[t], inverse, None, sample)
        return (*out, rest[0] if rest else np.zeros_like(x))

    def _main(self, x, y, inverse: bool):
        """(x', y', ok, sz, need_aux) of the main TYPE; points no main grid
        holds retry the HORIZONTAL_OFFSET grids when a
        GEOGRAPHIC_3D_OFFSET main has them (gridshift.cpp apply :744-758),
        and need the aux pass. Forward x', y' are shifts, inverse ones
        positions."""
        out = [np.full_like(x, np.nan), np.full_like(x, np.nan),
               np.zeros(x.shape, dtype=bool), np.zeros_like(x)]
        held = np.zeros(x.shape, dtype=bool)
        need_aux = np.full(x.shape, not self.main_is_g3d)
        for t in [self.main_type] + (
                ["HORIZONTAL_OFFSET"] if self.main_is_g3d and self.has_horiz
                else []):
            rem = np.flatnonzero(~held)
            *vals, pheld, sz = self._pass(t, x[rem], y[rem], inverse)
            i = rem[pheld]
            for o, v in zip(out, (*vals, sz)):
                o[i] = v[pheld]
            need_aux[i] |= t != self.main_type
            held[i] = True
        ox, oy, ok, sz = out
        return ox, oy, ok, sz, ok & need_aux

    def _apply_aux(self, need_aux, ox, oy, oz, sign: float):
        """Second (vertical) pass at the main pass's OUTPUT position, only
        for points that did not get a GEOGRAPHIC_3D z (reference apply
        second pass :783-810)."""
        if not self.aux_type or not need_aux.any():
            return oz
        _, _, aok, _, az = self._pass(self.aux_type, ox, oy, False)
        return np.where(need_aux, np.where(aok, oz + sign * az, np.nan), oz)

    def fwd(self, x, y, z):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        z = np.asarray(z, dtype=np.float64)
        sx, sy, ok, sz, need_aux = self._main(x, y, False)
        ox = np.where(ok, x + sx, np.nan)
        oy = np.where(ok, y + sy, np.nan)
        oz = self._apply_aux(need_aux, ox, oy, np.where(ok, z + sz, np.nan),
                             +1.0)
        return ox + self.offset_x, oy + self.offset_y, oz

    def inv(self, x, y, z):
        x = np.asarray(x, dtype=np.float64) - self.offset_x
        y = np.asarray(y, dtype=np.float64) - self.offset_y
        z = np.asarray(z, dtype=np.float64)
        if self.main_type in _VERTICAL_TYPES:
            _, _, ok, sz, _ = self._main(x, y, False)
            return (np.where(ok, x, np.nan), np.where(ok, y, np.nan),
                    np.where(ok, z - sz, np.nan))
        gx, gy, ok, sz, need_aux = self._main(x, y, True)
        if not self.is_projected:
            gx = np.remainder(gx + np.pi, 2 * np.pi) - np.pi
        ox = np.where(ok, gx, np.nan)
        oy = np.where(ok, gy, np.nan)
        oz = self._apply_aux(need_aux, ox, oy, np.where(ok, z - sz, np.nan),
                             -1.0)
        return ox, oy, oz
