"""Multi-component deformation models (+proj=defmodel).

Numpy re-derivation of /root/reference/src/transformations/defmodel_impl.hpp
+ defmodel.cpp: JSON master file with per-component GeoTIFF spatial models
(east/north/vertical offset channels in degree or metre units) and time
functions (constant, velocity, step, reverse_step, piecewise, exponential),
bilinear or geocentric-bilinear interpolation, horizontal offsets applied by
addition (with the ellipsoidal easting/northing -> dlam/dphi conversion,
impl :708-720) or geocentrically; inverse by fixed-point iteration
(impl :1223-1263). Vectorized over point arrays; sources.grids loads and
selects a component's grids, and geotiff.channels picks their planes.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

import numpy as np

from proj_spark.crs import Ellipsoid
from proj_spark.sources import grids
from proj_spark.sources.geotiff import channels

_MONTHS = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
_MONTHS_LEAP = (31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def iso8601_to_decimal_year(dt: str) -> float:
    """Mirror of ISO8601ToDecimalYear (defmodel_impl.hpp:225-251)."""
    date, timepart = dt.rstrip("Z").split("T")
    year, month, day = (int(v) for v in date.split("-"))
    hour, minute, sec = (int(v) for v in timepart.split(":"))
    leap = (year % 4 == 0 and year % 100 != 0) or year % 400 == 0
    table = _MONTHS_LEAP if leap else _MONTHS
    day_in_year = day - 1 + sum(table[: month - 1])
    return year + (day_in_year * 86400 + hour * 3600 + minute * 60 + sec) / (
        86400.0 * (366 if leap else 365))


@dataclass
class TimeFunction:
    kind: str
    params: dict = field(default_factory=dict)

    def evaluate(self, t: np.ndarray) -> np.ndarray:
        p = self.params
        if self.kind == "constant":
            return np.ones_like(t)
        if self.kind == "velocity":
            return t - p["reference_epoch"]
        if self.kind == "step":
            return np.where(t < p["step_epoch"], 0.0, 1.0)
        if self.kind == "reverse_step":
            return np.where(t < p["step_epoch"], -1.0, 0.0)
        if self.kind == "piecewise":
            model = p["model"]   # list of (epoch, factor)
            out = np.empty_like(t)
            # before first
            first_e, first_f = model[0]
            if p["before_first"] == "zero":
                before = np.zeros_like(t)
            elif p["before_first"] == "constant" or len(model) == 1:
                before = np.full_like(t, first_f)
            else:
                e2, f2 = model[1]
                before = (first_f if first_e == e2 else
                          (first_f * (e2 - t) + f2 * (t - first_e)) / (e2 - first_e))
                before = np.broadcast_to(before, t.shape)
            out[:] = before
            # interior segments
            for i in range(1, len(model)):
                e0, f0 = model[i - 1]
                e1, f1 = model[i]
                seg = (t >= e0) & (t < e1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    val = (f0 * (e1 - t) + f1 * (t - e0)) / (e1 - e0)
                out = np.where(seg, val, out)
            # after last
            last_e, last_f = model[-1]
            if p["after_last"] == "zero":
                after = np.zeros_like(t)
            elif p["after_last"] == "constant" or len(model) == 1:
                after = np.full_like(t, last_f)
            else:
                e0, f0 = model[-2]
                after = (last_f if e0 == last_e else
                         (f0 * (last_e - t) + last_f * (t - e0)) / (last_e - e0))
                after = np.broadcast_to(after, t.shape)
            return np.where(t >= last_e, after, out)
        if self.kind == "exponential":
            t0 = p["reference_epoch"]
            tt = t.copy()
            if p.get("end_epoch") is not None:
                tt = np.minimum(tt, p["end_epoch"])
            val = p["initial_scale_factor"] + (
                p["final_scale_factor"] - p["initial_scale_factor"]) * (
                1.0 - np.exp(-(tt - t0) / p["relaxation_constant"]))
            return np.where(t < t0, p.get("before_scale_factor", 0.0), val)
        raise ValueError(f"defmodel: unsupported time function {self.kind!r}")


def _parse_time_function(j: dict) -> TimeFunction:
    kind = j["type"]
    jp = j.get("parameters", {})
    p = {}
    if kind == "velocity":
        p["reference_epoch"] = iso8601_to_decimal_year(jp["reference_epoch"])
    elif kind in ("step", "reverse_step"):
        p["step_epoch"] = iso8601_to_decimal_year(jp["step_epoch"])
    elif kind == "piecewise":
        p["before_first"] = jp["before_first"]
        p["after_last"] = jp["after_last"]
        p["model"] = [(iso8601_to_decimal_year(m["epoch"]), m["scale_factor"])
                      for m in jp["model"]]
        for key in ("before_first", "after_last"):
            if p[key] not in ("zero", "constant", "linear"):
                raise ValueError(f"defmodel: invalid {key}")
    elif kind == "exponential":
        p["reference_epoch"] = iso8601_to_decimal_year(jp["reference_epoch"])
        p["end_epoch"] = (iso8601_to_decimal_year(jp["end_epoch"])
                          if jp.get("end_epoch") else None)
        p["relaxation_constant"] = jp["relaxation_constant"]
        p["before_scale_factor"] = jp["before_scale_factor"]
        p["initial_scale_factor"] = jp["initial_scale_factor"]
        p["final_scale_factor"] = jp["final_scale_factor"]
        if p["relaxation_constant"] <= 0:
            raise ValueError("defmodel: relaxation_constant must be > 0")
    elif kind != "constant":
        raise ValueError(f"defmodel: unsupported time function {kind!r}")
    return TimeFunction(kind, p)


def _planes(g, displacement: str) -> list:
    """The (east, north, vertical) planes a displacement reads (default
    samples 0, 1 and 2, or 0 in a 1-sample grid), else None."""
    horizontal = displacement in ("horizontal", "3d")
    vertical = displacement in ("vertical", "3d")
    planes = channels(g, ("east_offset", "north_offset", "vertical_offset"),
                      ((0, 1) if horizontal else (-1, -1))
                      + ((0 if g.samples == 1 else 2) if vertical else -1,))
    return [p if read else None
            for p, read in zip(planes, (horizontal, horizontal, vertical))]


@dataclass
class Component:
    displacement: str      # none | horizontal | vertical | 3d
    bbox: tuple            # (minx, miny, maxx, maxy) normalized
    grids: list            # GeoTiffGrid tree (sources.grids.read_generic)
    tf: TimeFunction
    geocentric_bilinear: bool


class DefModel:
    """Compiled deformation model (driver-side; grids closure-captured)."""

    def __init__(self, path: str, ell: Ellipsoid):
        self.ell = ell
        with open(path) as f:
            j = json.load(f)
        if j.get("file_type") != "deformation_model_master_file":
            raise ValueError(f"{path}: not a deformation model master file")
        # vertical-only models may omit horizontal_offset_unit
        # (reference src/transformations/defmodel.hpp parseunits default)
        h_unit = j.get("horizontal_offset_unit", "metre")
        self.unit_degree = h_unit == "degree"
        if h_unit not in ("degree", "metre"):
            raise ValueError("defmodel: invalid horizontal_offset_unit")
        self.addition = j.get("horizontal_offset_method", "addition") == "addition"
        crs = str(j.get("definition_crs", "EPSG:4326"))
        self.is_geographic = crs.upper() in (
            "EPSG:4326", "EPSG:4258", "EPSG:4937", "EPSG:4959", "EPSG:7912",
            "EPSG:9000", "EPSG:6318", "EPSG:9755")
        if not self.is_geographic and self.unit_degree:
            raise ValueError("defmodel: projected CRS + degree unit invalid")

        def norm_bbox(jext):
            b = jext["parameters"]["bbox"]
            if self.is_geographic:
                return tuple(math.radians(v) for v in b)
            return tuple(b)

        self.bbox = norm_bbox(j["extent"])
        te = j["time_extent"]
        self.t_first = iso8601_to_decimal_year(te["first"])
        self.t_last = iso8601_to_decimal_year(te["last"])

        self.components: list[Component] = []
        for jc in j["components"]:
            disp = jc["displacement_type"]
            if disp not in ("none", "horizontal", "vertical", "3d"):
                raise ValueError("defmodel: invalid displacement_type")
            sm = jc["spatial_model"]
            interp = sm["interpolation_method"]
            if interp not in ("bilinear", "geocentric_bilinear"):
                raise ValueError("defmodel: invalid interpolation_method")
            if not self.is_geographic and interp != "bilinear":
                raise ValueError("defmodel: projected + geocentric_bilinear")
            cgrids = grids.load(sm["filename"], grids.read_generic)
            for g in cgrids:
                _planes(g, disp)
            self.components.append(Component(
                disp, norm_bbox(jc["extent"]), cgrids,
                _parse_time_function(jc["time_function"]),
                interp == "geocentric_bilinear"))

    # ------------------------------------------------------------------

    def _bbox_check(self, x, y, bbox, eps, margin):
        minx, miny, maxx, maxy = bbox
        return ((x >= minx - eps - margin) & (x <= maxx + eps + margin)
                & (y >= miny - eps - margin) & (y <= maxy + eps + margin))

    def forward(self, x, y, z, t, for_inverse=False):
        x = np.asarray(x, dtype=np.float64).copy()
        y = np.asarray(y, dtype=np.float64)
        z = np.asarray(z, dtype=np.float64)
        t = np.asarray(t, dtype=np.float64)
        EPS = 1e-10 if self.is_geographic else 1e-5

        minx, miny, maxx, maxy = self.bbox
        if self.is_geographic:
            for _ in range(3):
                x = np.where(x < minx - EPS, x + 2 * math.pi, x)
                x = np.where(x > maxx + EPS, x - 2 * math.pi, x)
        margin = (math.radians(0.1) if self.is_geographic else 10000.0) \
            if for_inverse else 0.0
        ok = self._bbox_check(x, y, self.bbox, EPS, margin)
        ok &= (t >= self.t_first) & (t <= self.t_last)

        dlam = np.zeros_like(x)
        dphi = np.zeros_like(x)
        de = np.zeros_like(x)
        dn = np.zeros_like(x)
        dz = np.zeros_like(x)
        sinphi = np.sin(y)
        cosphi = np.cos(y)

        deg2rad = math.pi / 180.0
        for comp in self.components:
            if comp.displacement == "none":
                continue
            cminx, cminy, cmaxx, cmaxy = comp.bbox
            in_comp = self._bbox_check(
                x, y, comp.bbox, EPS, margin if for_inverse else 0.0)
            if not in_comp.any():
                continue
            xg = np.clip(x, cminx, cmaxx)
            yg = np.clip(y, cminy, cmaxy)
            tf = np.broadcast_to(comp.tf.evaluate(t), x.shape)
            active = np.flatnonzero(in_comp & (tf != 0.0))
            for g, m, xs in grids.select(comp.grids, xg[active],
                                         yg[active], EPS):
                ix_d = (xs - g.west) / g.resx
                iy_d = (yg[active][m] - g.south) / g.resy
                inside = ((ix_d >= -EPS) & (iy_d >= -EPS)
                          & (ix_d + 1 < g.width + EPS)
                          & (iy_d + 1 < g.height + EPS))
                sel = active[m][inside]
                if not sel.size:
                    continue
                ix_d, iy_d, f = ix_d[inside], iy_d[inside], tf[sel]
                ix0 = np.minimum(ix_d.astype(np.int64), g.width - 2)
                iy0 = np.minimum(iy_d.astype(np.int64), g.height - 2)
                ix0 = np.maximum(ix0, 0)
                iy0 = np.maximum(iy0, 0)
                fx = ix_d - ix0
                fy = iy_d - iy0
                m00 = (1 - fx) * (1 - fy)
                m10 = fx * (1 - fy)
                m01 = (1 - fx) * fy
                m11 = fx * fy
                pe, pn, pz = _planes(g, comp.displacement)

                def corners(p):  # c00, c01, c10, c11: c{dx}{dy}
                    return [p[iy0 + dy_, ix0 + dx_] for dx_, dy_ in
                            ((0, 0), (0, 1), (1, 0), (1, 1))]

                def blend(p):
                    c00, c01, c10, c11 = corners(p)
                    return m00 * c00 + m01 * c01 + m10 * c10 + m11 * c11

                if pz is not None:
                    dz[sel] += f * blend(pz)
                if pe is not None:
                    if self.unit_degree:
                        # channel values are degrees -> radians
                        dlam[sel] += f * (blend(pe) * deg2rad)
                        dphi[sel] += f * (blend(pn) * deg2rad)
                    elif not comp.geocentric_bilinear:
                        de[sel] += f * blend(pe)
                        dn[sel] += f * blend(pn)
                    else:
                        e00, e01, e10, e11 = corners(pe)
                        n00, n01, n10, n11 = corners(pn)
                        # geocentric bilinear (defmodel_impl.hpp GridEx):
                        # corner EN -> geocentric deltas at corner lat/lam
                        # offsets of +/- resx/2 from cell center
                        shr = math.sin(g.resx / 2)
                        chr_ = math.cos(g.resx / 2)
                        y0 = g.south + iy0 * g.resy
                        sp0 = np.sin(y0)
                        cp0 = np.cos(y0)
                        sp1 = sp0 * math.cos(g.resy) + cp0 * math.sin(g.resy)
                        cp1 = cp0 * math.cos(g.resy) - sp0 * math.sin(g.resy)

                        def enu2xyz(e_, n_, sl, cl, sp, cp):
                            nsp = n_ * sp
                            return (-e_ * sl - nsp * cl,
                                    e_ * cl - nsp * sl,
                                    n_ * cp)

                        X00, Y00, Z00 = enu2xyz(e00, n00, -shr, chr_, sp0, cp0)
                        X01, Y01, Z01 = enu2xyz(e01, n01, -shr, chr_, sp1, cp1)
                        X10, Y10, Z10 = enu2xyz(e10, n10, shr, chr_, sp0, cp0)
                        X11, Y11, Z11 = enu2xyz(e11, n11, shr, chr_, sp1, cp1)
                        dX = m00 * X00 + m01 * X01 + m10 * X10 + m11 * X11
                        dY = m00 * Y00 + m01 * Y01 + m10 * Y10 + m11 * Y11
                        dZ = m00 * Z00 + m01 * Z01 + m10 * Z10 + m11 * Z11
                        lrel = (fx - 0.5) * g.resx
                        small = g.resx < math.radians(1.0)
                        if small:
                            sinl = lrel * (1 - (1.0 / 6) * (lrel * lrel))
                            cosl = 1 - 0.5 * (lrel * lrel)
                        else:
                            sinl = np.sin(lrel)
                            cosl = np.cos(lrel)
                        ei = -dX * sinl + dY * cosl
                        ni = ((-dX * cosl - dY * sinl) * sinphi[sel]
                              + dZ * cosphi[sel])
                        de[sel] += f * ei
                        dn[sel] += f * ni

        x_out = np.asarray(np.copy(x))
        y_out = np.asarray(np.copy(y))
        if self.unit_degree:
            x_out = x_out + dlam
            y_out = y_out + dphi
        elif self.addition and not self.is_geographic:
            x_out = x_out + de
            y_out = y_out + dn
        elif self.addition:
            # DeltaEastingNorthingToLongLat (impl :708-720)
            a, b, es = self.ell.a, self.ell.b, self.ell.es
            one_min = es * (1 - cosphi * cosphi)
            X = 1 - one_min
            sqrtX = np.sqrt(X)
            x_out = x_out + de * sqrtX / (a * cosphi)
            y_out = y_out + dn * a * sqrtX * X / (b * b)
        else:
            from proj_spark.kernels import cart as k_cart

            sinlam = np.sin(x)
            coslam = np.cos(x)
            dnsp = dn * sinphi
            dX = -de * sinlam - dnsp * coslam
            dY = de * coslam - dnsp * sinlam
            dZ = dn * cosphi
            X, Y, Z = k_cart.cart_fwd(x, y, np.zeros_like(x), self.ell)
            lam2, phi2, _ = k_cart.cart_inv(X + dX, Y + dY, Z + dZ, self.ell)
            x_out = lam2
            y_out = phi2
        z_out = z + dz
        return (np.where(ok, x_out, np.nan), np.where(ok, y_out, np.nan),
                np.where(ok, z_out, np.nan), ok)

    def inverse(self, x, y, z, t):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        z = np.asarray(z, dtype=np.float64)
        xo = x.copy()
        yo = y.copy()
        zo = z.copy()
        converged = np.zeros(x.shape, dtype=bool)
        failed = np.zeros(x.shape, dtype=bool)
        for _ in range(10):
            xn, yn, zn, ok = self.forward(xo, yo, zo, t, for_inverse=True)
            failed |= ~ok & ~converged
            dx = np.where(ok, xn - x, 0.0)
            dy = np.where(ok, yn - y, 0.0)
            dzv = np.where(ok, zn - z, 0.0)
            upd = ~converged & ~failed
            xo = np.where(upd, xo - dx, xo)
            yo = np.where(upd, yo - dy, yo)
            zo = np.where(upd, zo - dzv, zo)
            converged |= upd & (np.maximum(np.abs(dx), np.abs(dy)) < 1e-12) \
                & (np.abs(dzv) < 1e-3)
            if (converged | failed).all():
                break
        bad = failed | ~converged
        return (np.where(bad, np.nan, xo), np.where(bad, np.nan, yo),
                np.where(bad, np.nan, zo))
