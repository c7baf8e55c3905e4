"""proj-string parser + pipeline compiler.

PROJ compiles a proj-string into a configured ``PJ`` whose fwd/inv function
pointers run one point at a time (reference: /root/reference/src/init.cpp:422-533
constructor lookup; src/pipeline.cpp:135-262 step loop with per-step ``inv``,
``omit_fwd``/``omit_inv`` flags and error short-circuiting).

Here the same spec compiles into a ``Pipeline`` — an ordered list of steps,
each a thin wrapper over a vectorized numpy kernel with driver-side frozen
constants. ``Pipeline.fwd/inv`` run ALL steps over whole numpy columns inside
one function call, which is exactly what gets closure-captured into a single
Arrow-batched pandas UDF: the whole CRS pipeline is fused per batch, with no
shuffle and no per-row Python between steps. ``fwd_deg``/``inv_deg`` run a
long column in ``KERNEL_CHUNK`` cache blocks.

Unit bookkeeping mirrors PROJ's ``left``/``right`` IO tags
(src/proj_internal.h:583-586): each step declares what space it consumes and
produces ("rad" | "m" | "cart"); the pipeline exposes the outermost tags so
callers (the gie runner, the Spark UDF factory) know whether to feed
degrees->radians and how to read the output. Error-in-band: failed points
carry NaN through the remaining steps, like PROJ's HUGE_VAL convention.

A proj-string's I/O hooks (``+geoc``, the ``+towgs84``/``+nadgrids``/
``+geoidgrids`` datum hook, ``+axis``, ``+units``/``+vunits``; PROJ's
fwd_prepare/fwd_finalize) are composed steps: the operation runs inside a
nested ``Pipeline`` between the existing steps that apply them.
"""

from __future__ import annotations

import importlib
import math
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from proj_spark.cells import uv_to_st
from proj_spark.crs import ELLIPSOIDS, Ellipsoid, resolve_ellipsoid
from proj_spark.kernels import cart as k_cart
from proj_spark.kernels import helmert as k_helmert
from proj_spark.kernels import merc as k_merc
from proj_spark.kernels import tmerc as k_tmerc
from proj_spark.kernels.common import adjlon

DEG2RAD = math.pi / 180.0
RAD2DEG = 180.0 / math.pi


# --------------------------------------------------------------------------
# param parsing
# --------------------------------------------------------------------------

_DMS_RE = re.compile(
    r"^([+-]?)(\d+(?:\.\d*)?)[dD]"
    r"(?:(\d+(?:\.\d*)?)'?)?(?:(\d+(?:\.\d*)?)\"?)?([NSEWnsew])?$")
_SUFFIX_RE = re.compile(r"^([+-]?\d+(?:\.\d*)?)([NSEWnsew])$")
_RAD_RE = re.compile(r"^([+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)[rR]$")
_FRAC_RE = re.compile(
    r"^([+-]?\d+\.?\d*(?:[eE][+-]?\d+)?)/([+-]?\d+\.?\d*(?:[eE][+-]?\d+)?)$")


def _normalize_value(v: str) -> str:
    """Translate PROJ's extended numeric grammars to plain decimals:
    DMS angles (44d11'22.5\"N, 2D32), NSEW-suffixed decimals, radian
    values (1.7r), and ratio numbers (2.0/0.2) — reference
    src/dmstor.cpp + src/pj_param.cpp 'd'/'r' handling. Values not
    matching any grammar pass through untouched."""
    m = _DMS_RE.match(v)
    if m:
        sign, deg, mins, secs, hemi = m.groups()
        val = float(deg) + (float(mins) if mins else 0.0) / 60.0 \
            + (float(secs) if secs else 0.0) / 3600.0
        if sign == "-":
            val = -val
        if hemi and hemi in "SWsw":
            val = -val
        return repr(val)
    m = _SUFFIX_RE.match(v)
    if m:
        val = float(m.group(1))
        if m.group(2) in "SWsw":
            val = -val
        return repr(val)
    m = _RAD_RE.match(v)
    if m:
        return repr(math.degrees(float(m.group(1))))
    m = _FRAC_RE.match(v)
    if m:
        den = float(m.group(2))
        if den == 0.0:
            raise ValueError(f"invalid ratio number {v!r}")
        return repr(float(m.group(1)) / den)
    return v


def parse_params(tokens: list[str]) -> dict:
    """key=value tokens plus bare flags (flag -> True)."""
    out: dict = {}
    for tok in tokens:
        tok = tok.lstrip("+")
        if not tok:
            continue
        if "=" in tok:
            k, v = tok.split("=", 1)
            if k not in out:  # first occurrence wins (pj_param semantics)
                out[k] = _normalize_value(v)
        else:
            out.setdefault(tok, True)
    return out


def tokenize(spec: str) -> list[str]:
    spec = spec.replace(";", " ")
    # gie files write "proj = helmert" / "x =  0.06155" with spaces around '='
    spec = re.sub(r"\s*=\s*", "=", spec)
    raw = [t for t in re.split(r"\s+", spec.strip()) if t]
    # "towgs84 = a, b, c" style: a token ending in ',' continues the value
    # list in the next token (proj-string argv merging)
    out: list[str] = []
    for t in raw:
        if out and out[-1].endswith(","):
            out[-1] = out[-1] + t
        else:
            out.append(t)
    return out


# --------------------------------------------------------------------------
# steps
# --------------------------------------------------------------------------

class Step:
    """One pipeline stage. fwd/inv take and return (x, y, z, t) arrays."""

    left = "rad"
    right = "m"

    def fwd(self, x, y, z, t):  # pragma: no cover - abstract
        raise NotImplementedError

    def inv(self, x, y, z, t):  # pragma: no cover - abstract
        raise NotImplementedError


class Inverted(Step):
    """A step used in the opposite direction (proj-string ``inv`` flag)."""

    def __init__(self, base: Step):
        self.base = base
        self.left = base.right
        self.right = base.left

    def fwd(self, x, y, z, t):
        return self.base.inv(x, y, z, t)

    def inv(self, x, y, z, t):
        return self.base.fwd(x, y, z, t)


# legacy datum registry (reference src/datums.cpp pj_datums)
_DATUM_DEFS = {
    "WGS84": ("WGS84", {"towgs84": "0,0,0"}),
    "GGRS87": ("GRS80", {"towgs84": "-199.87,74.79,246.62"}),
    "NAD83": ("GRS80", {"towgs84": "0,0,0"}),
    "NAD27": ("clrk66",
              {"nadgrids": "@conus,@alaska,@ntv2_0.gsb,@ntv1_can.dat"}),
    "potsdam": ("bessel", {"nadgrids": "@BETA2007.gsb"}),
    "carthage": ("clrk80ign", {"towgs84": "-263.0,6.0,431.0"}),
    "hermannskogel": (
        "bessel",
        {"towgs84": "577.326,90.129,463.919,5.137,1.474,5.297,2.4232"}),
    "ire65": ("mod_airy",
              {"towgs84": "482.530,-130.596,564.557,-1.042,-0.214,-0.631,8.15"}),
    "nzgd49": ("intl", {"towgs84": "59.47,-5.04,187.44,0.47,-0.1,1.024,-4.5993"}),
    "OSGB36": ("airy",
               {"towgs84": "446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894"}),
}


def _datum_steps(params: dict, ell: Ellipsoid) -> list[Step]:
    """cs2cs-style datum hook (+nadgrids / +towgs84, then +geoidgrids;
    reference src/fwd.cpp fwd_prepare :87-105 and the mirrored inv path)
    as the steps run before an angular-input operation: forward moves a
    WGS84 coordinate into the operation's datum (hgridshift inverse, or
    cart WGS84 -> helmert inverse -> cart inverse), inverse moves it back."""
    steps: list[Step] = []
    if "nadgrids" in params:
        steps.append(Inverted(HgridshiftStep({"grids": str(params["nadgrids"])})))
    elif "towgs84" in params:
        vals = [float(v) for v in str(params["towgs84"]).split(",")]
        vals += [0.0] * (7 - len(vals))
        helmert = []
        if any(vals):
            hp = dict(zip(("x", "y", "z", "rx", "ry", "rz", "s"), map(str, vals)),
                      convention="position_vector")
            helmert.append(Inverted(HelmertStep(k_helmert.from_params(hp))))
        # towgs84=0,0,0 still implies the WGS84<->local ellipsoid change
        # through cartesian space (the gie corpus relies on the height
        # change; fwd.cpp applies cart_wgs84/cart regardless)
        if helmert or ell.name != "WGS84":
            steps += [CartStep(ELLIPSOIDS["WGS84"]), *helmert,
                      Inverted(CartStep(ell))]
    if "geoidgrids" in params:
        # vertical datum hook (fwd_prepare :101-103): fwd goes orthometric
        # from geometric AFTER the horizontal shift
        steps.append(VgridshiftStep({"grids": str(params["geoidgrids"])}))
    return steps


class OmitStep(Step):
    """Pipeline step skipped in one direction (+omit_fwd / +omit_inv,
    reference src/pipeline.cpp pipeline_forward_4d's omitted-step skip)."""

    def __init__(self, base: Step, omit_fwd: bool, omit_inv: bool):
        self.base = base
        self.omit_fwd = omit_fwd
        self.omit_inv = omit_inv
        self.left = base.left
        self.right = base.right

    def fwd(self, x, y, z, t):
        if self.omit_fwd:
            return x, y, z, t
        return self.base.fwd(x, y, z, t)

    def inv(self, x, y, z, t):
        if self.omit_inv:
            return x, y, z, t
        return self.base.inv(x, y, z, t)


def _direction_base(step: Step) -> Step:
    """The step under its direction flags (+inv, +omit_fwd/+omit_inv)."""
    while isinstance(step, (Inverted, OmitStep)):
        step = step.base
    return step


def _angular_domain(x, y):
    """(lon, lat, invalid) of angular input (reference src/fwd.cpp:54-72
    fwd_prepare): NaN, |lat| beyond halfpi + PJ_EPS_LAT or |lon| > 10 rad
    is an invalid coordinate; a small overshoot is clamped to the pole."""
    lon = np.asarray(x, dtype=np.float64)
    lat = np.asarray(y, dtype=np.float64)
    halfpi = 0.5 * np.pi
    bad = (np.isnan(lon) | np.isnan(lat) | (np.abs(lat) - halfpi > 1e-12)
           | (np.abs(lon) > 10.0))
    return lon, np.clip(lat, -halfpi, halfpi), bad


class ProjectionStep(Step):
    """Generic horizontal projection wrapper.

    Applies PROJ's fwd_prepare/fwd_finalize normalization around a
    dimensionless kernel (reference src/fwd.cpp:88-175): subtract lam0 with
    longitude wrap, run the kernel, scale by a and add false easting/northing.
    Built only by ``_proj_step``, from the op registry below.
    """

    left = "rad"
    right = "m"

    def __init__(self, kfwd, kinv, ell: Ellipsoid, lam0=0.0, x0=0.0, y0=0.0,
                 over: bool = False):
        self.kfwd = kfwd
        self.kinv = kinv
        self.a = ell.a
        self.ra = ell.ra
        self.lam0 = lam0
        self.x0 = x0
        self.y0 = y0
        self.over = over  # +over: skip the fwd_prepare longitude wrap
        self.pm = 0.0     # +pm= prime meridian (from_greenwich, radians)

    def fwd(self, x, y, z, t):
        xin, yin, bad = _angular_domain(x, y)
        shift = self.lam0 + self.pm
        lam = xin - shift if self.over else adjlon(xin - shift)
        with np.errstate(invalid="ignore"):
            X, Y = self.kfwd(lam, yin)
            # in-band NaN propagation (PROJ's HUGE_VAL convention,
            # reference src/fwd.cpp:42-44): NaN in => NaN out, even where a
            # kernel's masking would otherwise produce a finite sentinel
            X = np.where(bad, np.nan, X)
            Y = np.where(bad, np.nan, Y)
        return self.a * X + self.x0, self.a * Y + self.y0, z, t

    def inv(self, x, y, z, t):
        xin = np.asarray(x, dtype=np.float64)
        yin = np.asarray(y, dtype=np.float64)
        X = (xin - self.x0) * self.ra
        Y = (yin - self.y0) * self.ra
        with np.errstate(invalid="ignore"):
            lam, phi = self.kinv(X, Y)
            bad = np.isnan(xin) | np.isnan(yin)
            lam = np.where(bad, np.nan, lam)
            phi = np.where(bad, np.nan, phi)
        shift = self.lam0 + self.pm
        lam = lam + shift if self.over else adjlon(lam + shift)
        return lam, phi, z, t


class UTMAutoStep(Step):
    """UTM with per-point zone selection — the Spark-native twist.

    The Poder/Engsager series constants depend only on (ellipsoid, k0), NOT
    on the central meridian, so a single kernel handles every zone: lam0 is
    a per-point array derived from the zone formula (reference
    tmerc.cpp:763-767) and the south false northing is a per-point where().
    This keeps mixed-zone batches fully vectorized with no per-zone loop,
    no repartition, no shuffle.
    """

    left = "rad"
    right = "m"

    def __init__(self, ell: Ellipsoid):
        self.C = k_tmerc.setup_exact(ell, k0=0.9996, phi0=0.0)
        self.a = ell.a

    def fwd(self, x, y, z, t):
        lon, lat, bad = _angular_domain(x, y)
        lam0 = (k_tmerc.utm_zone(lon) - 0.5) * np.pi / 30.0 - np.pi
        with np.errstate(invalid="ignore"):
            X, Y = k_tmerc.exact_fwd(adjlon(lon - lam0), lat, self.C)
        X = np.where(bad, np.nan, X)
        Y = np.where(bad, np.nan, Y)
        y0 = np.where(lat < 0, 10000000.0, 0.0)
        return self.a * X + 500000.0, self.a * Y + y0, z, t

    def inv(self, x, y, z, t):
        raise NotImplementedError(
            "utm_auto inverse needs an explicit zone column; use +proj=utm +zone=N"
        )


class CartStep(Step):
    left = "rad"
    right = "cart"

    def __init__(self, ell: Ellipsoid):
        self.ell = ell

    def fwd(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        # a latitude beyond halfpi + PJ_EPS_LAT is invalid (fwd_prepare)
        y = np.where(np.abs(y) - 0.5 * np.pi > 1e-12, np.nan, y)
        X, Y, Z = k_cart.cart_fwd(x, y, zz, self.ell)
        return X, Y, Z, t

    def inv(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        lam, phi, h = k_cart.cart_inv(x, y, zz, self.ell)
        return lam, phi, h, t


class HelmertStep(Step):
    left = "cart"
    right = "cart"

    def __init__(self, C: k_helmert.HelmertConsts):
        self.C = C

    def fwd(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        X, Y, Z = k_helmert.helmert_fwd(x, y, zz, self.C, t=t)
        return X, Y, Z, t

    def inv(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        X, Y, Z = k_helmert.helmert_inv(x, y, zz, self.C, t=t)
        return X, Y, Z, t


class AxisswapStep(Step):
    """Reorder/negate axes (reference src/conversions/axisswap.cpp)."""

    left = "whatever"
    right = "whatever"

    def __init__(self, order: str):
        spec = [int(v) for v in order.split(",")]
        if sorted(abs(v) for v in spec) != list(range(1, len(spec) + 1)):
            raise ValueError(f"invalid axisswap order {order!r}")
        self.spec = spec

    def _apply(self, perm, x, y, z, t):
        cols = [x, y, z, t]
        out = list(cols)
        for dst, src in enumerate(perm):
            v = cols[abs(src) - 1]
            out[dst] = -v if (src < 0 and v is not None) else v
        return tuple(out)

    def fwd(self, x, y, z, t):
        return self._apply(self.spec, x, y, z, t)

    def inv(self, x, y, z, t):
        inverse = [0] * len(self.spec)
        for dst, src in enumerate(self.spec):
            inverse[abs(src) - 1] = (dst + 1) * (1 if src > 0 else -1)
        return self._apply(inverse, x, y, z, t)


_AXIS_CHARS = {"e": "1", "w": "-1", "n": "2", "s": "-2", "u": "3", "d": "-3"}


def _axisswap_order(params: dict) -> str:
    """+order, or the classic +axis=enu-style spec translated to an order
    string (reference axisswap.cpp:216-252: same gather permutation)."""
    if "order" in params and "axis" in params:
        raise ValueError("axisswap: order and axis are mutually exclusive")
    if "order" in params:
        return str(params["order"])
    if "axis" in params:
        ax = str(params["axis"])
        if len(ax) != 3 or any(c not in _AXIS_CHARS for c in ax):
            raise ValueError(f"axisswap: invalid axis spec {ax!r}")
        return ",".join(_AXIS_CHARS[c] for c in ax)
    raise ValueError("axisswap: must provide either order or axis")


_LINEAR_UNITS = {
    "m": 1.0, "km": 1000.0, "dm": 0.1, "cm": 0.01, "mm": 0.001,
    "ft": 0.3048, "us-ft": 1200.0 / 3937.0, "yd": 0.9144,
    "in": 0.0254, "mi": 1609.344, "nmi": 1852.0,
}
_ANGULAR_UNITS = {"rad": 1.0, "deg": DEG2RAD, "grad": math.pi / 200.0}


def _to_meter(params: dict, key: str, units_key: str) -> float:
    """Metres per unit from +to_meter/+units (or +vto_meter/+vunits)."""
    if key in params:
        return float(params[key])
    units = params.get(units_key)
    return 1.0 if units in (None, "m", True) else _LINEAR_UNITS[units]


class UnitconvertStep(Step):
    """Linear + angular unit conversion (reference src/conversions/unitconvert.cpp):
    fwd multiplies x and y by ``xy`` and z by ``z`` (a None factor leaves
    its lanes alone), inv divides; time units (mjd, decimalyear, gps_week,
    yyyymmdd) act on t only. Also the output unit scaling of every
    operation's +units/+vunits (fwd.cpp fwd_finalize fr_meter and
    vfr_meter)."""

    left = "whatever"
    right = "whatever"

    def __init__(self, xy: float | None = None, z: float | None = None,
                 t_in: str | None = None, t_out: str | None = None):
        self.xy = xy
        self.z = z
        self.t_in = t_in
        self.t_out = t_out

    def _time(self, t, src, dst):
        if t is None or src is None or dst is None or src == dst:
            return t
        return _MJD_TO_TIME[dst](_TIME_TO_MJD[src](np.asarray(t, dtype=np.float64)))

    def _scaled(self, op, x, y, z):
        if self.xy is not None:
            x = op(np.asarray(x, dtype=np.float64), self.xy)
            y = op(np.asarray(y, dtype=np.float64), self.xy)
        if self.z is not None and z is not None:
            z = op(np.asarray(z, dtype=np.float64), self.z)
        return x, y, z

    def fwd(self, x, y, z, t):
        return (*self._scaled(np.multiply, x, y, z),
                self._time(t, self.t_in, self.t_out))

    def inv(self, x, y, z, t):
        return (*self._scaled(np.divide, x, y, z),
                self._time(t, self.t_out, self.t_in))


# time-unit conversions through the MJD pivot (reference
# src/conversions/unitconvert.cpp:90-270 — epoch 1858-11-17, gps epoch
# mjd 44244). Vectorized with numpy datetime64 day arithmetic.
_MJD_EPOCH = np.datetime64("1858-11-17", "D")


def _year_start_mjd(year: np.ndarray) -> np.ndarray:
    y = (year - 1970).astype("datetime64[Y]").astype("datetime64[D]")
    return (y - _MJD_EPOCH).astype(np.float64)


def _days_in_year(year: np.ndarray) -> np.ndarray:
    return _year_start_mjd(year + 1) - _year_start_mjd(year)


def _decimalyear_to_mjd(dy: np.ndarray) -> np.ndarray:
    year = np.floor(dy).astype(np.int64)
    frac = dy - year
    return _year_start_mjd(year) + frac * _days_in_year(year)


def _mjd_to_decimalyear(mjd: np.ndarray) -> np.ndarray:
    # year containing the mjd: datetime64 day -> year
    d = (_MJD_EPOCH + mjd.astype("timedelta64[D]")).astype("datetime64[Y]")
    year = d.astype(np.int64) + 1970
    return year + (mjd - _year_start_mjd(year)) / _days_in_year(year)


def _yyyymmdd_to_mjd(v: np.ndarray) -> np.ndarray:
    year = np.floor(v / 10000).astype(np.int64)
    month = np.floor((v - year * 10000) / 100).astype(np.int64)
    day = np.floor(v - year * 10000 - month * 100).astype(np.int64)
    d = ((year - 1970).astype("datetime64[Y]").astype("datetime64[M]")
         + (month - 1).astype("timedelta64[M]")).astype("datetime64[D]") \
        + (day - 1).astype("timedelta64[D]")
    return (d - _MJD_EPOCH).astype(np.float64)


def _mjd_to_yyyymmdd(mjd: np.ndarray) -> np.ndarray:
    d = _MJD_EPOCH + np.floor(mjd).astype("timedelta64[D]")
    ym = d.astype("datetime64[M]")
    year = d.astype("datetime64[Y]").astype(np.int64) + 1970
    month = ym.astype(np.int64) % 12 + 1
    day = (d - ym).astype(np.int64) + 1
    return (year * 10000 + month * 100 + day).astype(np.float64)


_TIME_TO_MJD = {
    "mjd": lambda t: t,
    "decimalyear": _decimalyear_to_mjd,
    "gps_week": lambda t: 44244.0 + t * 7.0,
    "yyyymmdd": _yyyymmdd_to_mjd,
}
_MJD_TO_TIME = {
    "mjd": lambda t: t,
    "decimalyear": _mjd_to_decimalyear,
    "gps_week": lambda t: (t - 44244.0) / 7.0,
    "yyyymmdd": _mjd_to_yyyymmdd,
}


def _unit_factor(name) -> tuple[float, str]:
    """(factor to metres or radians, "linear" | "angular") of a unit name;
    a bare number is a linear factor (reference unitconvert.cpp)."""
    if name in _ANGULAR_UNITS:
        return _ANGULAR_UNITS[name], "angular"
    try:
        f = _LINEAR_UNITS[name] if name in _LINEAR_UNITS else float(name)
    except (TypeError, ValueError):
        raise ValueError(f"unknown unit {name!r}") from None
    if not (f > 0) or not math.isfinite(f):
        raise ValueError(f"invalid unit factor {name!r}")
    return f, "linear"


def _unit_ratio(params: dict, lane: str) -> tuple[float, str]:
    """(factor, kind) of unitconvert's +<lane>_in/+<lane>_out pair; a
    conversion between unit classes is an instantiation error (gie
    unitconvert.gie expects failure for z_in=rad z_out=m)."""
    (fi, kin), (fo, kout) = (_unit_factor(params.get(f"{lane}_{end}", "m"))
                             for end in ("in", "out"))
    if kin != kout:
        raise ValueError(f"unitconvert: mixed linear/angular {lane} units")
    return fi / fo, kin


def _build_unitconvert(params: dict) -> Step:
    xy = z = tags = None
    if "xy_in" in params or "xy_out" in params:
        xy, kind = _unit_ratio(params, "xy")
        # IO-unit tags like the reference (unitconvert.cpp:488-517):
        # angular input/output is RADIANS or DEGREES so the caller knows
        # whether gie-style deg<->rad normalization applies.
        if kind == "angular":
            tags = tuple("rad" if params.get(k) == "rad" else "deg"
                         for k in ("xy_in", "xy_out"))
    if "z_in" in params or "z_out" in params:
        z, _ = _unit_ratio(params, "z")
    t_in, t_out = params.get("t_in"), params.get("t_out")
    for name in (t_in, t_out):
        if name is not None and name not in _TIME_TO_MJD:
            raise NotImplementedError(f"time unit {name!r} not supported")
    step = UnitconvertStep(xy, z, t_in, t_out)
    if tags is not None:
        step.left, step.right = tags
    return step


class NoopStep(Step):
    left = "whatever"
    right = "whatever"

    def fwd(self, x, y, z, t):
        return x, y, z, t

    inv = fwd


class SetStep(Step):
    """Force components to constants (reference src/conversions/set.cpp);
    applied in BOTH directions like the reference."""

    left = "whatever"
    right = "whatever"

    def __init__(self, params: dict):
        self.vals = {
            i: float(params[f"v_{i}"]) for i in (1, 2, 3, 4) if f"v_{i}" in params
        }

    def _apply(self, x, y, z, t):
        comps = [x, y, z, t]
        for i, v in self.vals.items():
            ref = comps[0] if comps[0] is not None else np.array([0.0])
            comps[i - 1] = np.full_like(np.asarray(ref, dtype=np.float64), v)
        return tuple(comps)

    fwd = _apply
    inv = _apply


class AffineStep(Step):
    """4D affine transform (reference src/transformations/affine.cpp):
    out = offset + S @ in; reverse uses the inverted 3x3 + tscale."""

    left = "whatever"
    right = "whatever"

    def __init__(self, params: dict):
        g = lambda k, d: float(params.get(k, d))
        self.off = np.array([g("xoff", 0), g("yoff", 0), g("zoff", 0)])
        self.toff = g("toff", 0)
        self.S = np.array([
            [g("s11", 1), g("s12", 0), g("s13", 0)],
            [g("s21", 0), g("s22", 1), g("s23", 0)],
            [g("s31", 0), g("s32", 0), g("s33", 1)],
        ])
        self.tscale = g("tscale", 1)
        # defer inversion: a singular matrix is fine if only the forward
        # direction is ever used (e.g. +omit_inv pipelines; reference
        # affine.cpp inverts lazily in reverse_4d)
        self._Sinv = None

    @property
    def Sinv(self):
        if self._Sinv is None:
            self._Sinv = np.linalg.inv(self.S)
        return self._Sinv

    def _xyz(self, x, y, z):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        return (np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64),
                np.asarray(zz, dtype=np.float64))

    def fwd(self, x, y, z, t):
        X, Y, Z = self._xyz(x, y, z)
        P = np.stack([X, Y, Z]) if X.ndim else np.array([[X], [Y], [Z]])
        out = self.S @ P + self.off[:, None]
        tt = None if t is None else self.toff + self.tscale * np.asarray(t)
        return out[0], out[1], (out[2] if z is not None else z), tt

    def inv(self, x, y, z, t):
        if self.tscale == 0.0:
            # reference affine.cpp:158: tscale == 0 marks the WHOLE
            # operation non-invertible (same as a singular matrix), not
            # just the time lane
            raise ValueError("affine: matrix non invertible (tscale=0)")
        X, Y, Z = self._xyz(x, y, z)
        P = np.stack([X, Y, Z]) - self.off[:, None]
        out = self.Sinv @ P
        tt = None if t is None else (np.asarray(t) - self.toff) / self.tscale
        return out[0], out[1], (out[2] if z is not None else z), tt


class GeogoffsetStep(Step):
    """Constant geographic offset (reference affine.cpp geogoffset):
    +dlon/+dlat in arc-seconds, +dh metres."""

    left = "rad"
    right = "rad"

    _SEC2RAD = math.pi / (180.0 * 3600.0)

    def __init__(self, params: dict):
        self.dlam = float(params.get("dlon", 0.0)) * self._SEC2RAD
        self.dphi = float(params.get("dlat", 0.0)) * self._SEC2RAD
        self.dh = float(params.get("dh", 0.0))

    def fwd(self, x, y, z, t):
        zz = None if z is None else np.asarray(z, dtype=np.float64) + self.dh
        return (np.asarray(x, dtype=np.float64) + self.dlam,
                np.asarray(y, dtype=np.float64) + self.dphi, zz, t)

    def inv(self, x, y, z, t):
        zz = None if z is None else np.asarray(z, dtype=np.float64) - self.dh
        return (np.asarray(x, dtype=np.float64) - self.dlam,
                np.asarray(y, dtype=np.float64) - self.dphi, zz, t)


class MolodenskyStep(Step):
    """Approximate direct geodetic datum shift (src/transformations/
    molodensky.cpp; gie tolerance 2 m)."""

    left = "rad"
    right = "rad"

    def __init__(self, params: dict):
        from proj_spark.kernels import molodensky as k

        self.k = k
        self.C = k.setup_molodensky(resolve_ellipsoid(params), params)

    def fwd(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        lam, phi, h = self.k.molodensky_fwd(x, y, zz, self.C)
        return lam, phi, (h if z is not None else z), t

    def inv(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        lam, phi, h = self.k.molodensky_inv(x, y, zz, self.C)
        return lam, phi, (h if z is not None else z), t


class _GridStep(Step):
    """hgridshift/vgridshift: the mandatory +grids list and the temporal
    gate (reference hgridshift.cpp fwd_4d :73-95, vgridshift.cpp fwd_4d
    :90-114): the shift applies only when t < t_epoch and t_final >
    t_epoch. "now" just needs to order after any t_epoch — a fixed future
    constant, NOT the wall clock (determinism for resume)."""

    left = "rad"
    right = "rad"

    def __init__(self, params: dict, reader):
        from proj_spark.sources import grids

        if "grids" not in params:
            raise ValueError(f"{self.op}: +grids is mandatory")
        self.grids = grids.load(str(params["grids"]), reader)
        tf = params.get("t_final")
        self.t_final = (3000.0 if tf == "now" else float(tf)) if tf else 0.0
        self.t_epoch = float(params.get("t_epoch", 0.0))

    def _gate(self, t, shifted, unshifted):
        """Each shifted array where the gate applies, else unshifted."""
        if self.t_final == 0.0 or self.t_epoch == 0.0 or t is None:
            return shifted
        tt = np.asarray(t, dtype=np.float64)
        apply_mask = (tt < self.t_epoch) & (self.t_final > self.t_epoch)
        return tuple(np.where(apply_mask, s, u)
                     for s, u in zip(shifted, unshifted))


class HgridshiftStep(_GridStep):
    """Horizontal datum shift by NTv2 grid (reference
    src/transformations/hgridshift.cpp + grids.cpp apply path). The grid
    arrays ride into Spark executors by closure capture (broadcast)."""

    op = "hgridshift"

    def __init__(self, params: dict):
        from proj_spark.sources.grids import read_hgrids

        super().__init__(params, read_hgrids)

    def fwd(self, x, y, z, t):
        from proj_spark.kernels.gridshift import hgridshift_fwd

        lam, phi = self._gate(t, hgridshift_fwd(x, y, self.grids), (x, y))
        return lam, phi, z, t

    def inv(self, x, y, z, t):
        from proj_spark.kernels.gridshift import hgridshift_inv

        lam, phi = self._gate(t, hgridshift_inv(x, y, self.grids), (x, y))
        return lam, phi, z, t


class VgridshiftStep(_GridStep):
    """Vertical (geoid) shift from a GTX or GeoTIFF grid (reference
    src/transformations/vgridshift.cpp; forward z += value * multiplier,
    default multiplier -1.0, :201)."""

    op = "vgridshift"

    def __init__(self, params: dict):
        from dataclasses import replace

        from proj_spark.sources.grids import read_vgrids

        super().__init__(params, read_vgrids)
        self.mult = float(params.get("multiplier", -1.0))
        # GTX nodata sentinels -> NaN so the bilinear kernel drops those
        # corners and renormalizes (reference grids.cpp GTXVerticalShiftGrid
        # ::isNodata :355-362: |val*mult| > 1000 or val == -88.8888f);
        # GeoTIFF grids use their GDAL_NODATA tag (applied by the reader)
        for i, g in enumerate(self.grids):
            if not g.gtx:
                continue
            bad = (np.abs(g.values * np.float32(self.mult)) > 1000.0) \
                | (g.values == np.float32(-88.88880))
            if bad.any():
                vals = g.values.copy()
                vals[bad] = np.nan
                self.grids[i] = replace(g, values=vals)

    def _shifted(self, x, y, z, t, sign):
        from proj_spark.kernels.gridshift import vgrid_value

        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        shift, = self._gate(t, (vgrid_value(x, y, self.grids) * self.mult,),
                            (0.0,))
        # outside every grid is a whole-coordinate error (reference
        # read_vgrid_value returns HUGE_VAL and vgridshift.cpp errors the
        # PJ_COORD), not just a missing z
        bad = np.isnan(shift)
        return (np.where(bad, np.nan, x), np.where(bad, np.nan, y),
                zz + sign * shift, t)

    def fwd(self, x, y, z, t):
        return self._shifted(x, y, z, t, 1.0)

    def inv(self, x, y, z, t):
        return self._shifted(x, y, z, t, -1.0)


class PushStep(Step):
    """Save coordinate components across pipeline steps (reference
    src/pipeline.cpp push/pop, stack per component :139); ``pop`` is this
    step inverted. Stack lives on the Pipeline during execution."""

    left = "whatever"
    right = "whatever"

    def __init__(self, params: dict):
        self.indices = [i for i in (1, 2, 3, 4) if f"v_{i}" in params]
        self.stack: dict[int, list] | None = None  # bound by Pipeline

    def fwd(self, x, y, z, t):
        comps = [x, y, z, t]
        for i in self.indices:
            v = comps[i - 1]  # an absent lane pops back absent
            self.stack[i].append(None if v is None else np.copy(v))
        return x, y, z, t

    def inv(self, x, y, z, t):  # inverse direction: push acts as pop
        comps = [x, y, z, t]
        for i in self.indices:
            if self.stack[i]:
                comps[i - 1] = self.stack[i].pop()
        return tuple(comps)


class LatlongStep(NoopStep):
    """Identity with angular unit bookkeeping (reference src/projections/latlong.cpp)."""

    left = "rad"
    right = "rad"


class SchStep(Step):
    """Spherical Cross-track Height (reference src/projections/sch.cpp,
    JPL/ISCE radar geometry): geodetic -> geocentric -> peg-rotated local
    sphere of radius rcurv -> (s, c, h). Outputs real metres."""

    left = "rad"
    right = "m"

    def __init__(self, params: dict):
        from proj_spark.kernels import cart as k_cart

        self.ell = resolve_ellipsoid(params)
        self.k_cart = k_cart
        if "plat_0" not in params or "plon_0" not in params or "phdg_0" not in params:
            raise ValueError("sch: plat_0, plon_0, phdg_0 are mandatory")
        plat = _angle(params, "plat_0")
        plon = _angle(params, "plon_0")
        phdg = _angle(params, "phdg_0")
        h0 = float(params.get("h_0", 0.0))
        clt, slt = math.cos(plat), math.sin(plat)
        clo, slo = math.cos(plon), math.sin(plon)
        temp = math.sqrt(1.0 - self.ell.es * slt * slt)
        reast = self.ell.a / temp
        rnorth = self.ell.a * (1.0 - self.ell.es) / temp ** 3
        chdg, shdg = math.cos(phdg), math.sin(phdg)
        self.rcurv = h0 + (reast * rnorth) / (
            reast * chdg * chdg + rnorth * shdg * shdg)
        self.sphere = Ellipsoid.sphere(self.rcurv)
        self.M = (
            clt * clo, -shdg * slo - slt * clo * chdg, slo * chdg - slt * clo * shdg,
            clt * slo, clo * shdg - slt * slo * chdg, -clo * chdg - slt * slo * shdg,
            slt, clt * chdg, clt * shdg,
        )
        X, Y, Z = k_cart.cart_fwd(
            np.array([plon]), np.array([plat]), np.array([h0]), self.ell)
        self.off = (float(X[0]) - self.rcurv * clt * clo,
                    float(Y[0]) - self.rcurv * clt * slo,
                    float(Z[0]) - self.rcurv * slt)

    def fwd(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        X, Y, Z = self.k_cart.cart_fwd(x, y, zz, self.ell)
        X = X - self.off[0]
        Y = Y - self.off[1]
        Z = Z - self.off[2]
        M = self.M
        Xr = M[0] * X + M[3] * Y + M[6] * Z
        Yr = M[1] * X + M[4] * Y + M[7] * Z
        Zr = M[2] * X + M[5] * Y + M[8] * Z
        lam, phi, h = self.k_cart.cart_inv(Xr, Yr, Zr, self.sphere)
        return lam * self.rcurv, phi * self.rcurv, h, t

    def inv(self, x, y, z, t):
        lam = np.asarray(x, dtype=np.float64) / self.rcurv
        phi = np.asarray(y, dtype=np.float64) / self.rcurv
        zz = z if z is not None else np.zeros_like(lam)
        X, Y, Z = self.k_cart.cart_fwd(lam, phi, zz, self.sphere)
        M = self.M
        Xr = M[0] * X + M[1] * Y + M[2] * Z
        Yr = M[3] * X + M[4] * Y + M[5] * Z
        Zr = M[6] * X + M[7] * Y + M[8] * Z
        Xr = Xr + self.off[0]
        Yr = Yr + self.off[1]
        Zr = Zr + self.off[2]
        lam, phi, h = self.k_cart.cart_inv(Xr, Yr, Zr, self.ell)
        return lam, phi, h, t


class S2Step(Step):
    """+proj=s2 — the registry cube-face projection (reference
    src/projections/s2.cpp): fixed face from lon_0/lat_0, geodetic->
    geocentric shift on the ellipsoid, UV->ST by +UVtoST=linear|quadratic|
    tangent|none. Consumes ABSOLUTE longitude (the reference cancels the
    lam0 shift via from_greenwich = -lam0, s2.cpp:431) and emits raw (s,t)
    in [0,1] (IO_UNITS_PROJECTED — no a-scaling)."""

    left = "rad"
    right = "m"

    def __init__(self, params: dict):
        ell = resolve_ellipsoid(params)
        self.es = ell.es
        omf = 1.0 - ell.f
        self.omf = omf
        self.omf2 = omf * omf
        self.a = ell.a
        self.b = ell.b
        lam0 = _angle(params, "lon_0")
        phi0 = _angle(params, "lat_0")
        # standard S2 face ids: 0=+X 1=+Y 2=+Z 3=-X 4=-Y 5=-Z
        # (s2.cpp enum :67-72 — note TOP=2, BACK=3, LEFT=4, unlike qsc)
        fortpi, halfpi = math.pi / 4, math.pi / 2
        if phi0 >= halfpi - fortpi / 2.0:
            self.face = 2   # top (+Z)
        elif phi0 <= -(halfpi - fortpi / 2.0):
            self.face = 5   # bottom (-Z)
        elif abs(lam0) <= fortpi:
            self.face = 0   # front (+X)
        elif abs(lam0) <= halfpi + fortpi:
            self.face = 1 if lam0 > 0 else 4
        else:
            self.face = 3   # back (-X)
        self.kind = str(params.get("UVtoST", "quadratic"))
        if self.kind not in ("linear", "quadratic", "tangent", "none"):
            raise ValueError(f"s2: invalid UVtoST {self.kind!r}")

    def _uv_to_st(self, u):
        if self.kind == "linear":
            return 0.5 * (u + 1.0)
        if self.kind == "quadratic":
            return uv_to_st(u)
        if self.kind == "tangent":
            return (2.0 / math.pi) * (np.arctan(u) + math.pi / 4)
        return u

    def _st_to_uv(self, s):
        if self.kind == "linear":
            return 2.0 * s - 1.0
        if self.kind == "quadratic":
            return np.where(s >= 0.5, (1 / 3.0) * (4.0 * s * s - 1.0),
                            (1 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))
        if self.kind == "tangent":
            t = np.tan(math.pi / 2 * s - math.pi / 4)
            return t + (1.0 / (1 << 53)) * t
        return s

    def fwd(self, x, y, z, t):
        lam = np.asarray(x, dtype=np.float64)
        phi = np.asarray(y, dtype=np.float64)
        if self.es != 0.0:
            phi = np.arctan(self.omf2 * np.tan(phi))
        coslat = np.cos(phi)
        X = coslat * np.cos(lam)
        Y = coslat * np.sin(lam)
        Z = np.sin(phi)
        # ValidFaceXYZtoUV (s2.cpp:260-288)
        with np.errstate(divide="ignore", invalid="ignore"):
            u, v = [
                (Y / X, Z / X), (-X / Y, Z / Y), (-X / Z, -Y / Z),
                (Z / X, Y / X), (Z / Y, -X / Y), (-Y / Z, -X / Z),
            ][self.face]
        return self._uv_to_st(u), self._uv_to_st(v), z, t

    def inv(self, x, y, z, t):
        u = self._st_to_uv(np.asarray(x, dtype=np.float64))
        v = self._st_to_uv(np.asarray(y, dtype=np.float64))
        major = 1.0 / np.sqrt(1.0 + u * u + v * v)
        m1 = u * major
        m2 = v * major
        q, r, s = [
            (major, m1, m2), (-m1, major, m2), (-m1, -m2, major),
            (-major, -m2, -m1), (m2, -major, -m1), (m2, m1, -major),
        ][self.face]
        phi = np.arccos(np.clip(-s, -1, 1)) - math.pi / 2
        lam = np.arctan2(r, q)
        if self.es != 0.0:
            neg = phi < 0.0
            tanphi = np.tan(phi)
            with np.errstate(divide="ignore", invalid="ignore"):
                xa = self.b / np.sqrt(tanphi * tanphi + self.omf2)
                phi = np.arctan(np.sqrt(np.maximum(
                    self.a * self.a - xa * xa, 0.0)) / (self.omf * xa))
            phi = np.where(neg, -phi, phi)
        return lam, phi, z, t


class GridshiftStep(Step):
    """+proj=gridshift — unified GeoTIFF grid shift (kernels/geogrid.py).
    IO is radians for geographic grids, raw projected metres otherwise."""

    def __init__(self, params: dict):
        from proj_spark.kernels.geogrid import GridshiftTransform

        if "grids" not in params:
            raise ValueError("gridshift: +grids parameter missing")
        self.t = GridshiftTransform(
            str(params["grids"]),
            interpolation=str(params.get("interpolation", "")),
            no_z_transform="no_z_transform" in params)
        self.left = self.right = "m" if self.t.is_projected else "rad"

    def fwd(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        X, Y, Z = self.t.fwd(x, y, zz)
        return X, Y, (Z if z is not None else z), t

    def inv(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        X, Y, Z = self.t.inv(x, y, zz)
        return X, Y, (Z if z is not None else z), t


class XyzgridshiftStep(Step):
    """+proj=xyzgridshift — geocentric translation by geographic grid
    (reference src/transformations/xyzgridshift.cpp): convert XYZ to
    geodetic on the given ellipsoid, bilinearly sample
    x/y/z_translation, add (direct) or fixed-point iterate (when the grid
    is referenced to the other CRS)."""

    left = "cart"
    right = "cart"
    _CHANNELS = (("x_translation", "y_translation", "z_translation"),
                 (0, 1, 2))

    def __init__(self, params: dict):
        from proj_spark.sources import grids

        if "grids" not in params:
            raise ValueError("xyzgridshift: +grids parameter missing")
        self.ell = resolve_ellipsoid(params)
        self.grids = grids.load_channels(str(params["grids"]), *self._CHANNELS)
        self.mult = float(params.get("multiplier", 1.0))
        grid_ref = str(params.get("grid_ref", "input_crs"))
        if grid_ref not in ("input_crs", "output_crs"):
            raise ValueError("xyzgridshift: unsupported grid_ref")
        self.ref_is_input = grid_ref == "input_crs"

    def _shift(self, X, Y, Z):
        from proj_spark.kernels.geogrid import sample3

        lam, phi, _h = k_cart.cart_inv(X, Y, Z, self.ell)
        dx, dy, dz = sample3(self.grids, lam, phi, *self._CHANNELS)
        return dx * self.mult, dy * self.mult, dz * self.mult

    def _direct(self, X, Y, Z, factor):
        dx, dy, dz = self._shift(X, Y, Z)
        return X + factor * dx, Y + factor * dy, Z + factor * dz

    def _iterative(self, X, Y, Z, factor):
        PX, PY, PZ = X.copy(), Y.copy(), Z.copy()
        for _ in range(10):
            dx, dy, dz = self._shift(PX, PY, PZ)
            dx *= factor
            dy *= factor
            dz *= factor
            err = ((PX - X - dx) ** 2 + (PY - Y - dy) ** 2
                   + (PZ - Z - dz) ** 2)
            PX = X + dx
            PY = Y + dy
            PZ = Z + dz
            if np.all(err < 1e-10):
                break
        return PX, PY, PZ

    def fwd(self, x, y, z, t):
        X = np.asarray(x, dtype=np.float64)
        Y = np.asarray(y, dtype=np.float64)
        Z = np.asarray(z, dtype=np.float64) if z is not None else np.zeros_like(X)
        if self.ref_is_input:
            X, Y, Z = self._direct(X, Y, Z, 1.0)
        else:
            X, Y, Z = self._iterative(X, Y, Z, 1.0)
        return X, Y, Z, t

    def inv(self, x, y, z, t):
        X = np.asarray(x, dtype=np.float64)
        Y = np.asarray(y, dtype=np.float64)
        Z = np.asarray(z, dtype=np.float64) if z is not None else np.zeros_like(X)
        if self.ref_is_input:
            X, Y, Z = self._iterative(X, Y, Z, -1.0)
        else:
            X, Y, Z = self._direct(X, Y, Z, -1.0)
        return X, Y, Z, t


class DeformationStep(Step):
    """+proj=deformation — kinematic velocity-model shift (reference
    src/transformations/deformation.cpp): XYZ -> geodetic, bilinear ENU
    velocities (mm/yr / 1000), ENU -> XYZ rotation (Norbech et al. 2003),
    out = in + dt * v; inverse via fixed-point iteration with the
    reference's exact z bookkeeping (:196-238). Velocities from a 3-channel
    GeoTIFF (+grids) or legacy CTable2 + GTX pair (+xy_grids/+z_grids)."""

    left = "cart"
    right = "cart"
    _CHANNELS = (("east_velocity", "north_velocity", "up_velocity"),
                 (0, 1, 2))

    def __init__(self, params: dict):
        from proj_spark.sources import grids

        self.ell = resolve_ellipsoid(params)
        self.dt = float(params["dt"]) if "dt" in params else None
        self.t_epoch = float(params["t_epoch"]) if "t_epoch" in params else None
        if self.dt is None and self.t_epoch is None:
            raise ValueError("deformation: +dt or +t_epoch is mandatory")
        self.grids = None
        if "grids" in params:
            self.grids = grids.load_channels(str(params["grids"]),
                                             *self._CHANNELS)
        else:
            if "xy_grids" not in params or "z_grids" not in params:
                raise ValueError(
                    "deformation: +grids or +xy_grids/+z_grids mandatory")
            self.hgrids = grids.load(str(params["xy_grids"]),
                                     grids.read_velocities)
            self.vgrids = grids.load(str(params["z_grids"]), grids.read_vgrids)

    def _velocity(self, X, Y, Z):
        """(vx, vy, vz) cartesian m/yr at geocentric positions."""
        lam, phi, _h = k_cart.cart_inv(X, Y, Z, self.ell)
        if self.grids is not None:
            from proj_spark.kernels.geogrid import sample3

            e, n, u = (v / 1000.0 for v in sample3(self.grids, lam, phi,
                                                   *self._CHANNELS))
        else:
            from proj_spark.kernels.gridshift import hgrid_apply, vgrid_value

            e, n = (v / 1000.0 for v in hgrid_apply(lam, phi, self.hgrids)[:2])
            u = vgrid_value(lam, phi, self.vgrids) / 1000.0
        sp, cp = np.sin(phi), np.cos(phi)
        sl, cl = np.sin(lam), np.cos(lam)
        vx = -sp * cl * n - sl * e + cp * cl * u
        vy = -sp * sl * n + cl * e + cp * sl * u
        vz = cp * n + sp * u
        return vx, vy, vz

    def _dt(self, t):
        if self.dt is not None:
            return self.dt
        if t is None:
            raise ValueError("deformation: 4D input needs a t coordinate")
        return np.asarray(t, dtype=np.float64) - self.t_epoch

    def fwd(self, x, y, z, t):
        X = np.asarray(x, dtype=np.float64)
        Y = np.asarray(y, dtype=np.float64)
        Z = np.asarray(z, dtype=np.float64) if z is not None else np.zeros_like(X)
        dt = self._dt(t)
        vx, vy, vz = self._velocity(X, Y, Z)
        return X + dt * vx, Y + dt * vy, Z + dt * vz, t

    def inv(self, x, y, z, t):
        X = np.asarray(x, dtype=np.float64)
        Y = np.asarray(y, dtype=np.float64)
        Z = np.asarray(z, dtype=np.float64) if z is not None else np.zeros_like(X)
        dt = self._dt(t)
        vx, vy, vz = self._velocity(X, Y, Z)
        z0 = vz.copy()
        ox = X - dt * vx
        oy = Y - dt * vy
        oz = Z + dt * vz          # reference :216 keeps +dt*vz while iterating
        done = np.zeros(X.shape, dtype=bool)
        for _ in range(10):
            vx, vy, vz = self._velocity(ox, oy, oz)
            bad = np.isnan(vx)
            difx = np.where(bad, 0.0, ox + dt * vx - X)
            dify = np.where(bad, 0.0, oy + dt * vy - Y)
            difz = np.where(bad, 0.0, oz - dt * vz - Z)
            ox = np.where(done, ox, ox + difx)
            oy = np.where(done, oy, oy + dify)
            oz = np.where(done, oz, oz + difz)
            done |= np.hypot(difx, dify) <= 1e-8
            done |= bad
            if done.all():
                break
        oz = Z - dt * z0
        return ox, oy, oz, t


class TinshiftStep(Step):
    """+proj=tinshift (kernels/tinshift.py). IO is raw coordinates in the
    triangulation's CRS (the reference declares WHATEVER units)."""

    left = "m"
    right = "m"

    def __init__(self, params: dict):
        from proj_spark.kernels.tinshift import parse_tinshift
        from proj_spark.sources import grids

        if "file" not in params:
            raise ValueError("tinshift: +file parameter missing")
        self.T = grids.read(grids.require(str(params["file"]), "tinshift file"),
                            parse_tinshift)

    def fwd(self, x, y, z, t):
        from proj_spark.kernels.tinshift import tinshift_apply

        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        X, Y, Z = tinshift_apply(self.T, x, y, zz, True)
        return X, Y, (Z if z is not None else z), t

    def inv(self, x, y, z, t):
        from proj_spark.kernels.tinshift import tinshift_apply

        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        X, Y, Z = tinshift_apply(self.T, x, y, zz, False)
        return X, Y, (Z if z is not None else z), t


class DefmodelStep(Step):
    """+proj=defmodel (kernels/defmodel.py). IO radians for geographic
    definition CRS, raw projected units otherwise; epoch from the t
    coordinate."""

    def __init__(self, params: dict):
        from proj_spark.kernels.defmodel import DefModel
        from proj_spark.sources import grids

        if "model" not in params:
            raise ValueError("defmodel: +model parameter missing")
        self.model = DefModel(
            grids.require(str(params["model"]), "defmodel master file"),
            resolve_ellipsoid(params))
        self.left = self.right = "rad" if self.model.is_geographic else "m"

    def fwd(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        if t is None:
            raise ValueError("defmodel: input epoch (t coordinate) required")
        X, Y, Z, _ok = self.model.forward(x, y, zz, t)
        return X, Y, (Z if z is not None else z), t

    def inv(self, x, y, z, t):
        zz = z if z is not None else np.zeros_like(np.asarray(x, dtype=np.float64))
        if t is None:
            raise ValueError("defmodel: input epoch (t coordinate) required")
        X, Y, Z = self.model.inverse(x, y, zz, t)
        return X, Y, (Z if z is not None else z), t


class HornerStep(Step):
    """+proj=horner (kernels/horner.py) — raw projected units both sides
    (reference sets IO_UNITS_WHATEVER)."""

    left = "m"
    right = "m"

    def __init__(self, params: dict):
        from proj_spark.kernels import horner as k

        self.k = k
        self.C = k.setup_horner(params)

    def fwd(self, x, y, z, t):
        E, N = self.k.horner_fwd(x, y, self.C)
        return E, N, z, t

    def inv(self, x, y, z, t):
        E, N = self.k.horner_inv(x, y, self.C)
        return E, N, z, t


class GeocStep(Step):
    """+proj=geoc: geographic <-> geocentric latitude (reference
    src/conversions/geoc.cpp via pj_geocentric_latitude, 4D_api.cpp:1266):
    fwd tan(theta) = (1-es) tan(phi), inv the reciprocal."""

    left = "rad"
    right = "rad"

    def __init__(self, ell: Ellipsoid):
        self.one_es = ell.one_es

    def fwd(self, x, y, z, t):
        phi = np.asarray(y, dtype=np.float64)
        return x, np.arctan(self.one_es * np.tan(phi)), z, t

    def inv(self, x, y, z, t):
        phi = np.asarray(y, dtype=np.float64)
        return x, np.arctan(np.tan(phi) / self.one_es), z, t


class VertoffsetStep(Step):
    """EPSG 1046 vertical offset + slope (reference
    src/transformations/vertoffset.cpp:20-98): z +/-= zoff
    + slope_lat*rho0*(phi-phi0) + slope_lon*nu0*(lam-lam0)*cos(phi)."""

    left = "rad"
    right = "rad"

    def __init__(self, params: dict):
        ell = resolve_ellipsoid(params)
        arc2rad = math.pi / (180.0 * 3600.0)
        self.slope_lon = float(params.get("slope_lon", 0.0)) * arc2rad
        self.slope_lat = float(params.get("slope_lat", 0.0)) * arc2rad
        self.zoff = float(params.get("dh", 0.0))
        self.phi0 = _angle(params, "lat_0")
        self.lam0 = _angle(params, "lon_0")
        sinlat0 = math.sin(self.phi0)
        omes = 1.0 - ell.es * sinlat0 * sinlat0
        self.rho0 = ell.a * (1.0 - ell.es) / (omes * math.sqrt(omes))
        self.nu0 = ell.a / math.sqrt(omes)

    def _offset(self, lam, phi):
        return (self.zoff + self.slope_lat * self.rho0 * (phi - self.phi0)
                + self.slope_lon * self.nu0 * (lam - self.lam0) * np.cos(phi))

    def fwd(self, x, y, z, t):
        lam = np.asarray(x, dtype=np.float64)
        phi = np.asarray(y, dtype=np.float64)
        zz = z if z is not None else np.zeros_like(lam)
        return x, y, zz + self._offset(lam, phi), t

    def inv(self, x, y, z, t):
        lam = np.asarray(x, dtype=np.float64)
        phi = np.asarray(y, dtype=np.float64)
        zz = z if z is not None else np.zeros_like(lam)
        return x, y, zz - self._offset(lam, phi), t


class TopocentricStep(Step):
    """Geocentric <-> topocentric ENU (reference
    src/conversions/topocentric.cpp:21-46, IOGP GN7-2). Origin from
    (X_0,Y_0,Z_0) or (lon_0,lat_0,h_0) via cart."""

    left = "cart"
    right = "cart"

    def __init__(self, params: dict):
        from proj_spark.kernels import cart as k_cart

        ell = resolve_ellipsoid(params)
        if "X_0" in params:
            X0 = float(params["X_0"])
            Y0 = float(params.get("Y_0", 0.0))
            Z0 = float(params.get("Z_0", 0.0))
            # recover origin lat/lon for the rotation matrix
            lam0, phi0, _ = k_cart.cart_inv(
                np.array([X0]), np.array([Y0]), np.array([Z0]), ell)
            lam0, phi0 = float(lam0[0]), float(phi0[0])
        else:
            lam0 = _angle(params, "lon_0")
            phi0 = _angle(params, "lat_0")
            h0 = float(params.get("h_0", 0.0))
            X, Y, Z = k_cart.cart_fwd(
                np.array([lam0]), np.array([phi0]), np.array([h0]), ell)
            X0, Y0, Z0 = float(X[0]), float(Y[0]), float(Z[0])
        self.X0, self.Y0, self.Z0 = X0, Y0, Z0
        self.sphi0, self.cphi0 = math.sin(phi0), math.cos(phi0)
        self.slam0, self.clam0 = math.sin(lam0), math.cos(lam0)

    def fwd(self, x, y, z, t):
        X = np.asarray(x, dtype=np.float64)
        Y = np.asarray(y, dtype=np.float64)
        Z = np.asarray(z, dtype=np.float64) if z is not None else np.zeros_like(X)
        dX, dY, dZ = X - self.X0, Y - self.Y0, Z - self.Z0
        e = -dX * self.slam0 + dY * self.clam0
        n = (-dX * self.sphi0 * self.clam0 - dY * self.sphi0 * self.slam0
             + dZ * self.cphi0)
        u = (dX * self.cphi0 * self.clam0 + dY * self.cphi0 * self.slam0
             + dZ * self.sphi0)
        return e, n, u, t

    def inv(self, x, y, z, t):
        e = np.asarray(x, dtype=np.float64)
        n = np.asarray(y, dtype=np.float64)
        u = np.asarray(z, dtype=np.float64) if z is not None else np.zeros_like(e)
        X = (self.X0 - e * self.slam0 - n * self.sphi0 * self.clam0
             + u * self.cphi0 * self.clam0)
        Y = (self.Y0 + e * self.clam0 - n * self.sphi0 * self.slam0
             + u * self.cphi0 * self.slam0)
        Z = self.Z0 + n * self.cphi0 + u * self.sphi0
        return X, Y, Z, t


class ObTranStep(Step):
    """General oblique transformation (reference src/projections/ob_tran.cpp):
    rotate lon/lat to a new pole (Snyder 5-7/5-8b), then run the inner
    projection's RAW kernel (the reference calls link->fwd directly, skipping
    the inner op's lam0/x0/a handling — ob_tran.cpp:33,47). With
    o_proj=latlon the output stays raw rotated radians (IO_UNITS_WHATEVER,
    ob_tran.cpp:286-288)."""

    left = "rad"
    right = "m"   # raw kernel output: either metres-of-a or raw radians

    def __init__(self, params: dict):
        inner_name = str(params["o_proj"])
        if inner_name in ("ob_tran", "") or inner_name is True:
            raise ValueError("ob_tran: invalid o_proj")
        self.ell = resolve_ellipsoid(params)
        self.lam0 = _angle(params, "lon_0")
        self.x0 = float(params.get("x_0", 0.0))
        self.y0 = float(params.get("y_0", 0.0))

        self.latlong = inner_name in ("latlon", "latlong", "lonlat", "longlat")
        if not self.latlong:
            # the inner kernel runs raw: the I/O hooks belong to ob_tran
            inner_params = {k: v for k, v in params.items()
                            if not k.startswith("o_")
                            and k not in ("lon_0", "x_0", "y_0", *_HOOK_KEYS)}
            inner_params["proj"] = inner_name
            inner = _build_step(inner_params)
            if not hasattr(inner, "kfwd"):
                raise ValueError(
                    f"ob_tran: o_proj={inner_name} has no raw kernel")
            self.kfwd, self.kinv = inner.kfwd, inner.kinv
        tol = 1e-10
        if "o_alpha" in params:
            lamc = _angle(params, "o_lon_c")
            phic = _angle(params, "o_lat_c")
            alpha = _angle(params, "o_alpha")
            self.lamp = lamc + math.atan2(-math.cos(alpha),
                                          -math.sin(alpha) * math.sin(phic))
            phip = math.asin(min(1.0, max(-1.0, math.cos(phic) * math.sin(alpha))))
        elif "o_lat_p" in params:
            self.lamp = _angle(params, "o_lon_p")
            phip = _angle(params, "o_lat_p")
        else:
            lam1 = _angle(params, "o_lon_1")
            phi1 = _angle(params, "o_lat_1")
            lam2 = _angle(params, "o_lon_2")
            phi2 = _angle(params, "o_lat_2")
            self.lamp = math.atan2(
                math.cos(phi1) * math.sin(phi2) * math.cos(lam1)
                - math.sin(phi1) * math.cos(phi2) * math.cos(lam2),
                math.sin(phi1) * math.cos(phi2) * math.sin(lam2)
                - math.cos(phi1) * math.sin(phi2) * math.sin(lam1))
            phip = math.atan(-math.cos(self.lamp - lam1) / math.tan(phi1))
        self.oblique = abs(phip) > tol
        self.cphip = math.cos(phip)
        self.sphip = math.sin(phip)

    def _rotate_fwd(self, lam, phi):
        coslam = np.cos(lam)
        sinphi = np.sin(phi)
        cosphi = np.cos(phi)
        if self.oblique:
            lam2 = adjlon(np.arctan2(
                cosphi * np.sin(lam),
                self.sphip * cosphi * coslam + self.cphip * sinphi) + self.lamp)
            phi2 = np.arcsin(np.clip(
                self.sphip * sinphi - self.cphip * cosphi * coslam, -1, 1))
        else:
            lam2 = adjlon(np.arctan2(cosphi * np.sin(lam), sinphi) + self.lamp)
            phi2 = np.arcsin(np.clip(-cosphi * coslam, -1, 1))
        return lam2, phi2

    def _rotate_inv(self, lam, phi):
        if self.oblique:
            lam = lam - self.lamp
            coslam = np.cos(lam)
            sinphi = np.sin(phi)
            cosphi = np.cos(phi)
            phi2 = np.arcsin(np.clip(
                self.sphip * sinphi + self.cphip * cosphi * coslam, -1, 1))
            lam2 = np.arctan2(cosphi * np.sin(lam),
                              self.sphip * cosphi * coslam - self.cphip * sinphi)
        else:
            t = lam - self.lamp
            cosphi = np.cos(phi)
            lam2 = np.arctan2(cosphi * np.sin(t), -np.sin(phi))
            phi2 = np.arcsin(np.clip(cosphi * np.cos(t), -1, 1))
        return lam2, phi2

    def fwd(self, x, y, z, t):
        lam = adjlon(np.asarray(x, dtype=np.float64) - self.lam0)
        phi = np.asarray(y, dtype=np.float64)
        lam2, phi2 = self._rotate_fwd(lam, phi)
        if self.latlong:
            return lam2, phi2, z, t
        X, Y = self.kfwd(lam2, phi2)
        return self.ell.a * X + self.x0, self.ell.a * Y + self.y0, z, t

    def inv(self, x, y, z, t):
        if self.latlong:
            lam2 = np.asarray(x, dtype=np.float64)
            phi2 = np.asarray(y, dtype=np.float64)
        else:
            lam2, phi2 = self.kinv(
                (np.asarray(x, dtype=np.float64) - self.x0) * self.ell.ra,
                (np.asarray(y, dtype=np.float64) - self.y0) * self.ell.ra)
        lam, phi = self._rotate_inv(lam2, phi2)
        return adjlon(lam + self.lam0), phi, z, t


# --------------------------------------------------------------------------
# op registry
# --------------------------------------------------------------------------

def _angle(params: dict, key: str, default: float = 0.0) -> float:
    return math.radians(float(params[key])) if key in params else default


def _num(params: dict, key: str, default: float = 0.0) -> float:
    return float(params.get(key, default))


def _opt(params: dict, key: str) -> float | None:
    return float(params[key]) if key in params else None


def _k0(params: dict) -> float:
    return float(params.get("k_0", params.get("k", 1.0)))


def _proj_step(params: dict, ell: Ellipsoid, fwd, inv, C=None,
               lam0: float | None = None) -> Step:
    """The one place a ProjectionStep is built. Like PROJ's generic
    fwd_prepare/fwd_finalize (reference src/fwd.cpp), it reads +lon_0
    (unless the op fixes lam0 itself), +over and +x_0/+y_0 for every
    projection. ``inv=None`` means the reference has no inverse."""
    if inv is None:
        op = params.get("proj")

        def kinv(x, y):
            raise NotImplementedError(f"{op}: no inverse (reference has none)")
    else:
        def kinv(x, y):
            return inv(x, y, C)
    return ProjectionStep(
        lambda lam, phi: fwd(lam, phi, C), kinv, ell,
        _angle(params, "lon_0") if lam0 is None else lam0,
        float(params.get("x_0", 0.0)), float(params.get("y_0", 0.0)),
        over=bool(params.get("over")))


@dataclass(frozen=True)
class _Proj:
    """One table projection (the PROJ_HEAD analogue): kernels/<mod>.py
    supplies ``<stem>_fwd`` and ``<stem>_inv`` (``inv=False``: the
    reference has none; a str names another inverse). ``setup(k, ell,
    params)`` freezes the kernel constants C. ``sphere`` forces es=0 with
    radius a; ``lam0`` is "lon_0", "C" (the setup's C.lam0) or fixed
    radians."""

    mod: str
    stem: str
    setup: Callable | None = None
    inv: bool | str = True
    sphere: bool = False
    lam0: str | float = "lon_0"


def _build_projection(params: dict) -> Step:
    P = _PROJECTIONS[params["proj"]]
    # kernel modules load on first use: Spark workers import this module
    k = importlib.import_module(f"proj_spark.kernels.{P.mod}")
    ell = resolve_ellipsoid(params)
    if P.sphere:
        ell = Ellipsoid.sphere(ell.a)
    C = P.setup(k, ell, params) if P.setup else None
    inv = None if P.inv is False else getattr(
        k, P.inv if isinstance(P.inv, str) else f"{P.stem}_inv")
    lam0 = C.lam0 if P.lam0 == "C" else None if P.lam0 == "lon_0" else P.lam0
    return _proj_step(params, ell, getattr(k, f"{P.stem}_fwd"), inv, C, lam0)


def _setup_sconics(k, ell, p):
    if "lat_1" not in p or "lat_2" not in p:
        raise ValueError(f"{p['proj']}: lat_1 and lat_2 required")
    return k.setup_sconics(p["proj"], float(p["lat_1"]), float(p["lat_2"]),
                           _num(p, "lat_0"))


def _setup_urmfps(k, ell, p):
    n = float(p["n"]) if p["proj"] == "urmfps" else 0.8660254037844386467637231707
    if not (0.0 < n <= 1.0):
        raise ValueError("urmfps: n must be in ]0,1]")
    return k.NConsts(n, C_y=1.139753528477 / n)


def _setup_urm5(k, ell, p):
    n = float(p["n"])
    alpha = _angle(p, "alpha")
    t = n * math.sin(alpha)
    m = math.cos(alpha) / math.sqrt(1.0 - t * t)
    return k.NConsts(n, m=m, rmn=1.0 / (m * n), q3=_num(p, "q") / 3.0)


def _setup_fouc_s(k, ell, p):
    n = _num(p, "n")
    if not (0.0 <= n <= 1.0):
        raise ValueError("fouc_s: n must be in [0,1]")
    return k.NConsts(n)


def _setup_phi1(k, ell, p):
    """loxim / wink1 / wag3 standard parallel."""
    op = p["proj"]
    phi1 = math.radians(_num(p, "lat_ts" if op == "wag3" else "lat_1",
                             40.0 if op == "loxim" else 0.0))
    if op == "wag3":
        c = math.cos(phi1) / math.cos(2.0 * phi1 / 3.0)
    else:
        c = math.cos(phi1)
        if op == "loxim" and c < 1e-8:
            raise ValueError("loxim: |lat_1| must be < 90")
    return k.Phi1Consts(phi1, c, math.tan(math.pi / 4 + 0.5 * phi1))


def _lat_1(default: float):
    """wink2 / wintri: +lat_1 and its cosine."""
    def setup(k, ell, p):
        phi1 = _angle(p, "lat_1", default)
        return k.Phi1Consts(phi1, math.cos(phi1))
    return setup


def _setup_hammer(k, ell, p):
    w = abs(_num(p, "W", 0.5))
    m0 = abs(_num(p, "M", 1.0))
    if w <= 0 or m0 <= 0:
        raise ValueError("hammer: W and M must be > 0")
    return k.HammerConsts(w, m0 / w, 1.0 / m0)


def _nsper(k, ell, p):
    tpers = p["proj"] == "tpers"
    return k.setup_nsper(ell.a, _num(p, "lat_0"), float(p["h"]),
                         tilt=_num(p, "tilt") if tpers else None,
                         azi=_num(p, "azi") if tpers else None)


def _setup_adams(k, ell, p):
    return k.setup_adams(p["proj"], p)


_PROJECTIONS: dict[str, _Proj] = {
    # conic / cylindrical / azimuthal (ellipsoidal)
    "lcc": _Proj("lcc", "lcc", lambda k, ell, p: k.setup_lcc(
        ell, lat_1=_num(p, "lat_1"), lat_2=_opt(p, "lat_2"),
        lat_0=_opt(p, "lat_0"), k0=_k0(p))),
    "merc": _Proj("merc", "merc", lambda k, ell, p: k.setup_merc(
        ell, lat_ts=_opt(p, "lat_ts"), k0=_k0(p))),
    "aea": _Proj("conic", "aea", lambda k, ell, p: k.setup_aea(
        ell, _num(p, "lat_1"), _num(p, "lat_2", _num(p, "lat_1")),
        _num(p, "lat_0"))),
    "leac": _Proj("conic", "aea", lambda k, ell, p: k.setup_aea(
        ell, -90.0 if "south" in p else 90.0, _num(p, "lat_1"),
        _num(p, "lat_0"))),
    "eqdc": _Proj("conic", "eqdc", lambda k, ell, p: k.setup_eqdc(
        ell, _num(p, "lat_1"), _num(p, "lat_2"), _num(p, "lat_0"))),
    "bonne": _Proj("conic", "bonne",
                   lambda k, ell, p: k.setup_bonne(ell, float(p["lat_1"]))),
    "stere": _Proj("azimuthal", "stere", lambda k, ell, p: k.setup_stere(
        ell, _num(p, "lat_0"), _opt(p, "lat_ts"), _k0(p))),
    "sterea": _Proj("azimuthal", "sterea", lambda k, ell, p: k.setup_sterea(
        ell, _num(p, "lat_0"), _k0(p))),
    "laea": _Proj("azimuthal", "laea",
                  lambda k, ell, p: k.setup_laea(ell, _num(p, "lat_0"))),
    "gnom": _Proj("azimuthal", "gnom",
                  lambda k, ell, p: k.setup_gnom(ell, _num(p, "lat_0"))),
    "ortho": _Proj("azimuthal", "ortho", lambda k, ell, p: k.setup_ortho(
        ell, _num(p, "lat_0"), _k0(p), _num(p, "alpha"))),
    "aeqd": _Proj("azimuthal", "aeqd", lambda k, ell, p: k.setup_aeqd(
        ell, _num(p, "lat_0"), guam="guam" in p)),
    "cea": _Proj("cyl", "cea", lambda k, ell, p: k.setup_cea(
        ell, _opt(p, "lat_ts"), _k0(p))),
    "cass": _Proj("cyl", "cass", lambda k, ell, p: k.setup_cass(
        ell, _num(p, "lat_0"), hyperbolic="hyperbolic" in p)),
    "eqc": _Proj("cyl", "eqc", lambda k, ell, p: k.setup_eqc(
        _num(p, "lat_ts"), _num(p, "lat_0"))),
    "mill": _Proj("cyl", "mill"),
    "somerc": _Proj("cyl", "somerc", lambda k, ell, p: k.setup_somerc(
        ell, _num(p, "lat_0"), _k0(p))),
    "poly": _Proj("world3", "poly",
                  lambda k, ell, p: k.setup_poly(ell, _num(p, "lat_0"))),
    "omerc": _Proj("oblique", "omerc", lambda k, ell, p: k.setup_omerc(
        ell, p, _k0(p)), lam0="C"),
    "ocea": _Proj("oblique", "ocea",
                  lambda k, ell, p: k.setup_ocea(p, _k0(p)), lam0="C"),
    "geos": _Proj("oblique", "geos", lambda k, ell, p: k.setup_geos(
        ell, float(p["h"]), str(p.get("sweep", "y")))),
    "lcca": _Proj("world4", "lcca", lambda k, ell, p: k.setup_lcca(
        ell, _num(p, "lat_0"), _k0(p))),
    "gstmerc": _Proj("world4", "gstmerc", lambda k, ell, p: k.setup_gstmerc(
        ell, _num(p, "lat_0"), _k0(p))),
    "col_urban": _Proj("world4", "col_urban", lambda k, ell, p:
                       k.setup_col_urban(ell, _num(p, "lat_0"), _num(p, "h_0"))),
    "labrd": _Proj("world4", "labrd", lambda k, ell, p: k.setup_labrd(
        ell, _num(p, "lat_0"), _num(p, "azi"), _k0(p))),
    "imw_p": _Proj("world4", "imw_p", lambda k, ell, p: k.setup_imw_p(
        ell, float(p["lat_1"]), float(p["lat_2"]), _opt(p, "lon_1"))),
    "rouss": _Proj("world4", "rouss", lambda k, ell, p: k.setup_rouss(
        ell, _num(p, "lat_0"), _k0(p))),
    "qsc": _Proj("qsc", "qsc", lambda k, ell, p: k.setup_qsc(
        ell, _angle(p, "lon_0"), _angle(p, "lat_0"))),
    # isea reads +lon_0 as an orientation override in setup AND gets the
    # generic lam0 subtraction, like the reference (isea.cpp:1027-1029)
    "isea": _Proj("isea", "isea", lambda k, ell, p: k.setup_isea(
        ell, orient=str(p.get("orient", "isea")), lat_0=_opt(p, "lat_0"),
        lon_0=_opt(p, "lon_0"), azi=_num(p, "azi"),
        mode=str(p.get("mode", "plane")))),
    # Space Oblique Mercator: the ascending longitude is lam0 (som.cpp)
    "som": _Proj("som", "som", lambda k, ell, p: k.setup_som(
        ell, alf=_angle(p, "inc_angle"), p22=_num(p, "ps_rev"),
        lam0=_angle(p, "asc_lon")), lam0="C"),
    "lsat": _Proj("som", "som", lambda k, ell, p: k.setup_lsat(
        ell, int(p["lsat"]), int(p["path"])), lam0="C"),
    "misrsom": _Proj("som", "som", lambda k, ell, p: k.setup_misrsom(
        ell, int(p["path"])), lam0="C"),
    # pseudocylindrical families
    **dict.fromkeys(("sinu", "gn_sinu", "eck6", "mbtfps"), _Proj(
        "pseudocyl", "sinu", lambda k, ell, p: k.setup_gn_sinu(
            ell, _opt(p, "m"), _opt(p, "n"), proj=p["proj"]))),
    **dict.fromkeys(("moll", "wag4", "wag5"), _Proj(
        "pseudocyl", "moll", lambda k, ell, p: k.setup_moll(p["proj"]))),
    "eck4": _Proj("pseudocyl", "eck4"),
    "robin": _Proj("pseudocyl", "robin"),
    # spherical catalogue (kernels/world.py)
    **{op: _Proj("world", op) for op in (
        "cc eck1 crast eck5 fahey wag2 gall nell nell_h collg putp2 "
        "mbtfpp").split()},
    **{op: _Proj("world", op, inv=False) for op in (
        "larr gins8 wag7 tcc august denoy lask boggs nicol").split()},
    **dict.fromkeys(("eck3", "kav7", "wag6", "putp1"), _Proj(
        "world", "eck3", lambda k, ell, p: k._ECK3_FAMILY[p["proj"]])),
    **dict.fromkeys(("fouc", "kav5", "qua_aut", "mbt_s"), _Proj(
        "world", "sts", lambda k, ell, p: k._STS_FAMILY[p["proj"]])),
    "putp5": _Proj("world", "putp5", lambda k, ell, p: k.Putp5Consts(2.0, 1.0)),
    "putp5p": _Proj("world", "putp5", lambda k, ell, p: k.Putp5Consts(1.5, 0.5)),
    "putp3": _Proj("world", "putp3",
                   lambda k, ell, p: k.Putp3Consts(4.0 * 0.1013211836)),
    "putp3p": _Proj("world", "putp3",
                    lambda k, ell, p: k.Putp3Consts(2.0 * 0.1013211836)),
    "putp4p": _Proj("world", "putp4p",
                    lambda k, ell, p: k.Putp4pConsts(0.874038744, 3.883251825)),
    "weren": _Proj("world", "putp4p",
                   lambda k, ell, p: k.Putp4pConsts(1.0, 4.442882938)),
    **dict.fromkeys(("urmfps", "wag1"), _Proj("world", "urmfps", _setup_urmfps)),
    "urm5": _Proj("world", "urm5", _setup_urm5, inv=False),
    "fouc_s": _Proj("world", "fouc_s", _setup_fouc_s),
    **{op: _Proj("world", op, _setup_phi1) for op in ("loxim", "wink1", "wag3")},
    "wink2": _Proj("world", "wink2", _lat_1(0.0)),
    "hammer": _Proj("world", "hammer", _setup_hammer),
    "aitoff": _Proj("world", "aitoff"),
    "wintri": _Proj("world", "aitoff", _lat_1(math.acos(2.0 / math.pi))),
    # vandg's kernel flips a sign beyond |lam| > pi under +over (vandg.cpp:46-48)
    "vandg": _Proj("world", "vandg",
                   lambda k, ell, p: {"over": bool(p.get("over"))}),
    # kernels/world2.py
    "airy": _Proj("world2", "airy", lambda k, ell, p: k.setup_airy(
        _num(p, "lat_0"), _num(p, "lat_b"), bool(p.get("no_cut"))), inv=False),
    "nsper": _Proj("world2", "nsper", _nsper),
    "tpers": _Proj("world2", "nsper", _nsper),
    "lagrng": _Proj("world2", "lagrng", lambda k, ell, p: k.setup_lagrng(
        _num(p, "W", 2.0), _num(p, "lat_1"))),
    **{op: _Proj("world2", "vandg2", lambda k, ell, p: {
        "vdg3": p["proj"] == "vandg3"}, inv=False) for op in ("vandg2", "vandg3")},
    "vandg4": _Proj("world2", "vandg4", inv=False),
    **{op: _Proj("world2", "bacon", lambda k, ell, p: {
        "bacn": p["proj"] == "bacon", "ortl": p["proj"] == "ortel"}, inv=False)
       for op in ("bacon", "apian", "ortel")},
    "tobmerc": _Proj("world2", "tobmerc", lambda k, ell, p: _k0(p)),
    "eqearth": _Proj("world2", "eqearth", lambda k, ell, p: k.setup_eqearth(ell)),
    **{op: _Proj("world2", op) for op in ("times", "natearth", "natearth2",
                                          "patterson", "comill")},
    # kernels/world3.py
    **dict.fromkeys(("euler", "murd1", "murd2", "murd3", "pconic", "tissot",
                     "vitk1"), _Proj("world3", "sconics", _setup_sconics)),
    "tpeqd": _Proj("world3", "tpeqd", lambda k, ell, p: k.setup_tpeqd(
        _num(p, "lat_1"), _num(p, "lon_1"), _num(p, "lat_2"), _num(p, "lon_2")),
        lam0="C"),
    # kernels/world4.py, spherical
    **{op: _Proj("world4", op, sphere=True)
       for op in ("eck2", "hatano", "mbt_fps", "mbtfpq")},
    "putp6": _Proj("world4", "putp6", lambda k, ell, p: k.PUTP6, sphere=True),
    "putp6p": _Proj("world4", "putp6", lambda k, ell, p: k.PUTP6P, sphere=True),
    "tcea": _Proj("world4", "tcea", lambda k, ell, p: k.TceaConsts(
        _k0(p), _angle(p, "lat_0")), sphere=True),
    "ccon": _Proj("world4", "ccon", lambda k, ell, p: k.setup_ccon(
        _num(p, "lat_1")), sphere=True),
    "rpoly": _Proj("world4", "rpoly", lambda k, ell, p: k.setup_rpoly(
        _num(p, "lat_ts"), _num(p, "lat_0")), inv=False, sphere=True),
    # fixed lam0/phi0 (reference bertin1953.cpp:81-87)
    "bertin1953": _Proj("world4", "bertin1953", inv=False, sphere=True, lam0=0.0),
    "oea": _Proj("world4", "oea", lambda k, ell, p: k.setup_oea(
        float(p["n"]), float(p["m"]), _num(p, "theta"), _num(p, "lat_0")),
        sphere=True),
    "chamb": _Proj("world4", "chamb", lambda k, ell, p: k.setup_chamb(
        _num(p, "lat_1"), _num(p, "lon_1"), _num(p, "lat_2"), _num(p, "lon_2"),
        _num(p, "lat_3"), _num(p, "lon_3"), _angle(p, "lon_0")),
        inv=False, sphere=True),
    "bipc": _Proj("world4", "bipc", lambda k, ell, p: (
        "ns" in p and str(p.get("ns")) not in ("False", "0")), sphere=True),
    # interrupted (kernels/interrupted.py) and conformal-square families
    **{op: _Proj("interrupted", op, sphere=True)
       for op in ("goode", "igh", "igh_o", "imoll", "imoll_o")},
    **{op: _Proj("adams", "adams", _setup_adams, inv=False, sphere=True)
       for op in ("guyou", "adams_hemi", "adams_ws1")},
    "adams_ws2": _Proj("adams", "adams", _setup_adams, inv="adams_ws2_inv",
                       sphere=True),
}


def _build_tmerc(params: dict) -> Step:
    ell = resolve_ellipsoid(params)
    k0, phi0 = _k0(params), _angle(params, "lat_0")
    if ell.is_sphere:
        C = k_tmerc.setup_approx(ell, k0=k0, phi0=phi0)
        return _proj_step(params, ell, k_tmerc.sph_fwd, k_tmerc.sph_inv, C)
    if "approx" in params or params.get("algo") == "evenden_snyder":
        C = k_tmerc.setup_approx(ell, k0=k0, phi0=phi0)
        return _proj_step(params, ell, k_tmerc.approx_fwd, k_tmerc.approx_inv, C)
    C = k_tmerc.setup_exact(ell, k0=k0, phi0=phi0)
    return _proj_step(params, ell, k_tmerc.exact_fwd, k_tmerc.exact_inv, C)


def _build_utm(params: dict) -> Step:
    ell = resolve_ellipsoid(params)
    if ell.is_sphere:
        raise ValueError("utm requires an ellipsoid")
    if "zone" in params and params["zone"] is not True:
        zone = int(params["zone"])
    elif "lon_0" in params:
        zone = int(k_tmerc.utm_zone(math.radians(float(params["lon_0"]))))
    else:
        return UTMAutoStep(ell)
    z = k_tmerc.utm_params(zone, south="south" in params)
    # the zone fixes the central meridian and false origin (tmerc.cpp)
    params = {**params, "x_0": z["x0"], "y_0": z["y0"]}
    if "approx" in params:
        C = k_tmerc.setup_approx(ell, k0=z["k0"], phi0=z["phi0"])
        return _proj_step(params, ell, k_tmerc.approx_fwd, k_tmerc.approx_inv,
                          C, z["lam0"])
    C = k_tmerc.setup_exact(ell, k0=z["k0"], phi0=z["phi0"])
    return _proj_step(params, ell, k_tmerc.exact_fwd, k_tmerc.exact_inv, C,
                      z["lam0"])


def _build_webmerc(params: dict) -> Step:
    params = dict(params)
    params.setdefault("ellps", "WGS84")
    if params.get("datum") == "WGS84":
        params["ellps"] = "WGS84"
    ell = resolve_ellipsoid(params)
    return _proj_step(params, ell, k_merc.merc_fwd, k_merc.merc_inv,
                      k_merc.setup_webmerc(ell))


def _build_ups(params: dict) -> Step:
    from proj_spark.kernels import azimuthal as k

    params = {"x_0": 2000000.0, "y_0": 2000000.0, **params}
    ell = resolve_ellipsoid(params)
    if ell.is_sphere:
        raise ValueError("ups requires an ellipsoid")
    C = k.setup_stere(ell, -90.0 if "south" in params else 90.0, None,
                      _num(params, "k_0", 0.994))
    return _proj_step(params, ell, k.stere_fwd, k.stere_inv, C)


def _build_calcofi(params: dict) -> Step:
    from proj_spark.kernels import world3 as k

    ell = resolve_ellipsoid(params)
    # line/station output: no earth-radius scaling, no false origin, and
    # absolute longitude (the reference ignores +lon_0)
    return _proj_step({**params, "x_0": 0.0, "y_0": 0.0}, Ellipsoid.sphere(1.0),
                      k.calcofi_fwd, k.calcofi_inv,
                      k.CalcofiConsts(ell.e, ell.es), lam0=0.0)


def _build_krovak(params: dict) -> Step:
    from proj_spark.kernels import oblique as k

    C = k.setup_krovak(params, modified=params.get("proj") == "mod_krovak")
    # krovak pins the Bessel ellipsoid regardless of +ellps
    ell = Ellipsoid("bessel-krovak", C.a, 1.0 / (1.0 - math.sqrt(1.0 - 0.006674372230614)))
    return _proj_step(params, ell, k.krovak_fwd, k.krovak_inv, C, C.lam0)


def _build_nzmg(params: dict) -> Step:
    from proj_spark.kernels import world4 as k

    # fixed Earth: intl ellipsoid, lam0=173E, phi0=41S, NZ offsets
    # (reference nzmg.cpp:112-118); user x_0/y_0/lon_0 ignored.
    return _proj_step({**params, "x_0": 2510000.0, "y_0": 6023150.0},
                      ELLIPSOIDS["intl"], k.nzmg_fwd, k.nzmg_inv,
                      lam0=math.radians(173.0))


def _build_mod_ster(params: dict) -> Step:
    """mil_os / lee_os / gs48 / alsk / gs50: each fixes its own centre
    and, except on a user sphere, its own radius."""
    from proj_spark.kernels import world4 as k

    ell = resolve_ellipsoid(params)
    C = k.setup_mod_ster(params["proj"], ell.es)
    return _proj_step(params, Ellipsoid.sphere(ell.a if C.a is None else C.a),
                      k.mod_ster_fwd, k.mod_ster_inv, C, C.lam0)


def _build_peirce_q(params: dict) -> Step:
    from proj_spark.kernels import adams as k

    ell = Ellipsoid.sphere(resolve_ellipsoid(params).a)
    C = k.setup_adams("peirce_q", params)
    inv = {"square": k.peirce_q_square_inv,
           "diamond": k.peirce_q_diamond_inv}.get(C.shape)
    return _proj_step(params, ell, k.adams_fwd, inv, C)


def _build_healpix(params: dict) -> Step:
    from proj_spark.kernels import healpix as k

    C = k.setup_healpix(
        resolve_ellipsoid(params), rot_xy=_angle(params, "rot_xy"),
        north_square=int(params.get("north_square", 0)),
        south_square=int(params.get("south_square", 0)))
    stem = "rhealpix" if params.get("proj") == "rhealpix" else "healpix"
    # ellipsoid variant scales by the AUTHALIC radius (healpix.cpp:568-571)
    return _proj_step(params, Ellipsoid.sphere(C.auth_a),
                      getattr(k, f"{stem}_fwd"), getattr(k, f"{stem}_inv"), C)


_BUILDERS = {
    **dict.fromkeys(_PROJECTIONS, _build_projection),
    "tmerc": _build_tmerc,
    "etmerc": _build_tmerc,
    "utm": _build_utm,
    "webmerc": _build_webmerc,
    "ups": _build_ups,
    "calcofi": _build_calcofi,
    "krovak": _build_krovak,
    "mod_krovak": _build_krovak,
    "nzmg": _build_nzmg,
    **dict.fromkeys(("mil_os", "lee_os", "gs48", "alsk", "gs50"), _build_mod_ster),
    "peirce_q": _build_peirce_q,
    "healpix": _build_healpix,
    "rhealpix": _build_healpix,
    "ob_tran": ObTranStep,
    "geoc": lambda p: GeocStep(resolve_ellipsoid(p)),
    "sch": SchStep,
    "s2": S2Step,
    "gridshift": GridshiftStep,
    "xyzgridshift": XyzgridshiftStep,
    "deformation": DeformationStep,
    "tinshift": TinshiftStep,
    "defmodel": DefmodelStep,
    "horner": HornerStep,
    "vertoffset": VertoffsetStep,
    "topocentric": TopocentricStep,
    "molobadekas": lambda p: HelmertStep(k_helmert.from_params(p)),
    "cart": lambda p: CartStep(resolve_ellipsoid(p)),
    "geocent": lambda p: CartStep(resolve_ellipsoid(p)),
    "helmert": lambda p: HelmertStep(k_helmert.from_params(p)),
    "molodensky": MolodenskyStep,
    "hgridshift": HgridshiftStep,
    "vgridshift": VgridshiftStep,
    "axisswap": lambda p: AxisswapStep(_axisswap_order(p)),
    "unitconvert": _build_unitconvert,
    "affine": AffineStep,
    "geogoffset": GeogoffsetStep,
    "set": SetStep,
    "push": PushStep,
    "pop": lambda p: Inverted(PushStep(p)),  # pop is push run backwards
    "noop": lambda p: NoopStep(),
    "longlat": lambda p: _build_latlong(p),
    "latlong": lambda p: _build_latlong(p),
    "lonlat": lambda p: LatlongStep(),
    "latlon": lambda p: LatlongStep(),
}


# Prime meridians (reference src/datums.cpp pj_prime_meridians — public
# astronomical constants), stored as from_greenwich in degrees (west < 0).
_PRIME_MERIDIANS = {
    "greenwich": 0.0,
    "lisbon": -(9 + 7 / 60 + 54.862 / 3600),
    "paris": 2 + 20 / 60 + 14.025 / 3600,
    "bogota": -(74 + 4 / 60 + 51.3 / 3600),
    "madrid": -(3 + 41 / 60 + 16.58 / 3600),
    "rome": 12 + 27 / 60 + 8.4 / 3600,
    "bern": 7 + 26 / 60 + 22.5 / 3600,
    "jakarta": 106 + 48 / 60 + 27.79 / 3600,
    "ferro": -(17 + 40 / 60),
    "brussels": 4 + 22 / 60 + 4.71 / 3600,
    "stockholm": 18 + 3 / 60 + 29.8 / 3600,
    "athens": 23 + 42 / 60 + 58.815 / 3600,
    "oslo": 10 + 43 / 60 + 22.5 / 3600,
}


class PmLatlongStep(Step):
    """latlong on a non-Greenwich prime meridian: the CRS's longitudes
    are PM-relative, the pipeline's neutral frame is Greenwich (proj4
    pj_transform from_greenwich semantics): fwd Greenwich -> local
    subtracts pm, inv adds it back."""

    left = "rad"
    right = "rad"

    def __init__(self, pm_rad: float):
        self.pm = pm_rad

    def fwd(self, x, y, z, t):
        return x - self.pm, y, z, t

    def inv(self, x, y, z, t):
        return x + self.pm, y, z, t


def _build_latlong(params: dict) -> Step:
    pm = _pm_offset_rad(params)
    step = PmLatlongStep(pm) if pm != 0.0 else LatlongStep()
    if "geoc" in params:
        # latlong's geocentric latitude sits inside any datum shift, unlike
        # the generic +geoc hook of _build_step, which runs before it
        return Pipeline([Inverted(GeocStep(resolve_ellipsoid(params))), step])
    return step


def _pm_offset_rad(params: dict) -> float:
    pm = params.get("pm")
    if pm in (None, True):
        return 0.0
    if pm in _PRIME_MERIDIANS:
        return math.radians(_PRIME_MERIDIANS[pm])
    return math.radians(float(pm))


_LEGACY_INIT_DIRS = [
    # deployed data dir (PROJ_DATA analogue; see sources/epsg.py)
    *([os.path.join(os.environ["PROJ_SPARK_DATA"], "init"),
       os.environ["PROJ_SPARK_DATA"]]
      if os.environ.get("PROJ_SPARK_DATA") else []),
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "tests", "fixtures", "init"),
    "/root/reference/data",
]


def _legacy_init_spec(fname: str, code: str) -> str:
    """Classic proj4 init files (nad27/nad83/GL27/world/...): sections
    `<code> tokens... <>` (reference src/init.cpp pj_init_ctx section
    scan). Returns the section's tokens as a proj-string."""
    if not re.fullmatch(r"[A-Za-z0-9_.]+", fname):
        raise NotImplementedError(f"unsupported +init={fname}:{code}")
    path = None
    for d in _LEGACY_INIT_DIRS:
        cand = os.path.join(d, fname)
        if os.path.exists(cand):
            path = cand
            break
    if path is None:
        raise NotImplementedError(f"unsupported +init={fname}:{code}")
    toks: list[str] = []
    collecting = False
    with open(path, errors="replace") as f:
        for line in f:
            line = line.split("#", 1)[0]
            if not collecting:
                i = line.find(f"<{code}>")
                if i < 0:
                    continue
                collecting = True
                line = line[i + len(code) + 2:]
            if "<>" in line:
                toks.extend(line.split("<>", 1)[0].split())
                return " ".join(t for t in toks if t != "no_defs")
            toks.extend(line.split())
    raise NotImplementedError(f"+init={fname}:{code}: code not found")


# minimal +init registry: public EPSG definitions for the codes the test
# corpus exercises (a full EPSG database is out of scope per SURVEY §1.3)
_INIT_DEFS = {
    "epsg:4326": "+proj=longlat +ellps=WGS84",
    "epsg:25832": "+proj=utm +zone=32 +ellps=GRS80 +towgs84=0,0,0 +units=m",
    "epsg:25833": "+proj=utm +zone=33 +ellps=GRS80 +towgs84=0,0,0 +units=m",
    "epsg:26915": "+proj=utm +zone=15 +ellps=GRS80 +towgs84=0,0,0 +units=m",
    "epsg:3857": "+proj=webmerc +ellps=WGS84",
    "epsg:32632": "+proj=utm +zone=32 +ellps=WGS84 +units=m",
}


# the proj-string keys whose I/O hooks _build_step wraps around an operation
_DATUM_KEYS = ("towgs84", "nadgrids", "geoidgrids")
_HOOK_KEYS = ("datum", *_DATUM_KEYS, "geoc", "to_meter", "units",
              "vto_meter", "vunits", "axis")


def _build_step(params: dict) -> Step:
    if "init" in params and params.get("init") is not True:
        init = str(params["init"]).lower()
        if init in _INIT_DEFS:
            spec = _INIT_DEFS[init]
        elif init.startswith("epsg:"):
            # full EPSG registry resolution (sources/epsg.py) from the
            # reference's public SQL data, proj4-init-rules semantics
            from proj_spark.sources.epsg import epsg_to_proj
            spec = epsg_to_proj(init.split(":", 1)[1])
        elif ":" in init:
            spec = _legacy_init_spec(*init.split(":", 1))
        else:
            raise NotImplementedError(f"unsupported +init={init}")
        base = parse_params(tokenize(spec))
        # explicit params override the init definition (pj_init semantics)
        params = {**base, **{k: v for k, v in params.items() if k != "init"}}
    name = params.get("proj")
    if name not in _BUILDERS:
        raise NotImplementedError(f"unsupported operation +proj={name}")
    if "datum" in params and params["datum"] is not True:
        try:
            ell_name, extra = _DATUM_DEFS[str(params["datum"])]
        except KeyError:
            raise ValueError(f"unknown datum {params['datum']!r}") from None
        params = {**params}
        params.setdefault("ellps", ell_name)
        for k, v in extra.items():
            params.setdefault(k, v)
    step = _BUILDERS[name](params)
    # the I/O hooks of fwd_prepare/fwd_finalize (reference src/fwd.cpp:40-121,
    # mirrored in inv.cpp) are existing steps run before or after the
    # operation, in one nested Pipeline. The datum hooks apply to
    # angular-input operations, not to the primitives that read these params
    datum: list[Step] = []
    if (params.keys() & _DATUM_KEYS
            and name not in ("helmert", "molobadekas", "hgridshift",
                             "vgridshift", "gridshift", "molodensky")
            and step.left == "rad"):
        datum = _datum_steps(params, resolve_ellipsoid(params))
    if "pm" in params and isinstance(step, ProjectionStep):
        step.pm = _pm_offset_rad(params)
    # +geoc: the operation's angular side carries GEOCENTRIC latitude; the
    # core always sees geodetic, and the conversion precedes any datum
    # machinery (fwd.cpp:79-81). +proj=geoc IS the conversion, and latlong
    # places its own.
    pre: list[Step] = []
    if ("geoc" in params and name not in ("longlat", "latlong", "geoc")
            and step.left == "rad"):
        pre.append(Inverted(GeocStep(resolve_ellipsoid(params))))
    pre += datum
    # unit scaling (fwd_finalize's fr_meter and vfr_meter): fr_meter scales
    # a projected x/y, or all three axes of a bare cart/geocent; a cart
    # behind a datum or +geoc hook keeps metres, and a bare cart takes
    # +vunits only together with +units
    to_meter = _to_meter(params, "to_meter", "units")
    vto = _to_meter(params, "vto_meter", "vunits")
    cart = isinstance(step, CartStep) and not pre
    post: list[Step] = []
    if to_meter != 1.0 and (step.right == "m" or cart):
        post.append(UnitconvertStep(1.0 / to_meter,
                                    1.0 / to_meter if cart else None))
    if vto != 1.0 and (to_meter != 1.0 or not cart):
        post.append(UnitconvertStep(z=1.0 / vto))
    # generic output axis spec (+axis=enu-style; pj_adjust_axis semantics)
    if ("axis" in params and name != "axisswap"
            and str(params["axis"]) != "enu"):
        post.append(AxisswapStep(_axisswap_order({"axis": params["axis"]})))
    # push/pop take no hooks: they move no coordinates of their own, and
    # Pipeline._bind_stacks binds the shared stack to its own steps only
    if (pre or post) and not isinstance(_direction_base(step), PushStep):
        step = Pipeline([*pre, step, *post])
    if params.get("inv"):
        step = Inverted(step)
    return step


# --------------------------------------------------------------------------
# pipeline
# --------------------------------------------------------------------------

# Cache block of the degree entry points. A Step chain makes ~50 numpy
# temporaries; over a whole 65,536-row Arrow batch each is a 0.5 MB stream
# through L3/RAM and the chain turns memory-bound, while 8,192-point blocks
# keep them L2-resident. Flagship chain (phash -> datum -> UTM -> LCC -> S2)
# on a 4-core host, ns/pt by block size, alike in 1 and 4 concurrent
# processes: 2,048 -> 416-442, 8,192 -> 305-308, 16,384 -> 290-294,
# 65,536 -> 410-433. perfbench's layer microbenches slice by this value
# too (imported through proj_spark.functions).
KERNEL_CHUNK = 8192


def _in_blocks(run, x, y, z, t):
    """run(x, y, z, t) over KERNEL_CHUNK slices of a long 1-D x; y, z and t
    are each None, a scalar or an array as long as x. An output lane comes
    back as the concatenation of its slices when it is per point, else as
    the first slice's value."""
    n = x.shape[0] if x.ndim == 1 else 0
    if n <= KERNEL_CHUNK:
        return run(x, y, z, t)

    def cut(v, sl):
        return v[sl] if np.ndim(v) == 1 and len(v) == n else v

    parts = [run(*(cut(v, slice(i, i + KERNEL_CHUNK)) for v in (x, y, z, t)))
             for i in range(0, n, KERNEL_CHUNK)]
    return tuple(
        np.concatenate(lane) if np.ndim(lane[0]) == 1
        and len(lane[0]) == KERNEL_CHUNK else lane[0]
        for lane in zip(*parts))


@dataclass
class Pipeline:
    steps: list[Step]
    spec: str = ""

    @property
    def left(self) -> str:
        for s in self.steps:
            if s.left != "whatever":
                return s.left
        return "whatever"

    @property
    def right(self) -> str:
        for s in reversed(self.steps):
            if s.right != "whatever":
                return s.right
        return "whatever"

    def _bind_stacks(self):
        """push/pop steps share one 4-lane stack per execution
        (reference src/pipeline.cpp:139)."""
        stacks = {1: [], 2: [], 3: [], 4: []}
        for s in map(_direction_base, self.steps):
            if isinstance(s, PushStep):
                s.stack = stacks

    def fwd(self, x, y, z=None, t=None):
        self._bind_stacks()
        for s in self.steps:
            x, y, z, t = s.fwd(x, y, z, t)
        return x, y, z, t

    def inv(self, x, y, z=None, t=None):
        self._bind_stacks()
        for s in reversed(self.steps):
            x, y, z, t = s.inv(x, y, z, t)
        return x, y, z, t

    # degree-friendly entry points (what the Spark UDF factory uses); a
    # long 1-D input runs in KERNEL_CHUNK cache blocks
    def fwd_deg(self, lon_deg, lat_deg, z=None, t=None):
        return _in_blocks(self._fwd_deg, np.asarray(lon_deg, dtype=np.float64),
                          np.asarray(lat_deg, dtype=np.float64), z, t)

    def inv_deg(self, x, y, z=None, t=None):
        return _in_blocks(self._inv_deg, np.asarray(x, dtype=np.float64),
                          np.asarray(y, dtype=np.float64), z, t)

    def _fwd_deg(self, x, y, z, t):
        if self.left == "rad":
            x = x * DEG2RAD
            y = y * DEG2RAD
        x, y, z, t = self.fwd(x, y, z, t)
        if self.right == "rad":
            x = x * RAD2DEG
            y = y * RAD2DEG
        return x, y, z, t

    def _inv_deg(self, x, y, z, t):
        if self.right == "rad":
            x = x * DEG2RAD
            y = y * DEG2RAD
        x, y, z, t = self.inv(x, y, z, t)
        if self.left == "rad":
            x = x * RAD2DEG
            y = y * RAD2DEG
        return x, y, z, t


def _parse_urn(urn: str) -> tuple[str, str, str]:
    """urn:ogc:def:<objectType>:<authority>:<version>:<code> (OGC 07-092r1;
    reference io.cpp createFromURNPart). Version is usually empty ('::')."""
    parts = urn.split(":")
    if len(parts) < 7 or parts[0].lower() != "urn" or \
            parts[1].lower() != "ogc" or parts[2].lower() != "def":
        raise ValueError(f"not an OGC URN: {urn!r}")
    return parts[3].lower(), parts[4], ":".join(parts[6:])


# the authority prefixes a CRS code may carry, each mapped to the one its
# registry rows are stored under; a code is one token of the registry's
# code characters (IGNF compounds read 'RGF93G.IGN69') or a compound
# "HHHH+VVVV" pair, so it cannot splice parameters into a +init string
_CRS_AUTHS = {"EPSG": "EPSG", "ESRI": "ESRI", "IGNF": "IGNF", "NKG": "NKG",
              "IAU_2015": "IAU_2015", "IAU": "IAU_2015", "NRCAN": "NRCAN"}
_CRS_CODE = re.compile(r"[\w.]+(?:\+[\w.]+)?", re.A)


def crs_input(text: str) -> tuple[str, str | None, str]:
    """(kind, authority, code) of a user's CRS text — the one decision
    reference io.cpp createFromUserInput makes for every CRS-taking
    surface. ``kind`` is "code" (AUTH:CODE or a crs URN; a bare registry
    key such as '4230' has authority None), "metadata" (a CRS plus a
    coordinate epoch: NRCAN codes and coordinateMetadata URNs),
    "operation" (a coordinateOperation URN), "wkt", "projjson" or
    "proj"; for the last three the authority is None and the code is the
    stripped text. crs_spec and crs_registry_code read this triple."""
    from proj_spark.sources.projjson import is_projjson
    from proj_spark.sources.wkt import is_wkt

    c = text.strip()
    if c.lower().startswith("urn:"):
        kind, auth, code = _parse_urn(c)
        kind = {"crs": "code", "coordinatemetadata": "metadata",
                "coordinateoperation": "operation"}.get(kind)
        if kind is None:
            raise ValueError(f"URN is not a CRS: {c!r}")
    elif is_wkt(c):
        return "wkt", None, c
    elif is_projjson(c):
        return "projjson", None, c
    elif m := re.fullmatch(r"(\w+):(.*)", c, re.S | re.A):
        kind, auth, code = "code", m[1], m[2]
    elif _CRS_CODE.fullmatch(c):
        return "code", None, c
    elif "+" in c or "=" in c:
        return "proj", None, c
    else:
        raise ValueError(f"unsupported CRS {c!r}")
    code = code.strip()
    if not _CRS_CODE.fullmatch(code):
        raise ValueError(f"malformed code in {c!r}")
    if kind == "operation":
        return kind, auth.upper(), code
    if auth.upper() not in _CRS_AUTHS:
        raise NotImplementedError(f"CRS authority {auth!r} not bundled")
    auth = _CRS_AUTHS[auth.upper()]
    return ("metadata" if auth == "NRCAN" else kind), auth, code


def crs_registry_code(crs: tuple[str, str | None, str]) -> str | None:
    """The bundled registry's key for a crs_input triple, or None: the
    bare code for EPSG, IGNF and NKG, 'IAU_2015:n' for IAU (its codes
    collide with EPSG's), and the identified code of a WKT or PROJJSON
    CRS."""
    kind, auth, code = crs
    if kind == "wkt":
        from proj_spark.sources.wkt import crs_epsg_code
        return crs_epsg_code(code)
    if kind == "projjson":
        from proj_spark.sources.projjson import crs_epsg_code
        return crs_epsg_code(code)
    if kind != "code" or auth == "ESRI":
        return None
    return f"IAU_2015:{code}" if auth == "IAU_2015" else code


def crs_spec(crs: tuple[str, str | None, str]) -> tuple[str, float | None]:
    """(proj-string, coordinate epoch) for a crs_input triple; the epoch
    is None except for coordinate metadata, where it rides on the t lane
    (callers pass it)."""
    kind, auth, code = crs
    if kind == "proj":
        return code, None
    if kind == "wkt":
        from proj_spark.sources.wkt import wkt_to_proj
        return wkt_to_proj(code), None
    if kind == "projjson":
        from proj_spark.sources.projjson import projjson_to_proj
        return projjson_to_proj(code), None
    if kind == "metadata":
        from proj_spark.sources.epsg import coordinate_metadata
        return coordinate_metadata(code)
    if kind == "operation":
        raise ValueError(f"{auth}:{code} is an operation, not a CRS")
    if auth == "ESRI":
        from proj_spark.sources.esri import esri_to_proj
        return esri_to_proj(code), None
    if auth is None:
        raise ValueError(f"unsupported CRS {code!r}: a code needs its "
                         "authority")
    from proj_spark.sources.epsg import epsg_to_proj
    return epsg_to_proj(crs_registry_code(crs)), None


def compile_crs_to_crs(src: str, dst: str) -> Pipeline:
    """proj_create_crs_to_crs analogue for every CRS spelling crs_input
    reads: a two-step pipeline running the source op INVERSE to WGS84
    geodetic (its datum hook steps included, see _datum_steps) then the
    target op FORWARD (reference src/4D_api.cpp proj_create_crs_to_crs ->
    pipeline of inverse(src) + forward(dst))."""

    def build_side(crs: str):
        """(step, geoc_ellipsoid | None): +geoc on a CRS spec means the
        CRS's ANGULAR coordinates carry geocentric latitude (reference
        PROJStringParser: spherical-planetocentric base). The conversion
        is a separate role-directed pipeline step (reference
        test_operationfactory createOperation_spherical_ocentric_*:
        source → '+inv +proj=geoc' before anything else; target →
        '+proj=geoc' last; a PROJECTED CRS over an ocentric base gets NO
        geoc step — its cartesian coords relate to geodetic latitude
        through the conversion alone). An EPSG code takes the +init
        route: the _INIT_DEFS codes keep their legacy definitions and do
        not load the registry."""
        kind, auth, code = inp = crs_input(crs)
        spec = (f"+init=epsg:{code}" if kind == "code" and auth == "EPSG"
                else crs_spec(inp)[0])
        params = parse_params(tokenize(spec))
        geoc_ell = None
        if "geoc" in params and params.get("proj") != "geoc":
            geoc_ell = resolve_ellipsoid(params)
            params = {k: v for k, v in params.items() if k != "geoc"}
        step = _build_step(params)
        if geoc_ell is not None and step.right != "rad":
            geoc_ell = None     # projected/geocentric CRS: no geoc step
        return step, geoc_ell, resolve_ellipsoid(params).a

    s1, g1, a1 = build_side(src)
    s2, g2, a2 = build_side(dst)
    from proj_spark.sources.epsg import check_same_body
    check_same_body(a1, a2)    # different celestial bodies
    steps: list = []
    if g1 is not None:
        steps.append(Inverted(GeocStep(g1)))    # geocentric -> geodetic
    steps.append(Inverted(s1))
    steps.append(s2)
    if g2 is not None:
        steps.append(GeocStep(g2))              # geodetic -> geocentric
    return Pipeline(steps, f"{src} -> {dst}")


def compile_pipeline(spec: str) -> Pipeline:
    """Compile a proj-string (single op or +proj=pipeline) into a Pipeline.

    Also accepts OGC URNs (reference io.cpp createFromUserInput):
    ``urn:ogc:def:coordinateOperation:AUTH::CODE`` resolves the registry
    operation by code and compiles it in its published domain;
    ``urn:ogc:def:crs:AUTH::CODE`` compiles the CRS's proj-string."""
    if spec.lstrip().lower().startswith("urn:"):
        kind, _auth, code = inp = crs_input(spec)
        if kind == "operation":
            from proj_spark.sources.epsg_ops import operation_by_urn

            spec, _op = operation_by_urn(code)
        else:
            spec = crs_spec(inp)[0]
    tokens = tokenize(spec)
    # split into [global] step [step ...] on the bare "step" sentinel
    groups: list[list[str]] = [[]]
    for tok in tokens:
        if tok.lstrip("+") == "step":
            groups.append([])
        else:
            groups[-1].append(tok)

    head = parse_params(groups[0])
    if head.get("proj") != "pipeline":
        if len(groups) > 1:
            # "+step +proj=..." with no pipeline head: gie accepts a single
            # bare step as a one-step pipeline (more_builtins.gie:535)
            if not head and len(groups) == 2:
                return Pipeline([_build_step(parse_params(groups[1]))], spec)
            raise ValueError("step without proj=pipeline")
        return Pipeline([_build_step(head)], spec)

    # a global +inv on the pipeline itself inverts the whole pipeline
    # (run steps right-to-left, each in its opposite direction) — distinct
    # from a per-step inv flag (reference src/pipeline.cpp direction logic)
    glob_inv = bool(head.get("inv"))
    glob = {k: v for k, v in head.items() if k not in ("proj", "inv")}
    steps = []
    for g in groups[1:]:
        p = parse_params(g)
        merged = {**glob, **p}
        built = _build_step(merged)
        if merged.get("omit_fwd") or merged.get("omit_inv"):
            built = OmitStep(built, bool(merged.get("omit_fwd")),
                             bool(merged.get("omit_inv")))
        steps.append(built)
    if not steps:
        raise ValueError("pipeline with no steps")
    if glob_inv:
        steps = [Inverted(s) for s in reversed(steps)]
    return Pipeline(steps, spec)
