"""Minimal WKT (ISO 19162) CRS reader — input only.

The reference's io.cpp WKT machinery is ~20k LoC covering WKT1/WKT2/ESRI
dialects with full object round-tripping; that subsystem is a sanctioned
scope cut (SURVEY §1.3). This module parses just enough of the grammar to
INPUT a CRS — WKT2 GEOGCRS/GEODCRS, PROJCRS, BOUNDCRS with
ABRIDGEDTRANSFORMATION, plus the legacy WKT1 GEOGCS/PROJCS/TOWGS84
spellings — and lowers it onto the same proj-string surface the EPSG
resolver targets, so every downstream kernel is shared (reference
src/iso19111/io.cpp WKTParser used as the GRAMMAR SPEC, not the code).

Projection methods are dispatched through sources.epsg._METHODS by EPSG
method code (from METHOD ID[...] when present, else a name table), with
parameters adapted to the same _Params duck-type keyed by EPSG parameter
code.

A BOUNDCRS parameter is known by its EPSG ID, else by its name (a
PARAMETER["Y-axis translation",73.7] with no ID counts). Its unit
converts its value to +towgs84's metres, arc-seconds and ppm. The scale
difference: a ppm unit keeps the value; any other unit converts it to
unity, and a unity value within 1e-2 of 1 is the abridged (1 + ds*1e-6)
form, any other is multiplied by 1e6; without a unit, a value within
1e-2 of 1 is the abridged form and any other is already ppm.

sources.projjson maps PROJJSON onto the same Node trees, so both text
formats share this lowering, the COMPOUNDCRS rule (a GEOIDMODEL ID names
the grid op first, else the VERTCRS's EPSG ID) and crs_epsg_code (which
never identifies a Cartesian CRS by its datum ensemble).
"""

from __future__ import annotations

import functools
import math
import re

from proj_spark.sources import epsg as _epsg

DEG_PER_RAD = 180.0 / math.pi


# ----------------------------------------------------------------- parser

class Node:
    __slots__ = ("name", "args")

    def __init__(self, name: str, args: list):
        self.name = name.upper()
        self.args = args

    def find(self, *names) -> "Node | None":
        up = {n.upper() for n in names}
        for a in self.args:
            if isinstance(a, Node) and a.name in up:
                return a
        return None

    def all(self, *names) -> list["Node"]:
        up = {n.upper() for n in names}
        return [a for a in self.args if isinstance(a, Node) and a.name in up]

    def str0(self) -> str:
        for a in self.args:
            if isinstance(a, str):
                return a
        return ""

    def nums(self) -> list[float]:
        return [a for a in self.args if isinstance(a, float)]


_TOKEN = re.compile(
    r'\s*(?:("(?:[^"]|"")*")|([A-Za-z_][A-Za-z0-9_ ]*?(?=\[|\())|'
    r'([-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)|([\[\](),])|'
    r'([A-Za-z_][A-Za-z0-9_-]*))'  # bare enum (axis direction, CS type)
)


def parse_wkt(text: str) -> Node:
    pos = 0
    n = len(text)

    def error(msg):
        raise ValueError(f"WKT parse error at {pos}: {msg}")

    def next_tok():
        nonlocal pos
        m = _TOKEN.match(text, pos)
        if not m:
            return None
        pos = m.end()
        if m.group(1) is not None:
            return ("str", m.group(1)[1:-1].replace('""', '"'))
        if m.group(2) is not None:
            return ("kw", m.group(2).strip())
        if m.group(3) is not None:
            return ("num", float(m.group(3)))
        if m.group(4) is not None:
            return ("punct", m.group(4))
        return ("enum", m.group(5))

    def parse_node(kw: str) -> Node:
        nonlocal pos
        t = next_tok()
        if t is None or t[0] != "punct" or t[1] not in "[(":
            error(f"expected [ after {kw}")
        args: list = []
        while True:
            t = next_tok()
            if t is None:
                error("unterminated node")
            if t[0] == "punct":
                if t[1] in "])":
                    return Node(kw, args)
                if t[1] == ",":
                    continue
                error(f"unexpected {t[1]}")
            elif t[0] == "kw":
                args.append(parse_node(t[1]))
            elif t[0] in ("str", "num"):
                args.append(t[1])
            elif t[0] == "enum":
                # bare enums (north/east/ellipsoidal/Cartesian/...) kept
                # as plain strings — the CS subtype decides geographic vs
                # geocentric GEODCRS; lowering otherwise ignores them
                args.append(t[1])

    t = next_tok()
    if t is None or t[0] != "kw":
        raise ValueError("not WKT: no leading keyword")
    root = parse_node(t[1])
    return root


_WKT_HEADS = ("GEOGCRS", "GEODCRS", "PROJCRS", "BOUNDCRS",
              "GEOGCS", "PROJCS", "GEOCCS")


def is_wkt(s: str) -> bool:
    head = s.lstrip()[:12].upper()
    return any(head.startswith(k) for k in _WKT_HEADS)


# ------------------------------------------------------------------ units

def _unit_factor(node: Node | None, default: float) -> float:
    """ANGLEUNIT/LENGTHUNIT/SCALEUNIT/UNIT[name, factor] -> factor."""
    if node is None:
        return default
    ns = node.nums()
    return ns[0] if ns else default


def _is_ppm(unit: Node | None) -> bool:
    return unit is not None and (
        "parts per million" in unit.str0().lower()
        or abs(_unit_factor(unit, 1.0) - 1e-6) < 1e-18)


def _angle_value_deg(value: float, unit: Node | None) -> float:
    """Convert a WKT angular value to degrees, preferring EXACT unit
    identification (the truncated 0.0174532925199433 literal times
    180/pi would perturb every coordinate by ~1e-12 deg otherwise) —
    same normalization io.cpp applies via its unit registry."""
    if unit is None:
        return value
    name = unit.str0().lower()
    f = _unit_factor(unit, math.pi / 180.0)
    if "degree" in name or abs(f - math.pi / 180.0) < 1e-14:
        return value
    if name in ("grad", "gon") or abs(f - math.pi / 200.0) < 1e-14:
        return value * 0.9
    if "arc-second" in name or "arcsecond" in name:
        return value / 3600.0
    if "arc-minute" in name or "arcminute" in name:
        return value / 60.0
    if "radian" in name:
        return value * DEG_PER_RAD
    return value * f * DEG_PER_RAD


_ANGLE_UNITS = ("ANGLEUNIT", "UNIT")
_LENGTH_UNITS = ("LENGTHUNIT", "UNIT")
_UNITS = ("ANGLEUNIT", "LENGTHUNIT", "SCALEUNIT", "UNIT")


def _id_code(node: Node, auth: str | None = "EPSG") -> str | None:
    """The code of a node's ID[auth, code] / AUTHORITY[auth, "code"]
    child, else None. An EPSG code is a finite number or a digit
    string; auth=None takes the code of any authority."""
    ids = node.find("ID", "AUTHORITY")
    if ids is None or len(ids.args) < 2 or (
            auth is not None and ids.str0().upper() != auth):
        return None
    c = ids.args[1]
    if isinstance(c, float):
        return str(int(c)) if math.isfinite(c) else None
    if not isinstance(c, str) or (auth == "EPSG" and not c.strip().isdigit()):
        return None
    return c.strip()


def _cs_subtype(crs: Node) -> str:
    """Lower-cased CS type of a CRS node ('ellipsoidal', 'cartesian',
    'spherical', ...), '' when it has no CS."""
    cs = crs.find("CS")
    return str(cs.args[0]).lower() if cs is not None and cs.args else ""


# ------------------------------------------------------- geographic CRS

def _ellipsoid_spec(datum: Node) -> str:
    """The datum's ELLIPSOID/SPHEROID[name, a, rf, LENGTHUNIT] -> +a/+rf
    (or +R)."""
    ell = datum.find("ELLIPSOID", "SPHEROID")
    if ell is None:
        raise ValueError("datum without ELLIPSOID")
    ns = ell.nums()
    if len(ns) < 2:
        raise ValueError("ELLIPSOID needs a and 1/f")
    a, rf = ns[0], ns[1]
    a *= _unit_factor(ell.find(*_LENGTH_UNITS), 1.0)
    if rf == 0.0:
        return f"+R={a!r}"
    return f"+a={a!r} +rf={rf!r}"


def _datum_of(crs: Node) -> Node:
    d = crs.find("DATUM", "TRF", "GEODETICDATUM", "ENSEMBLE")
    if d is None:
        raise ValueError(f"{crs.name}: no datum")
    return d


def _geog_spec(crs: Node) -> str:
    """GEOGCRS/GEODCRS/BASEGEOGCRS/GEOGCS -> '+proj=longlat ...' spec
    (+towgs84 appended when a WKT1 TOWGS84 node is present)."""
    datum = _datum_of(crs)
    s = f"+proj=longlat {_ellipsoid_spec(datum)}"
    pm = crs.find("PRIMEM") or datum.find("PRIMEM")
    if pm is not None:
        ns = pm.nums()
        if ns:
            pm_deg = _angle_value_deg(ns[0], pm.find(*_ANGLE_UNITS)
                                      or crs.find("UNIT"))
            if pm_deg != 0.0:
                s += f" +pm={pm_deg!r}"
    tw = datum.find("TOWGS84")
    if tw is not None:
        vals = ",".join(repr(v) for v in tw.nums())
        s += f" +towgs84={vals}"
    if _cs_subtype(crs) == "spherical":
        # spherical planetocentric (IAU ocentric): coordinates carry
        # geocentric latitude (reference io.cpp GEODCRS cs subtype)
        s += " +geoc"
    if _has_west_axis(crs):
        # west-positive longitude (IAU ographic on retrograde bodies):
        # the reference's axisswap order=-1,2 (crs.cpp:4646) == +axis=wnu
        s += " +axis=wnu"
    return s


def _has_west_axis(crs: Node, first_only: bool = False) -> bool:
    """West-positive axis detection. Geodetic CRSs check every axis (the
    longitude axis may be second, as in IAU OGRAPHIC_NORTH_WEST);
    projected CRSs check the FIRST axis only — that mirrors the
    registry lowering's rule, and keeps south-west orientated survey
    grids (EPSG cs 6501 Southing/Westing) out, matching their
    proj4-init lowering which carries no axis spec."""
    for ax in crs.all("AXIS"):
        direction = next((a for a in ax.args[1:] if isinstance(a, str)), "")
        if direction.lower() == "west":
            return True
        if first_only and direction:
            return False
    return False


# -------------------------------------------------------- projected CRS

# METHOD/PROJECTION name -> EPSG method code (WKT2 names + WKT1 legacy
# underscore spellings), for WKTs that omit ID[]
_METHOD_NAMES = {
    "transverse mercator": "9807",
    "transverse mercator (south orientated)": "9808",
    "lambert conic conformal (1sp)": "9801",
    "lambert conic conformal (2sp)": "9802",
    "lambert conic conformal (2sp belgium)": "9803",
    "mercator (variant a)": "9804",
    "mercator (variant b)": "9805",
    "cassini-soldner": "9806",
    "oblique stereographic": "9809",
    "polar stereographic (variant a)": "9810",
    "polar stereographic (variant b)": "9829",
    "new zealand map grid": "9811",
    "hotine oblique mercator (variant a)": "9812",
    "hotine oblique mercator (variant b)": "9815",
    "american polyconic": "9818",
    "krovak": "9819",
    "krovak (north orientated)": "1041",
    "albers equal area": "9822",
    "lambert azimuthal equal area": "9820",
    "popular visualisation pseudo mercator": "1024",
    "equidistant cylindrical": "1028",
    "equidistant cylindrical (spherical)": "1029",
    # planetary methods (IAU registry; reference parammappings.cpp)
    "mercator (spherical)": "1026",
    "orthographic": "9840",
    "sinusoidal": "SINUSOIDAL",
    "mollweide": "MOLLWEIDE",
    "robinson": "ROBINSON",
    # WKT1 legacy spellings
    "transverse_mercator": "9807",
    "mercator_1sp": "9804",
    "mercator_2sp": "9805",
    "lambert_conformal_conic_1sp": "9801",
    "lambert_conformal_conic_2sp": "9802",
    "oblique_stereographic": "9809",
    "polar_stereographic": "9810",
    "cassini_soldner": "9806",
    "new_zealand_map_grid": "9811",
    # GDAL's bare Hotine_Oblique_Mercator is the natural-origin variant A;
    # the projection-centre variant B carries the _Azimuth_Center suffix
    "hotine_oblique_mercator": "9812",
    "hotine_oblique_mercator_azimuth_center": "9815",
    "transverse_mercator_south_orientated": "9808",
    "lambert_conformal_conic_2sp_belgium": "9803",
    "polyconic": "9818",
    "albers_conic_equal_area": "9822",
    "lambert_azimuthal_equal_area": "9820",
    "equirectangular": "1028",
}

# PARAMETER name -> EPSG parameter code (WKT2 official + WKT1 legacy)
_PARAM_NAMES = {
    "latitude of natural origin": "8801",
    "longitude of natural origin": "8802",
    "scale factor at natural origin": "8805",
    "false easting": "8806",
    "false northing": "8807",
    "latitude of projection centre": "8811",
    "longitude of projection centre": "8812",
    "azimuth at projection centre": "8813",
    "azimuth of initial line": "8813",
    "angle from rectified to skew grid": "8814",
    "scale factor at projection centre": "8815",
    "scale factor on initial line": "8815",
    "easting at projection centre": "8816",
    "northing at projection centre": "8817",
    "latitude of pseudo standard parallel": "8818",
    "scale factor on pseudo standard parallel": "8819",
    "latitude of false origin": "8821",
    "longitude of false origin": "8822",
    "latitude of 1st standard parallel": "8823",
    "latitude of 2nd standard parallel": "8824",
    "easting at false origin": "8826",
    "northing at false origin": "8827",
    "latitude of standard parallel": "8832",
    "longitude of origin": "8833",
    "co-latitude of cone axis": "1036",
    # WKT1 legacy spellings
    "latitude_of_origin": "8801",
    "central_meridian": "8802",
    "scale_factor": "8805",
    "false_easting": "8806",
    "false_northing": "8807",
    "standard_parallel_1": "8823",
    "standard_parallel_2": "8824",
    "latitude_of_center": "8811",
    "longitude_of_center": "8812",
    "azimuth": "8813",
    "rectified_grid_angle": "8814",
    "pseudo_standard_parallel_1": "8818",
}

# WKT1 parameter-code remaps per method family: in WKT1 the generic
# names are used for 2SP-LCC / AEA false origins and 1SP scale
_WKT1_2SP_REMAP = {"8801": "8821", "8802": "8822", "8806": "8826",
                   "8807": "8827"}
# per-method WKT1 remaps beyond the 2SP family: HOM scale/origin codes,
# krovak's co-latitude/pseudo-SP spellings (GDAL WKT1 conventions)
_WKT1_METHOD_REMAP = {
    "9802": _WKT1_2SP_REMAP, "9803": _WKT1_2SP_REMAP,
    "9822": _WKT1_2SP_REMAP,
    "9812": {"8805": "8815"},
    "9815": {"8805": "8815", "8806": "8816", "8807": "8817"},
    "9819": {"8812": "8833", "8802": "8833", "8813": "1036",
             "8805": "8819"},
}


# ---------------------------------------------------------- ESRI dialect

# ESRI WKT1 (.prj) PROJECTION/PARAMETER spellings, remapped per method
# onto the shared EPSG lowering (reference
# src/iso19111/operation/esriparammappings.cpp esriMappings used as the
# MAPPING SPEC). ESRI drops the 1SP/2SP distinction from names
# (Lambert_Conformal_Conic, Mercator): the variant is inferred from
# which parameters are present, exactly as the reference's alt1/alt2
# mapping selection does.

# natural-origin methods: generic ESRI names -> EPSG codes
_ESRI_NO_MAP = {
    "false_easting": "8806", "false_northing": "8807",
    "central_meridian": "8802", "latitude_of_origin": "8801",
    "scale_factor": "8805", "standard_parallel_1": "8823",
}
# false-origin methods (LCC 2SP, Albers)
_ESRI_FO_MAP = {
    "false_easting": "8826", "false_northing": "8827",
    "central_meridian": "8822", "latitude_of_origin": "8821",
    "standard_parallel_1": "8823", "standard_parallel_2": "8824",
}
# Hotine oblique mercator (azimuth form)
_ESRI_HOM_MAP = {
    "longitude_of_center": "8812", "latitude_of_center": "8811",
    "azimuth": "8813", "scale_factor": "8815",
    "xy_plane_rotation": "8814",
}

# simple world projections: one proj id, lon_0/x_0/y_0 (+lat_ts where
# the kernel takes it); covers the common pseudocylindrical .prj files
_ESRI_SIMPLE = {
    "sinusoidal": "sinu", "mollweide": "moll", "robinson": "robin",
    "miller_cylindrical": "mill", "gall_stereographic": "gall",
    "winkel_tripel": "wintri", "aitoff": "aitoff",
    "van_der_grinten_i": "vandg", "equal_earth": "eqearth",
    "natural_earth": "natearth", "natural_earth_ii": "natearth2",
    "eckert_i": "eck1", "eckert_ii": "eck2", "eckert_iii": "eck3",
    "eckert_iv": "eck4", "eckert_v": "eck5", "eckert_vi": "eck6",
    "quartic_authalic": "qua_aut", "craster_parabolic": "crast",
    "flat_polar_quartic": "mbtfpq", "times": "times",
    "wagner_iv": "wag4", "wagner_v": "wag5", "wagner_vii": "wag7",
    "compact_miller": "comill", "patterson": "patterson",
    "goode_homolosine": "goode", "loximuthal": "loxim",
}


def _esri_method(name_l: str, pnames: set) -> tuple[str, dict] | None:
    """ESRI PROJECTION name (+present parameter names) -> (EPSG method
    code, ESRI-name->EPSG-code parameter map), or None."""
    if name_l in ("transverse_mercator", "gauss_kruger",
                  "transverse_mercator_complex"):
        return "9807", _ESRI_NO_MAP
    if name_l == "lambert_conformal_conic":
        if "standard_parallel_2" in pnames:
            return "9802", _ESRI_FO_MAP
        m = dict(_ESRI_NO_MAP)
        m["standard_parallel_1"] = "8801"  # 1SP: SP == latitude of origin
        return "9801", m
    if name_l == "albers":
        return "9822", _ESRI_FO_MAP
    if name_l in ("mercator", "mercator_variant_c"):
        return "9805", _ESRI_NO_MAP      # SP1 -> 8823 lat_ts (variant B)
    if name_l == "mercator_variant_a":
        return "9804", _ESRI_NO_MAP
    if name_l == "mercator_auxiliary_sphere":
        # Auxiliary_Sphere_Type 0 == popular visualisation pseudo
        # mercator; the parameter itself is unmapped (dropped)
        return "1024", _ESRI_NO_MAP
    if name_l == "double_stereographic":
        return "9809", _ESRI_NO_MAP
    if name_l in ("stereographic_north_pole", "stereographic_south_pole"):
        m = dict(_ESRI_NO_MAP)
        m["standard_parallel_1"] = "8832"
        m["central_meridian"] = "8833"
        return "9829", m
    if name_l == "polar_stereographic_variant_a":
        return "9810", _ESRI_NO_MAP
    if name_l in ("hotine_oblique_mercator_azimuth_natural_origin",
                  "rectified_skew_orthomorphic_natural_origin"):
        return "9812", {**_ESRI_HOM_MAP, "false_easting": "8806",
                        "false_northing": "8807"}
    if name_l in ("hotine_oblique_mercator_azimuth_center",
                  "rectified_skew_orthomorphic_center"):
        return "9815", {**_ESRI_HOM_MAP, "false_easting": "8816",
                        "false_northing": "8817"}
    if name_l == "cassini":
        return "9806", _ESRI_NO_MAP
    if name_l == "polyconic":
        return "9818", _ESRI_NO_MAP
    if name_l == "lambert_azimuthal_equal_area":
        return "9820", _ESRI_NO_MAP
    if name_l == "new_zealand_map_grid":
        return "9811", _ESRI_NO_MAP
    if name_l in ("plate_carree", "equidistant_cylindrical",
                  "equidistant_cylindrical_ellipsoidal"):
        return "1028", _ESRI_NO_MAP      # SP1 -> 8823 lat_ts
    return None


class _WktParams:
    """Duck-type of epsg._Params over WKT PARAMETER nodes.

    ``default_ang``/``default_len``: fallback unit nodes for WKT1, whose
    PARAMETER entries carry no unit — angles inherit the GEOGCS UNIT,
    lengths the PROJCS trailing UNIT (io.cpp WKT1 unit inheritance)."""

    def __init__(self, method_code: str, conv: Node, wkt1: bool,
                 default_ang: Node | None = None,
                 default_len: Node | None = None,
                 name_map: dict | None = None):
        self.method = method_code
        self.default_ang = default_ang
        self.default_len = default_len
        self.p: dict[str, tuple[float, Node | None]] = {}
        for par in conv.all("PARAMETER"):
            name = par.str0().strip().lower()
            if name_map is not None:
                # ESRI dialect: per-method name map is authoritative;
                # unmapped parameters (Auxiliary_Sphere_Type, X_Scale...)
                # are dropped like the reference's nullptr rows
                code = name_map.get(name)
                if code is None:
                    continue
                ns = par.nums()
                if not ns:
                    continue
                self.p[code] = (ns[0], par.find(*_UNITS))
                continue
            code = _id_code(par) or _PARAM_NAMES.get(name)
            if code is None:
                continue
            if wkt1 and method_code in _WKT1_METHOD_REMAP:
                code = _WKT1_METHOD_REMAP[method_code].get(code, code)
            ns = par.nums()
            if not ns:
                continue
            self.p[code] = (ns[0], par.find(*_UNITS))

    def deg(self, code, default=0.0):
        if str(code) not in self.p:
            return default
        v, u = self.p[str(code)]
        return _angle_value_deg(v, u if u is not None else self.default_ang)

    def m(self, code, default=0.0):
        if str(code) not in self.p:
            return default
        v, u = self.p[str(code)]
        if u is None:
            u = self.default_len
        return v * _unit_factor(u, 1.0)

    def k(self, code, default=1.0):
        if str(code) not in self.p:
            return default
        v, u = self.p[str(code)]
        return v * (1e-6 if _is_ppm(u) else _unit_factor(u, 1.0))


def _proj_spec(crs: Node) -> str:
    wkt1 = crs.name == "PROJCS"
    base = crs.find("BASEGEOGCRS", "BASEGEODCRS", "GEOGCS")
    if base is None:
        raise ValueError("PROJCRS without base geographic CRS")
    conv = crs if wkt1 else crs.find("CONVERSION", "DERIVINGCONVERSION")
    if conv is None:
        raise ValueError("PROJCRS without CONVERSION")
    meth = conv.find("METHOD", "PROJECTION")
    if meth is None:
        raise ValueError("CONVERSION without METHOD")
    # PROJ-authority methods are named (iau.sql: SINUSOIDAL/...)
    code = _id_code(meth) or _id_code(meth, "PROJ")
    name_l = meth.str0().strip().lower()
    default_ang = default_len = None
    if wkt1:
        default_ang = base.find("UNIT")        # GEOGCS angular unit
        units = crs.all("UNIT")                # PROJCS trailing length unit
        default_len = units[-1] if units else None

    ext = crs.find("EXTENSION")
    if ext is not None and ext.str0().upper() == "PROJ4":
        # GDAL WKT1 PROJ4 extension node: the authoritative lowering for
        # CRSs WKT1 cannot express (webmerc's spherical formulas)
        strs = [a for a in ext.args if isinstance(a, str)]
        if len(strs) >= 2:
            return strs[1].strip()
    # ESRI dialect detection (reference io.cpp esriStyle_: GCS_ / D_
    # naming); ESRI names take priority in ESRI files, and also serve as
    # the fallback when the standard tables don't know the name
    esri_style = wkt1 and (
        _datum_of(base).str0().strip().lower().startswith("d_")
        or base.str0().strip().lower().startswith("gcs_"))
    esri_map = None
    if code is None:
        pnames = {p.str0().strip().lower() for p in conv.all("PARAMETER")}
        hit = (_esri_method(name_l, pnames)
               if (esri_style or name_l not in _METHOD_NAMES) else None)
        if hit is not None:
            code, esri_map = hit
        else:
            code = _METHOD_NAMES.get(name_l)
    if code is None and name_l in _ESRI_SIMPLE:
        P = _WktParams("", conv, wkt1, default_ang, default_len,
                       name_map=_ESRI_NO_MAP)
        return _finish_proj_spec(
            crs, base, wkt1,
            f"+proj={_ESRI_SIMPLE[name_l]} +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")
    if code is None and name_l in ("stereographic", "azimuthal_equidistant",
                                   "orthographic"):
        P = _WktParams("", conv, wkt1, default_ang, default_len,
                       name_map=_ESRI_NO_MAP)
        pid = {"stereographic": "stere", "azimuthal_equidistant": "aeqd",
               "orthographic": "ortho"}[name_l]
        s0 = (f"+proj={pid} +lat_0={P.deg(8801)!r} +lon_0={P.deg(8802)!r} "
              f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")
        if name_l == "stereographic":
            s0 += f" +k_0={P.k(8805)!r}"
        return _finish_proj_spec(crs, base, wkt1, s0)
    if code is None or code not in _epsg._METHODS:
        raise NotImplementedError(
            f"WKT projection method {meth.str0()!r} not supported")
    P = _WktParams(code, conv, wkt1, default_ang, default_len,
                   name_map=esri_map)
    if esri_map is not None and code in ("9812", "9815") \
            and "8814" not in P.p and "8813" in P.p:
        # ESRI azimuth form implies rectified grid angle == azimuth
        P.p["8814"] = P.p["8813"]
    if wkt1 and esri_map is None and code == "9810" \
            and abs(P.deg(8801)) != 90.0:
        # GDAL WKT1 spells Polar Stereographic VARIANT B (standard
        # parallel instead of k_0) as Polar_Stereographic with
        # |latitude_of_origin| != 90 (GDAL ogr_srs_api semantics)
        P.method = code = "9829"
        P.p["8832"] = P.p.pop("8801")
        if "8802" in P.p:
            P.p["8833"] = P.p.pop("8802")
    return _finish_proj_spec(crs, base, wkt1, _epsg._METHODS[code](P))


def _finish_proj_spec(crs: Node, base: Node, wkt1: bool,
                      method_spec: str) -> str:
    """Append the base-CRS ellipsoid/PM (+towgs84 riding along) and the
    projected axis unit (+to_meter) to a lowered method spec."""
    geog = _geog_spec(base)
    # split +towgs84 off the base so it rides on the projected CRS too;
    # base axis/geoc specifics do NOT propagate — the conversion
    # consumes normalized base coordinates (ocentric bases are handled
    # by id below, reference semantics)
    parts = geog.split()
    datum_extra = " ".join(p for p in parts[1:] if p.startswith(("+towgs84",)))
    ell_pm = " ".join(p for p in parts[1:]
                      if not p.startswith(("+towgs84", "+geoc", "+axis")))
    s = f"{method_spec} {ell_pm}"
    if datum_extra:
        s += f" {datum_extra}"
    # projected axis unit -> +to_meter (first Cartesian AXIS or CS-level)
    unit = None
    for ax in crs.all("AXIS"):
        unit = ax.find("LENGTHUNIT", "UNIT") or unit
    if unit is None:
        unit = crs.find("LENGTHUNIT")
        if unit is None and wkt1:
            # WKT1: trailing UNIT node at PROJCS level
            units = crs.all("UNIT")
            unit = units[-1] if units else None
    if unit is not None:
        f = _unit_factor(unit, 1.0)
        if f != 1.0:
            s += f" +to_meter={f!r}"
    if _base_is_ocentric(base):
        # projected over a spherical-planetocentric base: the angular
        # side carries geocentric latitude (reference accepts
        # '+proj=<method> +geoc' CRSs and identifies ocentric bases by
        # their ID — test_crs.cpp Mercury ocentric PROJCRS)
        s += " +geoc"
    if _has_west_axis(crs, first_only=True) and " +axis=" not in s:
        # west-positive easting (IAU PROJECTED_WEST_NORTH cs); methods
        # that fix their own axes (TM-SO +axis=wsu) are left alone
        s += " +axis=wnu"
    return s


def _base_is_ocentric(base: Node) -> bool:
    """Spherical-planetocentric base detection: an explicit spherical CS
    node, or a registry lookup through the base's IAU id (WKT2 base
    nodes carry no CS — the id is the reference's own recovery route,
    test_crs.cpp:3430)."""
    if _cs_subtype(base) == "spherical":
        return True
    code = _id_code(base, "IAU_2015") or _id_code(base, "IAU")
    if code is None:
        return False
    crs = _epsg.crs_record(f"IAU_2015:{code}")
    return crs is not None and crs.cs == "spherical"


# ------------------------------------------------------------ bound CRS

# ABRIDGEDTRANSFORMATION parameter name -> EPSG code, for a PARAMETER
# written without an ID
_TOWGS84_NAMES = {
    "x-axis translation": "8605", "y-axis translation": "8606",
    "z-axis translation": "8607", "x-axis rotation": "8608",
    "y-axis rotation": "8609", "z-axis rotation": "8610",
    "scale difference": "8611",
}


def _towgs84_value(code: str, v: float, unit: Node | None) -> float:
    """One ABRIDGEDTRANSFORMATION value in +towgs84's units (metres,
    arc-seconds, ppm). A value without a unit is already in them, except
    a scale in the abridged form."""
    if code in ("8605", "8606", "8607"):
        return v * _unit_factor(unit, 1.0)
    if code != "8611":
        return v if unit is None else _angle_value_deg(v, unit) * 3600.0
    if _is_ppm(unit):
        return v
    v *= _unit_factor(unit, 1.0)
    # the abridged spelling carries the scale as (1 + ds*1e-6); real ds
    # is a few ppm, so the encoded value sits within ~1e-5 of 1. The
    # tight window keeps a plain-ppm value under 0.5 (e.g. 0.3) from
    # being misread as (0.3-1)*1e6 = -700000 ppm.
    if abs(v - 1.0) < 1e-2:
        return (v - 1.0) * 1e6
    return v if unit is None else v * 1e6


def _bound_spec(crs: Node) -> str:
    src = crs.find("SOURCECRS")
    if src is None:
        raise ValueError("BOUNDCRS without SOURCECRS")
    inner = next((a for a in src.args if isinstance(a, Node)), None)
    if inner is None:
        raise ValueError("empty SOURCECRS")
    spec = wkt_node_to_proj(inner)
    tr = crs.find("ABRIDGEDTRANSFORMATION")
    if tr is None:
        return spec
    vals = dict.fromkeys(_TOWGS84_NAMES.values(), 0.0)
    for par in tr.all("PARAMETER"):
        code = (_id_code(par)
                or _TOWGS84_NAMES.get(par.str0().strip().lower()))
        ns = par.nums()
        if code in vals and ns:
            vals[code] = _towgs84_value(code, ns[0], par.find(*_UNITS))
    meth = tr.find("METHOD")
    rot_sign = (-1.0 if meth is not None
                and "coordinate frame" in meth.str0().lower() else 1.0)
    nums = [vals["8605"], vals["8606"], vals["8607"]]
    if any(vals[c] != 0.0 for c in ("8608", "8609", "8610", "8611")):
        nums += [rot_sign * vals["8608"], rot_sign * vals["8609"],
                 rot_sign * vals["8610"], vals["8611"]]
    return spec + " +towgs84=" + ",".join(repr(v) for v in nums)


# -------------------------------------------------------------- entry

def _compound_spec(crs: Node) -> str:
    """COMPOUNDCRS[name, horizontal, VERTCRS] -> the horizontal spec plus
    the vertical CRS's +geoidgrids."""
    comps = [a for a in crs.args if isinstance(a, Node) and a.name != "ID"]
    if len(comps) != 2:
        raise NotImplementedError("COMPOUNDCRS needs 2 components")
    s = wkt_node_to_proj(comps[0])
    vert = comps[1]
    if vert.name != "VERTCRS":
        raise NotImplementedError(f"compound second member {vert.name}")
    gm = vert.find("GEOIDMODEL")
    op = _id_code(gm, None) if gm is not None else None
    if op is not None:
        # an explicit geoid model names its grid op, which wins over the
        # vertical-CRS-code lookup (reference io.cpp geoid_model; NRCan
        # coordinate_metadata definitions name their op)
        try:
            return s + " +geoidgrids=" + _epsg.geoid_grids_for_op(op)
        except KeyError:
            pass    # op not bundled: fall through to the code path
    code = _id_code(vert)
    if code is None:
        raise NotImplementedError(
            "VERTCRS without an EPSG id: no geoid model path")
    return s + _epsg._vertical_suffix(code)


def wkt_node_to_proj(root: Node) -> str:
    # a GEODCRS with a Cartesian CS is geocentric (WKT2 spells both
    # geographic and geocentric CRSs GEODCRS; io.cpp distinguishes by the
    # coordinate-system subtype)
    geod = root.name in ("GEOGCRS", "GEODCRS", "GEOGCS", "BASEGEOGCRS",
                         "BASEGEODCRS")
    if root.name == "GEOCCS" or (geod and _cs_subtype(root) == "cartesian"):
        return f"+proj=geocent {_ellipsoid_spec(_datum_of(root))}"
    if geod:
        return _geog_spec(root)
    if root.name in ("PROJCRS", "PROJCS"):
        return _proj_spec(root)
    if root.name == "BOUNDCRS":
        return _bound_spec(root)
    if root.name == "COMPOUNDCRS":
        return _compound_spec(root)
    raise NotImplementedError(f"WKT object {root.name} not supported as CRS")


def wkt_to_proj(wkt: str) -> str:
    """WKT1/WKT2 CRS text -> proj-string on this engine's surface."""
    return wkt_node_to_proj(parse_wkt(wkt))


# ------------------------------------------- late-binding identification

@functools.cache
def _esri_crs_aliases() -> dict:
    """ESRI GCS name -> EPSG geodetic CRS code (bundled extract of the
    reference's data/sql/esri.sql alias_name rows: table_name, auth_name,
    code, alt_name, source)."""
    m: dict = {}
    for table, vals in _epsg._extract_rows("esri_alias.sql", "esri.sql"):
        if (table == "alias_name" and vals[4] == "ESRI"
                and vals[:2] == ["geodetic_crs", "EPSG"]):
            m.setdefault(vals[3].strip().lower(), vals[2])
    return m


def crs_epsg_code(src: "str | Node") -> str | None:
    """EPSG identification of a WKT CRS (or of the node tree
    sources.projjson builds): the explicit top-level ID["EPSG",n] /
    AUTHORITY["EPSG","n"] node when present, else the ESRI name alias
    table — the late-binding identification io.cpp performs against
    esri.sql so a bare .prj (which carries no ids) still resolves to a
    registry CRS for candidate-operation dispatch."""
    root = parse_wkt(src) if isinstance(src, str) else src
    code = _id_code(root)
    if code is not None:
        return code
    alias = _esri_crs_aliases().get(root.str0().strip().lower())
    if alias is not None:
        return alias
    # datum-ensemble identification (reference io.cpp ENSEMBLE node +
    # operationfactory datum matching): a geographic CRS whose ENSEMBLE
    # matches a registry ensemble datum — by datum name or by member-id
    # set — identifies as that datum's canonical geographic 2D CRS even
    # when the CRS itself is unnamed ("unknown" in the reference test).
    # A Cartesian (geocentric) CRS is not geographic.
    ens = root.find("ENSEMBLE")
    if (ens is not None and _cs_subtype(root) != "cartesian"
            and root.name.startswith(("GEOGCRS", "GEOGCS", "GEODCRS"))):
        members = {_id_code(m) for m in ens.all("MEMBER")} - {None}
        return _ensemble_geog2d_code(ens.str0(), members)
    return None


def _ensemble_geog2d_code(name: str, member_ids: set) -> str | None:
    """Canonical geographic-2D CRS code for a datum ensemble matched
    against the bundled registry's ensembles: by name, else by the set of
    EPSG member datum ids. The WKT2 ENSEMBLE node and the PROJJSON
    datum_ensemble both map here."""
    ensembles = _epsg.ensembles()
    name = name.strip().lower()
    match = next((d for d in ensembles if d.name.strip().lower() == name),
                 None)
    if match is None and member_ids:
        match = next((d for d in ensembles
                      if member_ids <= {m[1] for m in d.members}), None)
    return None if match is None else _epsg.datum_crs(match.code)
