"""PROJJSON CRS reader — input only.

PROJJSON is the JSON serialization of the WKT2:2019 CRS model
(reference schemas/v0.7/projjson.schema.json; src/iso19111/io.cpp
JSONParser). This module maps a PROJJSON object onto the same Node
trees sources.wkt lowers, so the entire method/parameter/unit machinery
(EPSG method codes, exact angular-unit normalization, +to_meter axis
units) is shared with the WKT reader and every downstream kernel is the
engine's own. The JSON schema is used as the GRAMMAR SPEC — no reference
code is ported.

Supported object types: GeographicCRS, GeodeticCRS (geographic or
geocentric), ProjectedCRS, BoundCRS (+AbridgedTransformation in either
the abridged (1 + ds*1e-6) or explicit-unit parts-per-million spelling),
CompoundCRS whose vertical member resolves by EPSG id through the
registry's geoid-model rows (sources.epsg), and VerticalCRS only inside
a compound.
"""

from __future__ import annotations

import json
import math

from proj_spark.sources import epsg as _epsg
from proj_spark.sources.wkt import (Node, _angle_value_deg, _unit_factor,
                                    _ensemble_geog2d_code, wkt_node_to_proj)

# ------------------------------------------------------------------ units

_STR_UNITS = {
    # the three string-enum units of the schema (definitions/unit)
    "metre": ("LENGTHUNIT", 1.0),
    "degree": ("ANGLEUNIT", math.pi / 180.0),
    "unity": ("SCALEUNIT", 1.0),
}
_TYPE_HEADS = {
    "LinearUnit": "LENGTHUNIT",
    "AngularUnit": "ANGLEUNIT",
    "ScaleUnit": "SCALEUNIT",
    "TimeUnit": "TIMEUNIT",
    "Unit": "UNIT",
}


def _unit_node(u) -> Node | None:
    """PROJJSON unit (string enum or object) -> the WKT unit Node shape
    the shared lowering reads (name + conversion factor)."""
    if u is None:
        return None
    if isinstance(u, str):
        head, f = _STR_UNITS.get(u, ("UNIT", 1.0))
        return Node(head, [u, f])
    head = _TYPE_HEADS.get(str(u.get("type", "Unit")), "UNIT")
    return Node(head, [str(u.get("name", "")),
                       float(u.get("conversion_factor", 1.0))])


def _val_m(v) -> float:
    """value_in_metre_or_value_and_unit -> metres."""
    if isinstance(v, (int, float)):
        return float(v)
    return float(v["value"]) * _unit_factor(_unit_node(v.get("unit")), 1.0)


def _val_deg(v) -> float:
    """value_in_degree_or_value_and_unit -> degrees (exact unit names)."""
    if isinstance(v, (int, float)):
        return float(v)
    return _angle_value_deg(float(v["value"]), _unit_node(v.get("unit")))


def _epsg_id(j) -> str | None:
    i = j.get("id") if isinstance(j, dict) else None
    if (isinstance(i, dict) and "code" in i
            and str(i.get("authority", "")).upper() == "EPSG"):
        return str(i["code"])
    return None


# ------------------------------------------------------------ CRS -> Node

def _ellipsoid_node(ell: dict) -> Node:
    a = _val_m(ell.get("semi_major_axis", ell.get("radius", 0.0)))
    if "inverse_flattening" in ell:
        rf = float(ell["inverse_flattening"])
    elif "semi_minor_axis" in ell:
        b = _val_m(ell["semi_minor_axis"])
        rf = a / (a - b) if b != a else 0.0
    else:
        rf = 0.0  # sphere (radius form) -> +R
    # values already normalized to metres; no LENGTHUNIT child needed
    return Node("ELLIPSOID", [str(ell.get("name", "")), a, rf])


def _datum_node(j: dict) -> Node:
    d = j.get("datum") or j.get("datum_ensemble")
    if d is None:
        raise ValueError(f"{j.get('type')}: no datum/datum_ensemble")
    return Node("DATUM", [str(d.get("name", "")),
                          _ellipsoid_node(d["ellipsoid"])])


def _geog_node(j: dict, head: str = "GEOGCRS") -> Node:
    args: list = [str(j.get("name", "")), _datum_node(j)]
    # schema v0.7 nests prime_meridian inside the datum
    # (geodetic_reference_frame); accept a CRS-level spelling too
    d = j.get("datum") or {}
    pm = d.get("prime_meridian") or j.get("prime_meridian")
    if pm is not None:
        args.append(Node("PRIMEM", [str(pm.get("name", "")),
                                    _val_deg(pm["longitude"])]))
    return Node(head, args)


def _param_node(p: dict) -> Node:
    args: list = [str(p.get("name", ""))]
    v = p.get("value")
    if isinstance(v, (int, float)):
        args.append(float(v))
    else:
        args.append(str(v))
    un = _unit_node(p.get("unit"))
    if un is not None:
        args.append(un)
    code = _epsg_id(p)
    if code is not None:
        args.append(Node("ID", ["EPSG", float(code)]))
    return Node("PARAMETER", args)


def _method_node(m: dict) -> Node:
    args: list = [str(m.get("name", ""))]
    code = _epsg_id(m)
    if code is not None:
        args.append(Node("ID", ["EPSG", float(code)]))
    return Node("METHOD", args)


def _proj_node(j: dict) -> Node:
    base = _geog_node(j["base_crs"], "BASEGEOGCRS")
    conv_j = j["conversion"]
    conv_args: list = [str(conv_j.get("name", "")),
                       _method_node(conv_j.get("method", {}))]
    for p in conv_j.get("parameters", []):
        conv_args.append(_param_node(p))
    crs_args: list = [str(j.get("name", "")), base,
                      Node("CONVERSION", conv_args)]
    cs = j.get("coordinate_system") or {}
    for ax in cs.get("axis", []):
        un = _unit_node(ax.get("unit"))
        if un is not None:
            crs_args.append(Node("AXIS", [str(ax.get("name", "")), un]))
    return Node("PROJCRS", crs_args)


# ------------------------------------------------------------ bound CRS

_TOWGS84_NAMES = {
    "x-axis translation": "8605", "y-axis translation": "8606",
    "z-axis translation": "8607", "x-axis rotation": "8608",
    "y-axis rotation": "8609", "z-axis rotation": "8610",
    "scale difference": "8611",
}


def _bound_to_proj(j: dict) -> str:
    spec = _to_proj(j["source_crs"])
    tr = j.get("transformation")
    if tr is None:
        return spec
    mname = str(tr.get("method", {}).get("name", "")).lower()
    vals = {c: 0.0 for c in _TOWGS84_NAMES.values()}
    seen_rot = False
    for p in tr.get("parameters", []):
        code = _epsg_id(p) or _TOWGS84_NAMES.get(
            str(p.get("name", "")).strip().lower())
        if code not in vals or not isinstance(p.get("value"), (int, float)):
            continue
        v = float(p["value"])
        un = _unit_node(p.get("unit"))
        if code in ("8605", "8606", "8607"):
            v *= _unit_factor(un, 1.0)                       # -> metres
        elif code in ("8608", "8609", "8610"):
            if un is not None:
                v = _angle_value_deg(v, un) * 3600.0         # -> arc-sec
            if v != 0.0:
                seen_rot = True
        else:  # 8611 scale
            uname = un.str0().lower() if un is not None else ""
            if "parts per million" in uname or (
                    un is not None and abs(_unit_factor(un, 1.0) - 1e-6)
                    < 1e-18):
                pass                                         # already ppm
            else:
                x = v * _unit_factor(un, 1.0)
                # abridged spelling carries (1 + ds*1e-6) in unity; real
                # ds is a few ppm so that form sits within ~1e-5 of 1
                # (same window as sources.wkt._bound_spec)
                v = (x - 1.0) * 1e6 if abs(x - 1.0) < 1e-2 else x * 1e6
        vals[code] = v
    rot_sign = -1.0 if "coordinate frame" in mname else 1.0
    seven = seen_rot or vals["8611"] != 0.0
    nums = [vals["8605"], vals["8606"], vals["8607"]]
    if seven:
        nums += [rot_sign * vals["8608"], rot_sign * vals["8609"],
                 rot_sign * vals["8610"], vals["8611"]]
    return spec + " +towgs84=" + ",".join(repr(v) for v in nums)


# ------------------------------------------------------------------ entry

def _is_geocentric(j: dict) -> bool:
    cs = j.get("coordinate_system") or {}
    return str(cs.get("subtype", "")).lower() == "cartesian"


def _cs_subtype(j: dict) -> str:
    return str((j.get("coordinate_system") or {}).get("subtype", "")).lower()


def _axis_extras(j: dict, first_only: bool = False) -> str:
    """' +geoc' for a spherical-planetocentric cs and/or ' +axis=wnu'
    for a west-positive axis (IAU planetary CRSs; PROJJSON carries the
    full coordinate_system, unlike WKT2 base nodes). first_only mirrors
    the WKT reader's projected rule: only a west FIRST axis counts
    (keeps Southing/Westing survey grids out)."""
    extras = ""
    if _cs_subtype(j) == "spherical":
        extras += " +geoc"
    for ax in (j.get("coordinate_system") or {}).get("axis", []):
        if str(ax.get("direction", "")).lower() == "west":
            extras += " +axis=wnu"
            break
        if first_only:
            break
    return extras


def _to_proj(j: dict) -> str:
    t = str(j.get("type", ""))
    if t == "GeographicCRS" or (t == "GeodeticCRS" and not _is_geocentric(j)):
        return wkt_node_to_proj(_geog_node(j)) + _axis_extras(j)
    if t == "GeodeticCRS":
        return wkt_node_to_proj(
            Node("GEOCCS", [str(j.get("name", "")), _datum_node(j)]))
    if t == "ProjectedCRS":
        s = wkt_node_to_proj(_proj_node(j))
        base_extra = _axis_extras(j.get("base_crs") or {})
        if "+geoc" in base_extra and "+geoc" not in s:
            # projected over a spherical-planetocentric base
            s += " +geoc"
        ax_extra = _axis_extras(j, first_only=True)
        if "+axis=wnu" in ax_extra and "+axis=" not in s:
            s += " +axis=wnu"
        return s
    if t == "BoundCRS":
        return _bound_to_proj(j)
    if t == "CompoundCRS":
        comps = j.get("components", [])
        if len(comps) != 2:
            raise NotImplementedError("CompoundCRS needs 2 components")
        horiz, vert = comps
        s = _to_proj(horiz)
        if str(vert.get("type")) != "VerticalCRS":
            raise NotImplementedError(
                f"compound second member {vert.get('type')}")
        gm = vert.get("geoid_model")
        if isinstance(gm, dict) and isinstance(gm.get("id"), dict):
            # explicit geoid_model member: the named grid op wins over
            # the vertical-CRS-code lookup (reference io.cpp PROJJSON
            # geoid_model; NRCan coordinate_metadata defs name their op)
            try:
                return s + " +geoidgrids=" + _epsg.geoid_grids_for_op(
                    str(gm["id"].get("code")))
            except KeyError:
                pass    # op not bundled: fall through to the code path
        code = _epsg_id(vert)
        if code is None:
            raise NotImplementedError(
                "VerticalCRS without an EPSG id: no geoid model path")
        return s + _epsg._vertical_suffix(code)
    if t == "VerticalCRS":
        raise NotImplementedError(
            "vertical CRS only supported inside a CompoundCRS")
    raise NotImplementedError(f"PROJJSON object {t!r} not supported as CRS")


def is_projjson(s: str) -> bool:
    s = s.lstrip()
    return s.startswith("{")


def crs_epsg_code(src: str | dict) -> str | None:
    """EPSG identification of a PROJJSON CRS: the top-level ``id`` field
    when present, else datum-ensemble matching (schema v0.7
    ``datum_ensemble`` with ``members`` — same late-binding rule as the
    WKT2 ENSEMBLE reader: match by ensemble datum name or member-id set
    against geodetic_datum_ensemble_member.sql)."""
    obj = json.loads(src) if isinstance(src, str) else src
    if not isinstance(obj, dict):
        return None
    code = _epsg_id(obj)
    if code is not None:
        return code
    ens = obj.get("datum_ensemble")
    if (isinstance(ens, dict)
            and str(obj.get("type", "")).startswith("Geographic")):
        members = ens.get("members")
        ids = ({_epsg_id(m) for m in members} - {None}
               if isinstance(members, list) else set())
        return _ensemble_geog2d_code(str(ens.get("name", "")), ids)
    return None


def projjson_to_proj(src: str | dict) -> str:
    """PROJJSON text (or already-parsed dict) -> proj-string on this
    engine's surface, sharing the WKT reader's lowering tables."""
    obj = json.loads(src) if isinstance(src, str) else src
    if not isinstance(obj, dict):
        raise ValueError("PROJJSON: top-level object expected")
    try:
        return _to_proj(obj)
    except (AttributeError, TypeError) as e:
        # a member of the wrong JSON type (the schema's shape errors)
        raise ValueError(f"PROJJSON: malformed CRS object: {e}") from None
