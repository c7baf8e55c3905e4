"""PROJJSON CRS reader — input only.

PROJJSON is the JSON serialization of the WKT2:2019 CRS model
(reference schemas/v0.7/projjson.schema.json; src/iso19111/io.cpp
JSONParser). This module does no lowering of its own: ``_node`` maps a
PROJJSON object onto the Node tree sources.wkt parses WKT into, and
sources.wkt lowers and identifies that tree (``wkt_node_to_proj``,
``crs_epsg_code``). The method/parameter/unit tables, the BoundCRS
reader, the +geoc/+axis=wnu axis rules and the identifier are therefore
the WKT reader's. The JSON schema is used as the GRAMMAR SPEC — no
reference code is ported.

Object -> node:
- GeographicCRS / GeodeticCRS -> GEOGCRS / GEODCRS[name, DATUM or
  ENSEMBLE[name, MEMBER[name, ID]..., ELLIPSOID], PRIMEM, CS[subtype],
  AXIS[name, direction, unit]..., ID];
- ProjectedCRS -> PROJCRS[name, BASEGEOGCRS[...], CONVERSION[name,
  METHOD, PARAMETER...], CS, AXIS..., ID];
- BoundCRS -> BOUNDCRS[SOURCECRS[...], ABRIDGEDTRANSFORMATION[name,
  METHOD, PARAMETER...]];
- CompoundCRS -> COMPOUNDCRS[name, horizontal, VERTCRS[name,
  GEOIDMODEL[name, ID], ID]];
- VerticalCRS -> VERTCRS, which lowers only inside a compound.
"""

from __future__ import annotations

import json
import math

from proj_spark.sources import wkt as _wkt
from proj_spark.sources.wkt import (Node, _angle_value_deg, _unit_factor,
                                    wkt_node_to_proj)

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


def _ids(j: dict) -> list[Node]:
    """[ID[authority, "code"]] for an object's ``id``, else []. The code
    stays a string; sources.wkt reads a digit string as an EPSG code."""
    i = j.get("id")
    if not isinstance(i, dict) or "code" not in i:
        return []
    return [Node("ID", [str(i.get("authority", "")), str(i["code"])])]


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


def _datum_nodes(j: dict) -> list[Node]:
    """[DATUM] or [ENSEMBLE] (members with their ids), else []."""
    d, head = j.get("datum"), "DATUM"
    args: list = []
    if not d:
        d, head = j.get("datum_ensemble"), "ENSEMBLE"
        if d is None:
            return []
        args = [Node("MEMBER", [str(m.get("name", "")), *_ids(m)])
                for m in d.get("members", [])]
    if "ellipsoid" in d:
        args.append(_ellipsoid_node(d["ellipsoid"]))
    return [Node(head, [str(d.get("name", "")), *args])]


def _cs_nodes(j: dict) -> list[Node]:
    cs = j.get("coordinate_system") or {}
    out = [Node("CS", [str(cs.get("subtype", ""))])]
    for ax in cs.get("axis", []):
        un = _unit_node(ax.get("unit"))
        out.append(Node("AXIS", [str(ax.get("name", "")),
                                 str(ax.get("direction", ""))]
                        + ([un] if un is not None else [])))
    return out


def _geod_node(j: dict, head: str) -> Node:
    args: list = [str(j.get("name", "")), *_datum_nodes(j)]
    # schema v0.7 nests prime_meridian inside the datum
    # (geodetic_reference_frame); accept a CRS-level spelling too
    d = j.get("datum") or {}
    pm = d.get("prime_meridian") or j.get("prime_meridian")
    if pm is not None:
        args.append(Node("PRIMEM", [str(pm.get("name", "")),
                                    _val_deg(pm["longitude"])]))
    return Node(head, args + _cs_nodes(j) + _ids(j))


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
    return Node("PARAMETER", args + _ids(p))


def _method_node(m: dict) -> Node:
    return Node("METHOD", [str(m.get("name", "")), *_ids(m)])


def _op_node(head: str, op: dict) -> Node:
    """CONVERSION / ABRIDGEDTRANSFORMATION[name, METHOD, PARAMETER...]."""
    return Node(head, [str(op.get("name", "")),
                       _method_node(op.get("method", {}))]
                + [_param_node(p) for p in op.get("parameters", [])])


def _node(j: dict) -> Node:
    """PROJJSON CRS object -> the WKT Node tree sources.wkt reads."""
    t = str(j.get("type", ""))
    name = str(j.get("name", ""))
    if t in ("GeographicCRS", "GeodeticCRS"):
        return _geod_node(j, "GEOGCRS" if t == "GeographicCRS"
                          else "GEODCRS")
    if t == "ProjectedCRS":
        return Node("PROJCRS", [name,
                                _geod_node(j["base_crs"], "BASEGEOGCRS"),
                                _op_node("CONVERSION", j["conversion"])]
                    + _cs_nodes(j) + _ids(j))
    if t == "BoundCRS":
        args = [Node("SOURCECRS", [_node(j["source_crs"])])]
        if j.get("transformation") is not None:
            args.append(_op_node("ABRIDGEDTRANSFORMATION",
                                 j["transformation"]))
        return Node("BOUNDCRS", args + _ids(j))
    if t == "CompoundCRS":
        return Node("COMPOUNDCRS", [name]
                    + [_node(c) for c in j.get("components", [])]
                    + _ids(j))
    if t == "VerticalCRS":
        gm = j.get("geoid_model")
        args = [name]
        if isinstance(gm, dict):
            args.append(Node("GEOIDMODEL", [str(gm.get("name", "")),
                                            *_ids(gm)]))
        return Node("VERTCRS", args + _ids(j))
    raise NotImplementedError(f"PROJJSON object {t!r} not supported as CRS")


# ------------------------------------------------------------------ entry

def is_projjson(s: str) -> bool:
    s = s.lstrip()
    return s.startswith("{")


def _parse(src: str | dict) -> Node:
    obj = json.loads(src) if isinstance(src, str) else src
    if not isinstance(obj, dict):
        raise ValueError("PROJJSON: top-level object expected")
    try:
        return _node(obj)
    except (AttributeError, TypeError, OverflowError) as e:
        # a member of the wrong JSON type (the schema's shape errors), or
        # an integer too large for a float
        raise ValueError(f"PROJJSON: malformed CRS object: {e}") from None


def crs_epsg_code(src: str | dict) -> str | None:
    """EPSG identification of a PROJJSON CRS: sources.wkt.crs_epsg_code
    of its node tree (the top-level id, the ESRI name alias, a
    geographic CRS's datum ensemble)."""
    return _wkt.crs_epsg_code(_parse(src))


def projjson_to_proj(src: str | dict) -> str:
    """PROJJSON text (or already-parsed dict) -> proj-string on this
    engine's surface, lowered by the WKT reader."""
    return wkt_node_to_proj(_parse(src))
