"""WKT2:2019/2015, PROJJSON and WKT1 (GDAL, ESRI) *export* from the
bundled EPSG registry — the output half of the io surface (reference
src/iso19111/io.cpp WKTFormatter / JSONFormatter; projinfo's default
output is WKT2:2019).

Every writer formats the one CRS record `sources.epsg.crs_record` reads
(geographic, geocentric and projected CRSs); this module reads no
registry row itself. Angular parameter/axis values are normalized to degree and
lengths to metre (the reference prints native registry units; the
normalized form is equally valid WKT2 and round-trips bit-exactly through
this repo's own readers — see tests/test_wkt_out.py round-trip oracles
against ``wkt_to_proj`` / ``projjson_to_proj``).
"""

from __future__ import annotations

import json

from proj_spark.sources import epsg as E

_DEG_PER_RAD = "0.0174532925199433"   # the WKT2 canonical degree factor
_DEGREE = f'ANGLEUNIT["degree",{_DEG_PER_RAD}]'
_METRE = 'LENGTHUNIT["metre",1]'
_SCHEMA = "https://proj.org/schemas/v0.7/projjson.schema.json"


def _q(s) -> str:
    return '"' + str(s).replace('"', "'") + '"'


def _num(v: float) -> str:
    s = repr(float(v))
    return s[:-2] if s.endswith(".0") else s


def _record(code, kinds: str = "") -> E.CRS:
    crs = E.crs_record(code)
    if crs is None:
        raise KeyError(f"registry CRS {code} is not an exportable CRS{kinds}")
    return crs


def _ellipsoid(e: E.Ellipsoid) -> tuple[str, dict]:
    w = (f"ELLIPSOID[{_q(e.name)},{_num(e.a)},{_num(e.inv_flattening)},"
         f"{_METRE}]")
    if e.rf is not None:
        return w, {"name": e.name, "semi_major_axis": e.a,
                   "inverse_flattening": e.rf}
    if e.b == e.a:
        return w, {"name": e.name, "radius": e.a}
    return w, {"name": e.name, "semi_major_axis": e.a, "semi_minor_axis": e.b}


def _datum(d: E.Datum, ensemble: bool) -> tuple[str, dict]:
    """(wkt DATUM or ENSEMBLE node + PRIMEM, json datum or
    datum_ensemble member). ensemble=True spells an ensemble datum as its
    member list (WKT2:2019 and PROJJSON; the 2015 edition has no ENSEMBLE
    keyword); members carry their ids so the repo's own
    ensemble-identification (member-id set matching) round-trips."""
    ew, ej = _ellipsoid(d.ellipsoid)
    pm = d.pm
    wp = f"PRIMEM[{_q(pm.name)},{_num(pm.lon)},{_DEGREE}]"
    if ensemble and d.members:
        w = (f"ENSEMBLE[{_q(d.name)},"
             + ",".join(f"MEMBER[{_q(n)},{_idw(a, c)}]"
                        for a, c, n in d.members)
             + f",{ew},ENSEMBLEACCURACY[{_num(d.accuracy)}]],{wp}")
        return w, {"datum_ensemble": {
            "name": d.name,
            "members": [{"name": n, "id": _jid(a, c)}
                        for a, c, n in d.members],
            "ellipsoid": ej, "accuracy": str(d.accuracy)}}
    jd = {"type": "GeodeticReferenceFrame", "name": d.name, "ellipsoid": ej}
    if pm.lon != 0.0:
        jd["prime_meridian"] = {"name": pm.name, "longitude": pm.lon}
    return f"DATUM[{_q(d.name)},{ew}],{wp}", {"datum": jd}


def _axes(crs: E.CRS) -> tuple[str, list[dict]]:
    """(wkt CS + AXIS nodes, json axis list)."""
    w, j = [], []
    for order, ax in enumerate(crs.axes, 1):
        u = ax.unit
        if u.kind == "angle":
            # angle axes are normalized to degree (see module docstring)
            uw, ju = _DEGREE, "degree"
        elif u.factor in (None, 1.0):
            uw, ju = _METRE, "metre"
        else:
            # non-metre linear axis units (survey feet etc.) carry the
            # projected CRS's to_meter semantics
            uw = f"LENGTHUNIT[{_q(u.name)},{_num(u.factor)}]"
            ju = {"type": "LinearUnit", "name": u.name,
                  "conversion_factor": u.factor}
        w.append(f'AXIS["{ax.name.lower()} ({ax.abbrev})",{ax.direction},'
                 f"ORDER[{order}],{uw}]")
        j.append({"name": ax.name, "abbreviation": ax.abbrev,
                  "direction": ax.direction, "unit": ju})
    return f"CS[{crs.cs},{len(w)}]," + ",".join(w), j


def _idw(auth: str, code) -> str:
    """WKT ID node for a registry key (an authority-qualified key such as
    'IAU_2015:49910' shows its bare code); non-numeric codes (PROJ method
    names, IGNF keys) are quoted per the WKT2 grammar."""
    c = str(code).split(":")[-1]
    body = c if c.lstrip("-").isdigit() else _q(c)
    return f"ID[{_q(auth)},{body}]"


def _jid(auth: str, code) -> dict:
    c = str(code).split(":")[-1]
    return {"authority": auth, "code": int(c) if c.isdigit() else c}


_UNIT_NODES = {"angle": (_DEGREE, "degree"), "length": (_METRE, "metre")}


def _conversion(P) -> tuple[str, dict]:
    wparams, jparams = [], []
    for p in P.params:
        uw, ju = _UNIT_NODES.get(p.kind, ('SCALEUNIT["unity",1]', "unity"))
        wparams.append(f"PARAMETER[{_q(p.name)},{_num(p.value)},{uw},"
                       f'ID["EPSG",{p.code}]]')
        jparams.append({"name": p.name, "value": p.value, "unit": ju,
                        "id": {"authority": "EPSG", "code": int(p.code)}})
    w = (f"CONVERSION[{_q(P.name)},METHOD[{_q(P.method_name)},"
         f"{_idw(P.method_auth, P.method)}]," + ",".join(wparams) + "]")
    return w, {"name": P.name,
               "method": {"name": P.method_name,
                          "id": _jid(P.method_auth, P.method)},
               "parameters": jparams}


def _usage_wkt(code) -> str:
    """',USAGE[SCOPE[...],AREA[...],BBOX[s,w,n,e]]...' for a CRS code
    (WKT2:2019 attribute; reference WKTFormatter USAGE emission from
    usage/scope/extent rows), empty when the registry has no usage."""
    parts = []
    for scope, area, bbox in E.crs_usages(code):
        u = f"USAGE[SCOPE[{_q(scope)}],AREA[{_q(area)}]"
        if bbox is not None:
            u += ",BBOX[" + ",".join(_num(v) for v in bbox) + "]"
        parts.append(u + "]")
    return ("," + ",".join(parts)) if parts else ""


def _jusage(code, obj: dict) -> dict:
    """Attach scope/area/bbox of the first usage to a PROJJSON object
    (reference JSONFormatter top-level scope/area/bbox fields)."""
    us = E.crs_usages(code)
    if us:
        scope, area, bbox = us[0]
        obj["scope"] = scope
        obj["area"] = area
        if bbox is not None:
            obj["bbox"] = {"south_latitude": bbox[0],
                           "west_longitude": bbox[1],
                           "north_latitude": bbox[2],
                           "east_longitude": bbox[3]}
    return obj


def epsg_to_wkt2(code, version: str = "2019") -> str:
    """WKT2 text for an EPSG geographic/geocentric/projected CRS.

    ``version``: '2019' (ISO 19162:2019 keywords — GEOGCRS for
    geographic CRSs, BASEGEOGCRS for projected bases) or '2015'
    (ISO 19162:2015, where geographic CRSs are spelled GEODCRS and
    projected bases BASEGEODCRS; the reference's WKTFormatter makes
    exactly this keyword switch — src/iso19111/crs.cpp:2166
    ``use2019Keywords() && isGeographic ? GEOGCRS : GEODCRS`` and
    crs.cpp:4417 BASEGEOGCRS vs BASEGEODCRS). The 2015 edition also
    has no USAGE and no ENSEMBLE node."""
    if version not in ("2019", "2015"):
        raise ValueError(f"WKT2 version {version!r} (use '2019'|'2015')")
    use2019 = version == "2019"
    crs = _record(code, " (geographic/geocentric/projected)")
    geod = crs.base or crs
    # geocentric and spherical planetocentric (IAU ocentric) CRSs are not
    # geographic: GEODCRS in both editions (crs.cpp isGeographic)
    kw = "GEOGCRS" if use2019 and geod.cs == "ellipsoidal" else "GEODCRS"
    body = f"{_q(geod.name)},{_datum(geod.datum, use2019)[0]}"
    tail = (f"{_axes(crs)[0]}{_usage_wkt(crs.code) if use2019 else ''},"
            f"{_idw(crs.auth, crs.code)}]")
    if crs.base is None:
        return f"{kw}[{body},{tail}"
    # a projected CRS's base carries no CS: its ID is what lets a reader
    # recover a spherical base (reference test_crs.cpp:3430 Mercury
    # ocentric PROJCRS identify-by-id)
    return (f"PROJCRS[{_q(crs.name)},BASE{kw}[{body},"
            f"{_idw(geod.auth, geod.code)}],"
            f"{_conversion(crs.conversion)[0]},{tail}")


def _json(crs: E.CRS) -> dict:
    if crs.base is None:
        head = {"type": ("GeographicCRS" if crs.cs == "ellipsoidal"
                         else "GeodeticCRS"),
                "name": crs.name, **_datum(crs.datum, True)[1]}
    else:
        head = {"type": "ProjectedCRS", "name": crs.name,
                "base_crs": _json(crs.base),
                "conversion": _conversion(crs.conversion)[1]}
    # PROJJSON carries a base CRS's full cs, unlike WKT2 base nodes
    return {**head, "coordinate_system": {"subtype": crs.cs,
                                          "axis": _axes(crs)[1]},
            "id": _jid(crs.auth, crs.code)}


def epsg_to_projjson(code) -> str:
    """PROJJSON (schema v0.7 shapes) for an EPSG CRS code."""
    crs = _record(code)
    return json.dumps(_jusage(crs.code, {"$schema": _SCHEMA, **_json(crs)}))


# ------------------------------------------------------------ WKT1 export

# EPSG method code -> (WKT1-GDAL PROJECTION name, ESRI PROJECTION name),
# indexed by the writer's esri flag;
# None = no spelling in that dialect (the writer refuses, as the
# reference's WKTFormatter throws for inexpressible methods)
_WKT1_METHODS = {
    "9807": ("Transverse_Mercator", "Transverse_Mercator"),
    "9808": ("Transverse_Mercator_South_Orientated", None),
    "9801": ("Lambert_Conformal_Conic_1SP", "Lambert_Conformal_Conic"),
    "9802": ("Lambert_Conformal_Conic_2SP", "Lambert_Conformal_Conic"),
    "9803": ("Lambert_Conformal_Conic_2SP_Belgium", None),
    "9804": ("Mercator_1SP", "Mercator_Variant_A"),
    "9805": ("Mercator_2SP", "Mercator"),
    "9806": ("Cassini_Soldner", "Cassini"),
    "9809": ("Oblique_Stereographic", "Double_Stereographic"),
    "9810": ("Polar_Stereographic", "Polar_Stereographic_Variant_A"),
    # planetary methods (iau.sql; GDAL/ESRI both spell them plainly)
    "9840": ("Orthographic", "Orthographic"),
    "SINUSOIDAL": ("Sinusoidal", "Sinusoidal"),
    "MOLLWEIDE": ("Mollweide", "Mollweide"),
    "ROBINSON": ("Robinson", "Robinson"),
    # GDAL spells variant B as Polar_Stereographic with |lat_0| != 90;
    # ESRI by hemisphere-named projections (writer picks by sign)
    "9829": ("Polar_Stereographic", "Stereographic_North_Pole"),
    "9811": ("New_Zealand_Map_Grid", "New_Zealand_Map_Grid"),
    "9812": ("Hotine_Oblique_Mercator",
             "Hotine_Oblique_Mercator_Azimuth_Natural_Origin"),
    "9815": ("Hotine_Oblique_Mercator_Azimuth_Center",
             "Hotine_Oblique_Mercator_Azimuth_Center"),
    "9818": ("Polyconic", "Polyconic"),
    "9819": ("Krovak", None),
    "9822": ("Albers_Conic_Equal_Area", "Albers"),
    "9820": ("Lambert_Azimuthal_Equal_Area",
             "Lambert_Azimuthal_Equal_Area"),
    "1028": ("Equirectangular", "Equidistant_Cylindrical"),
    "1029": ("Equirectangular", "Equidistant_Cylindrical"),
    "9823": ("Equirectangular", "Equidistant_Cylindrical"),
    "9842": ("Equirectangular", "Equidistant_Cylindrical"),
    # web mercator: WKT1 cannot express the spherical formulas — GDAL
    # rides a PROJ4 EXTENSION node (emitted separately below); ESRI has
    # the Auxiliary_Sphere spelling
    "1024": ("Mercator_1SP", "Mercator_Auxiliary_Sphere"),
    "3856": ("Mercator_1SP", "Mercator_Auxiliary_Sphere"),
}

# EPSG parameter code -> (WKT1-GDAL name, ESRI name). False-origin and
# projection-centre codes reuse the generic WKT1 spellings — the reader's
# per-method remap (sources.wkt._WKT1_METHOD_REMAP) restores the EPSG
# codes, mirroring how GDAL/ESRI files in the wild are written.
_WKT1_PARAMS = {
    "8801": ("latitude_of_origin", "Latitude_Of_Origin"),
    "8802": ("central_meridian", "Central_Meridian"),
    "8805": ("scale_factor", "Scale_Factor"),
    "8806": ("false_easting", "False_Easting"),
    "8807": ("false_northing", "False_Northing"),
    "8811": ("latitude_of_center", "Latitude_Of_Center"),
    "8812": ("longitude_of_center", "Longitude_Of_Center"),
    "8813": ("azimuth", "Azimuth"),
    "8814": ("rectified_grid_angle", "XY_Plane_Rotation"),
    "8815": ("scale_factor", "Scale_Factor"),
    "8816": ("false_easting", "False_Easting"),
    "8817": ("false_northing", "False_Northing"),
    "8818": ("pseudo_standard_parallel_1", None),
    "8819": ("scale_factor", None),
    "8821": ("latitude_of_origin", "Latitude_Of_Origin"),
    "8822": ("central_meridian", "Central_Meridian"),
    "8823": ("standard_parallel_1", "Standard_Parallel_1"),
    "8824": ("standard_parallel_2", "Standard_Parallel_2"),
    "8826": ("false_easting", "False_Easting"),
    "8827": ("false_northing", "False_Northing"),
    "8832": ("latitude_of_origin", "Standard_Parallel_1"),
    "8833": ("central_meridian", "Central_Meridian"),
    "1036": ("azimuth", None),
}


def _u(s: str) -> str:
    """classic WKT1 name morph: non-alphanumerics -> underscore."""
    out = "".join(c if c.isalnum() else "_" for c in str(s))
    while "__" in out:
        out = out.replace("__", "_")
    return out.strip("_")


def _wkt1_auth(auth: str, code) -> str:
    """WKT1 AUTHORITY node for a registry key (an authority-qualified key
    shows its bare code)."""
    return f'AUTHORITY[{_q(auth)},"{str(code).split(":")[-1]}"]'


def _no_esri_west(code) -> NotImplementedError:
    # the ESRI dialect has no axis syntax: refuse rather than silently
    # flip the sign (reference WKTFormatter behavior for inexpressible
    # CRSs)
    return NotImplementedError(
        f"{code}: west-positive axes are not expressible in the "
        f"ESRI WKT1 dialect — use WKT1-GDAL, WKT2 or PROJJSON")


def _wkt1_geogcs(crs: E.CRS, esri: bool, standalone: bool = False) -> str:
    if crs.cs == "spherical":
        # WKT1 has no spherical-planetocentric CS: the reference's WKT1
        # formatter refuses these (io.cpp "WKT1 does not support")
        raise NotImplementedError(
            f"{crs.code}: spherical planetocentric CRS is not expressible "
            f"in WKT1 — use WKT2 or PROJJSON")
    d, e, pm = crs.datum, crs.datum.ellipsoid, crs.datum.pm
    if esri:
        # ESRI dialect markers (GCS_/D_ prefixes) drive the reader's
        # esriStyle_ detection, as in real .prj files; no AUTHORITY nodes
        gname, dnm, ell_nm = f"GCS_{_u(crs.name)}", f"D_{_u(d.name)}", \
            _u(e.name)
        unit = 'UNIT["Degree",0.0174532925199433]'
    else:
        gname, dnm, ell_nm = crs.name, _u(d.name), e.name
        unit = f'UNIT["degree",{_DEG_PER_RAD},AUTHORITY["EPSG","9122"]]'

    def auth(a, c) -> str:
        return "" if esri else "," + _wkt1_auth(a, c)

    body = (f"GEOGCS[{_q(gname)},DATUM[{_q(dnm)},SPHEROID[{_q(ell_nm)},"
            f"{_num(e.a)},{_num(e.inv_flattening)}{auth(e.auth, e.code)}]"
            f"{auth(d.auth, d.code)}],PRIMEM[{_q(pm.name)},{_num(pm.lon)}"
            f"{auth(pm.auth, pm.code)}],{unit}")
    if crs.west:
        # west-positive longitude (IAU ographic): GDAL WKT1 expresses it
        # with AXIS nodes
        if esri:
            raise _no_esri_west(crs.code)
        if standalone:
            for ax in crs.axes:
                nm = ax.name.split()[-1].capitalize()
                body += f",AXIS[{_q(nm)},{ax.direction.upper()}]"
    return body + auth(crs.auth, crs.code) + "]"


def epsg_to_wkt1(code, dialect: str = "GDAL") -> str:
    """WKT1 text for an EPSG geographic/projected CRS.

    ``dialect``: 'GDAL' (OGC WKT1 as GDAL writes it — AUTHORITY nodes,
    lowercase parameter names, PROJ4 EXTENSION for web mercator) or
    'ESRI' (.prj conventions — GCS_/D_ name prefixes, capitalized
    parameter names, no AUTHORITY nodes). Both round-trip through this
    repo's own readers (sources.wkt WKT1 path / ESRI dialect) — the
    oracle in tests/test_wkt_out.py (reference io.cpp WKTFormatter
    WKT1_GDAL / WKT1_ESRI conventions)."""
    esri = dialect.upper() == "ESRI"
    crs = _record(code)
    if crs.kind == "geocentric":
        raise NotImplementedError("WKT1 has no geocentric CRS form (use WKT2)")
    if crs.base is None:
        return _wkt1_geogcs(crs, esri, standalone=True)
    geog = _wkt1_geogcs(crs.base, esri)
    P = crs.conversion
    meth_name = _WKT1_METHODS.get(P.method, (None, None))[esri]
    if meth_name is None:
        raise NotImplementedError(
            f"EPSG method {P.method} has no WKT1-"
            f"{'ESRI' if esri else 'GDAL'} spelling")
    if esri and P.method == "9829" and P.deg(8832) < 0:
        meth_name = "Stereographic_South_Pole"
    if esri and crs.west:
        raise _no_esri_west(crs.code)
    # FE/FN are expressed in the projected axis unit (WKT1 convention —
    # parameters inherit the PROJCS UNIT)
    factor = crs.to_meter
    u_name = crs.axes[0].unit.name
    params = []
    for p in sorted(P.params):
        pn = _WKT1_PARAMS.get(p.code, (None, None))[esri]
        if pn is None:
            raise NotImplementedError(
                f"parameter {p.code} has no WKT1 spelling")
        v = p.value / factor if p.kind == "length" else p.value
        params.append(f"PARAMETER[{_q(pn)},{_num(v)}]")
    if esri:
        unit = (f'UNIT[{_q(_u(u_name))},{_num(factor)}]'
                if factor != 1.0 else 'UNIT["Meter",1.0]')
        if P.method in ("1024", "3856"):
            params.append('PARAMETER["Auxiliary_Sphere_Type",0.0]')
        return (f"PROJCS[{_q(_u(crs.name))},{geog},"
                f"PROJECTION[{_q(meth_name)}],"
                + ",".join(params) + f",{unit}]")
    unit = (f'UNIT[{_q(u_name)},{_num(factor)}]' if factor != 1.0
            else 'UNIT["metre",1,AUTHORITY["EPSG","9001"]]')
    ext = ""
    if P.method in ("1024", "3856"):
        # the spherical web-mercator formulas are inexpressible in WKT1
        # parameters; GDAL's PROJ4 EXTENSION node carries the truth
        ext = (',EXTENSION["PROJ4",'
               f'{_q(E.epsg_to_proj(crs.code) + " +units=m +no_defs")}]')
    axes = ',AXIS["Easting",EAST],AXIS["Northing",NORTH]'
    if P.method == "9808":
        axes = ',AXIS["Westing",WEST],AXIS["Southing",SOUTH]'
    elif crs.west:
        # west-positive easting (IAU PROJECTED_WEST_NORTH cs)
        axes = ',AXIS["Westing",WEST],AXIS["Northing",NORTH]'
    return (f"PROJCS[{_q(crs.name)},{geog},"
            f"PROJECTION[{_q(meth_name)}],"
            + ",".join(params)
            + f",{unit}{axes}{ext}," + _wkt1_auth(crs.auth, crs.code) + "]")
