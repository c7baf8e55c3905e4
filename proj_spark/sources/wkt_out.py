"""WKT2:2019 and PROJJSON *export* from the bundled EPSG registry —
the output half of the io surface (reference src/iso19111/io.cpp
WKTFormatter / JSONFormatter; projinfo's default output is WKT2:2019).

Scope: geographic 2D, geocentric, and projected CRSs resolvable by
``sources.epsg`` (every projection method ``epsg_to_proj`` lowers).
Angular parameter/axis values are normalized to degree and lengths to
metre (the reference prints native registry units; the normalized form
is equally valid WKT2 and round-trips bit-exactly through this repo's
own readers — see tests/test_wkt_out.py round-trip oracles against
``wkt_to_proj`` / ``projjson_to_proj``).
"""

from __future__ import annotations

import json

from proj_spark.sources import epsg as E

_DEG_PER_RAD = "0.0174532925199433"   # the WKT2 canonical degree factor


def _q(s) -> str:
    return '"' + str(s).replace('"', "'") + '"'


def _num(v: float) -> str:
    s = repr(float(v))
    return s[:-2] if s.endswith(".0") else s


def _ellipsoid(code) -> tuple[str, dict]:
    row = E._load()["ellipsoid"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG ellipsoid {code}")
    a = E._length_m(row[6], row[8])
    name = str(row[2])
    if row[9] is not None:
        j = {"name": name, "semi_major_axis": a,
             "inverse_flattening": float(row[9])}
        w = (f"ELLIPSOID[{_q(name)},{_num(a)},{_num(float(row[9]))},"
             f"LENGTHUNIT[\"metre\",1]]")
    else:
        b = E._length_m(row[10], row[8])
        if b == a:
            j = {"name": name, "radius": a}
            w = f"ELLIPSOID[{_q(name)},{_num(a)},0,LENGTHUNIT[\"metre\",1]]"
        else:
            j = {"name": name, "semi_major_axis": a, "semi_minor_axis": b}
            rf = a / (a - b)
            w = (f"ELLIPSOID[{_q(name)},{_num(a)},{_num(rf)},"
                 f"LENGTHUNIT[\"metre\",1]]")
    return w, j


def _datum(code) -> tuple[str, str, dict, float, str]:
    """(wkt DATUM, wkt PRIMEM, json datum, pm_deg, datum name)."""
    db = E._load()
    row = db["geodetic_datum"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG datum {code}")
    name = str(row[2])
    ew, ej = _ellipsoid(row[5])
    pm_row = db["prime_meridian"].get(str(row[7]))
    pm_deg = E._angle_deg(pm_row[3], pm_row[5]) if pm_row else 0.0
    pm_name = str(pm_row[2]) if pm_row else "Greenwich"
    wd = f"DATUM[{_q(name)},{ew}]"
    wp = (f"PRIMEM[{_q(pm_name)},{_num(pm_deg)},"
          f"ANGLEUNIT[\"degree\",{_DEG_PER_RAD}]]")
    jd = {"type": "GeodeticReferenceFrame", "name": name, "ellipsoid": ej}
    if pm_deg != 0.0:
        jd["prime_meridian"] = {"name": pm_name, "longitude": pm_deg}
    return wd, wp, jd, pm_deg, name


def _axes(cs_code, kind: str) -> tuple[list[str], list[dict]]:
    """(wkt AXIS list, json axis list) for a coordinate system code.
    kind: 'ellipsoidal'|'Cartesian' — used for fallback axes when the
    registry extract lacks the cs rows."""
    db = E._load()
    rows = sorted(db.get("axis_all", {}).get(str(cs_code), []),
                  key=lambda r: int(r[7]))
    w, j = [], []
    if not rows:
        fallback = ([("Geodetic latitude", "Lat", "north", "degree"),
                     ("Geodetic longitude", "Lon", "east", "degree")]
                    if kind == "ellipsoidal" else
                    [("Easting", "E", "east", "metre"),
                     ("Northing", "N", "north", "metre")])
        for i, (nm, ab, orient, unit) in enumerate(fallback, 1):
            uw = (f"ANGLEUNIT[\"degree\",{_DEG_PER_RAD}]"
                  if unit == "degree" else "LENGTHUNIT[\"metre\",1]")
            w.append(f"AXIS[\"{nm.lower()} ({ab})\",{orient},"
                     f"ORDER[{i}],{uw}]")
            j.append({"name": nm, "abbreviation": ab,
                      "direction": orient, "unit": unit})
        return w, j
    db2 = E._load()["unit_of_measure"]
    for r in rows:
        nm, ab, orient = str(r[2]), str(r[3]), str(r[4])
        # qualified polar orientations ("South along 45°E") carry a
        # MERIDIAN qualifier in WKT2; the lowering never consumes it, so
        # emit the base direction word only (geocentricX/Y/Z keep their
        # canonical camel-case spelling)
        o_word = orient.split()[0]
        if not o_word.startswith("geocentric"):
            o_word = o_word.lower()
        typ, factor = E._uom(str(r[9]))
        u_name = str(db2[str(r[9])][2])
        if typ == "angle":
            # angle axes are normalized to degree (see module docstring)
            uw, ju = f"ANGLEUNIT[\"degree\",{_DEG_PER_RAD}]", "degree"
        elif factor in (None, 1.0):
            uw, ju = "LENGTHUNIT[\"metre\",1]", "metre"
        else:
            # preserve non-metre linear axis units (survey feet etc.):
            # they carry the projected CRS's to_meter semantics
            uw = f"LENGTHUNIT[{_q(u_name)},{_num(factor)}]"
            ju = {"type": "LinearUnit", "name": u_name,
                  "conversion_factor": factor}
        order = int(r[7])
        w.append(f"AXIS[\"{nm.lower()} ({ab})\",{o_word},"
                 f"ORDER[{order}],{uw}]")
        j.append({"name": nm, "abbreviation": ab,
                  "direction": o_word,
                  "unit": ju})
    return w, j


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


def _conversion(code) -> tuple[str, dict]:
    db = E._load()
    row = db["conversion"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG conversion {code}")
    name, m_code, m_name = str(row[2]), str(row[5]), str(row[6])
    m_auth = str(row[4])
    wparams, jparams = [], []
    for k in range(7):
        off = 7 + k * 6
        if off + 5 >= len(row) or row[off + 1] is None:
            break
        p_code, p_name = str(row[off + 1]), str(row[off + 2])
        value, uom = row[off + 3], row[off + 5]
        typ, _f = E._uom(str(uom))
        if typ == "angle":
            v = E._angle_deg(value, uom)
            uw, ju = f"ANGLEUNIT[\"degree\",{_DEG_PER_RAD}]", "degree"
        elif typ == "length":
            v = E._length_m(value, uom)
            uw, ju = "LENGTHUNIT[\"metre\",1]", "metre"
        else:  # scale
            v = E._scale(value, uom)
            uw, ju = "SCALEUNIT[\"unity\",1]", "unity"
        wparams.append(
            f"PARAMETER[{_q(p_name)},{_num(v)},{uw},"
            f"ID[\"EPSG\",{p_code}]]")
        jparams.append({"name": p_name, "value": v, "unit": ju,
                        "id": {"authority": "EPSG", "code": int(p_code)}})
    w = (f"CONVERSION[{_q(name)},METHOD[{_q(m_name)},"
         f"{_idw(m_auth, m_code)}]," + ",".join(wparams) + "]")
    j = {"name": name,
         "method": {"name": m_name, "id": _jid(m_auth, m_code)},
         "parameters": jparams}
    return w, j


def _ensemble(code) -> "tuple[str, dict] | None":
    """(ENSEMBLE wkt, datum_ensemble json) for an ensemble geodetic datum
    (ensemble_accuracy non-null + member rows), else None. Reference
    io.cpp WKTFormatter ENSEMBLE node (2019) / JSONFormatter
    datum_ensemble; members carry their ids so the repo's own
    ensemble-identification (member-id set matching) round-trips."""
    db = E._load()
    row = db["geodetic_datum"].get(str(code))
    members = db["geodetic_datum_ensemble_member"].get(str(code))
    if row is None or len(row) < 11 or row[10] is None or not members:
        return None
    name = str(row[2])
    ew, ej = _ellipsoid(row[5])
    acc = float(row[10])
    wm, jm = [], []
    for _seq, mcode in sorted(members):
        mrow = db["geodetic_datum"].get(str(mcode))
        if mrow is None:
            continue
        wm.append(f"MEMBER[{_q(str(mrow[2]))},{_idw(mrow[0], mcode)}]")
        jm.append({"name": str(mrow[2]), "id": _jid(mrow[0], mcode)})
    if not wm:
        return None
    w = (f"ENSEMBLE[{_q(name)}," + ",".join(wm) + f",{ew},"
         f"ENSEMBLEACCURACY[{_num(acc)}]]")
    j = {"name": name, "members": jm, "ellipsoid": ej,
         "accuracy": str(acc)}
    return w, j


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


def _geog_parts(code, ensemble: bool = False) -> tuple[str, dict, str]:
    """(wkt body sans CS/ID, json sans cs/id, crs name) for a geodetic
    CRS code. ensemble=True emits the datum as an ENSEMBLE node /
    datum_ensemble member list when the registry marks it as one
    (WKT2:2019 + PROJJSON; the 2015 edition has no ENSEMBLE keyword)."""
    db = E._load()
    row = db["geodetic_crs"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG geodetic CRS {code}")
    name = str(row[2])
    wd, wp, jd, pm_deg, _dn = _datum(row[8])
    ens = _ensemble(row[8]) if ensemble else None
    if ens is not None:
        w = f"{ens[0]},{wp}"
        j = {"name": name, "datum_ensemble": ens[1]}
    else:
        w = f"{wd},{wp}"
        j = {"name": name, "datum": jd}
    return w, j, name


def epsg_to_wkt2(code, version: str = "2019") -> str:
    """WKT2 text for an EPSG geographic/geocentric/projected CRS.

    ``version``: '2019' (ISO 19162:2019 keywords — GEOGCRS for
    geographic CRSs, BASEGEOGCRS for projected bases) or '2015'
    (ISO 19162:2015, where geographic CRSs are spelled GEODCRS and
    projected bases BASEGEODCRS; the reference's WKTFormatter makes
    exactly this keyword switch — src/iso19111/crs.cpp:2166
    ``use2019Keywords() && isGeographic ? GEOGCRS : GEODCRS`` and
    crs.cpp:4417 BASEGEOGCRS vs BASEGEODCRS). Everything this
    exporter emits is otherwise valid in both editions (no USAGE /
    ENSEMBLE nodes), so the keywords are the entire difference."""
    if version not in ("2019", "2015"):
        raise ValueError(f"WKT2 version {version!r} (use '2019'|'2015')")
    use2019 = version == "2019"
    db = E._load()
    code = str(code)
    if code in db["geodetic_crs"]:
        row = db["geodetic_crs"][code]
        own_id = _idw(row[0], code)
        body, _j, name = _geog_parts(code, ensemble=use2019)
        usage = _usage_wkt(code) if use2019 else ""
        if row[4] == "geocentric":
            ax, _ = _axes(row[6], "Cartesian")
            cs = "CS[Cartesian,3]," + ",".join(ax) if len(ax) == 3 else \
                ("CS[Cartesian,3],AXIS[\"(X)\",geocentricX,ORDER[1],"
                 "LENGTHUNIT[\"metre\",1]],AXIS[\"(Y)\",geocentricY,"
                 "ORDER[2],LENGTHUNIT[\"metre\",1]],AXIS[\"(Z)\","
                 "geocentricZ,ORDER[3],LENGTHUNIT[\"metre\",1]]")
            return f"GEODCRS[{_q(name)},{body},{cs}{usage},{own_id}]"
        cs_row = db["coordinate_system"].get(str(row[6]))
        if cs_row is not None and str(cs_row[2]) == "spherical":
            # spherical planetocentric (IAU ocentric): GEODCRS with a
            # spherical CS in BOTH editions — the reference's formatter
            # never spells these GEOGCRS (crs.cpp isGeographic is false)
            ax, _ = _axes(row[6], "spherical")
            return (f"GEODCRS[{_q(name)},{body},CS[spherical,{len(ax)}],"
                    + ",".join(ax) + f"{usage},{own_id}]")
        kw = "GEOGCRS" if use2019 else "GEODCRS"
        ax, _ = _axes(row[6], "ellipsoidal")
        return (f"{kw}[{_q(name)},{body},CS[ellipsoidal,{len(ax)}],"
                + ",".join(ax) + f"{usage},{own_id}]")
    if code in db["projected_crs"]:
        row = db["projected_crs"][code]
        base_code = str(row[7])
        gbody, _j, gname = _geog_parts(base_code, ensemble=use2019)
        usage = _usage_wkt(code) if use2019 else ""
        wconv, _jc = _conversion(row[9])
        ax, _ = _axes(row[5], "Cartesian")
        base_row = db["geodetic_crs"][base_code]
        base_cs = db["coordinate_system"].get(str(base_row[6]))
        base_ocentric = (base_cs is not None
                         and str(base_cs[2]) == "spherical")
        # ocentric base: BASEGEODCRS in both editions (not a geographic
        # CRS); its ID is what lets a reader recover the spherical CS —
        # WKT2 base nodes carry no CS (reference test_crs.cpp:3430
        # Mercury ocentric PROJCRS identify-by-id)
        base_kw = ("BASEGEODCRS" if (base_ocentric or not use2019)
                   else "BASEGEOGCRS")
        return (f"PROJCRS[{_q(row[2])},{base_kw}[{_q(gname)},{gbody},"
                f"{_idw(row[6], base_code)}],{wconv},"
                f"CS[Cartesian,{len(ax)}]," + ",".join(ax)
                + f"{usage},{_idw(row[0], code)}]")
    raise KeyError(f"registry CRS {code} is not an exportable CRS "
                   f"(geographic/geocentric/projected)")


def epsg_to_projjson(code) -> str:
    """PROJJSON (schema v0.7 shapes) for an EPSG CRS code."""
    db = E._load()
    code = str(code)
    schema = "https://proj.org/schemas/v0.7/projjson.schema.json"

    def _geog_json(gcode: str) -> dict:
        """json body for a geodetic (non-geocentric) CRS: GeographicCRS
        with ellipsoidal cs, or GeodeticCRS with spherical cs (IAU
        ocentric — PROJJSON carries the full cs, unlike WKT2 base
        nodes)."""
        grow = db["geodetic_crs"][gcode]
        _w, jg, _name = _geog_parts(gcode, ensemble=True)
        cs_row = db["coordinate_system"].get(str(grow[6]))
        if cs_row is not None and str(cs_row[2]) == "spherical":
            _ax, jax = _axes(grow[6], "spherical")
            return {"type": "GeodeticCRS", **jg,
                    "coordinate_system": {"subtype": "spherical",
                                          "axis": jax},
                    "id": _jid(grow[0], gcode)}
        _ax, jax = _axes(grow[6], "ellipsoidal")
        return {"type": "GeographicCRS", **jg,
                "coordinate_system": {"subtype": "ellipsoidal",
                                      "axis": jax},
                "id": _jid(grow[0], gcode)}

    if code in db["geodetic_crs"]:
        row = db["geodetic_crs"][code]
        if row[4] == "geocentric":
            _w, j, name = _geog_parts(code, ensemble=True)
            _ax, jax = _axes(row[6], "Cartesian")
            if len(jax) != 3:
                jax = [{"name": n, "abbreviation": a, "direction": d,
                        "unit": "metre"}
                       for n, a, d in (("Geocentric X", "X", "geocentricX"),
                                       ("Geocentric Y", "Y", "geocentricY"),
                                       ("Geocentric Z", "Z", "geocentricZ"))]
            obj = {"$schema": schema, "type": "GeodeticCRS", **j,
                   "coordinate_system": {"subtype": "Cartesian",
                                         "axis": jax},
                   "id": _jid(row[0], code)}
            return json.dumps(_jusage(code, obj))
        return json.dumps(_jusage(code, {"$schema": schema,
                                         **_geog_json(code)}))
    if code in db["projected_crs"]:
        row = db["projected_crs"][code]
        _wc, jc = _conversion(row[9])
        _axw, jax = _axes(row[5], "Cartesian")
        obj = {"$schema": schema, "type": "ProjectedCRS",
               "name": str(row[2]),
               "base_crs": _geog_json(str(row[7])),
               "conversion": jc,
               "coordinate_system": {"subtype": "Cartesian", "axis": jax},
               "id": _jid(row[0], code)}
        return json.dumps(_jusage(code, obj))
    raise KeyError(f"registry CRS {code} is not an exportable CRS")


# ------------------------------------------------------------ WKT1 export

# EPSG method code -> (WKT1-GDAL PROJECTION name, ESRI PROJECTION name);
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


def _wkt1_geogcs(code, esri: bool, standalone: bool = False) -> str:
    db = E._load()
    row = db["geodetic_crs"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG geodetic CRS {code}")
    cs_row = db["coordinate_system"].get(str(row[6]))
    if cs_row is not None and str(cs_row[2]) == "spherical":
        # WKT1 has no spherical-planetocentric CS: the reference's WKT1
        # formatter refuses these (io.cpp "WKT1 does not support")
        raise NotImplementedError(
            f"{code}: spherical planetocentric CRS is not expressible "
            f"in WKT1 — use WKT2 or PROJJSON")
    name = str(row[2])
    drow = db["geodetic_datum"].get(str(row[8]))
    dname = str(drow[2])
    erow = db["ellipsoid"].get(str(drow[5]))
    a = E._length_m(erow[6], erow[8])
    if erow[9] is not None:
        rf = float(erow[9])
    else:
        b = E._length_m(erow[10], erow[8])
        rf = a / (a - b) if b != a else 0.0
    pm_row = db["prime_meridian"].get(str(drow[7]))
    pm_deg = E._angle_deg(pm_row[3], pm_row[5]) if pm_row else 0.0
    pm_name = str(pm_row[2]) if pm_row else "Greenwich"
    if esri:
        # ESRI dialect markers (GCS_/D_ prefixes) drive the reader's
        # esriStyle_ detection, as in real .prj files
        gname, dnm, ell_nm = f"GCS_{_u(name)}", f"D_{_u(dname)}", _u(erow[2])
        unit = 'UNIT["Degree",0.0174532925199433]'
    else:
        gname, dnm, ell_nm = name, _u(dname), str(erow[2])
        unit = (f'UNIT["degree",{_DEG_PER_RAD},AUTHORITY["EPSG","9122"]]')
    sph = f'SPHEROID[{_q(ell_nm)},{_num(a)},{_num(rf)}'
    if not esri:
        sph += ',' + _wkt1_auth(drow[4], drow[5])
    sph += "]"
    datum = f"DATUM[{_q(dnm)},{sph}"
    if not esri:
        datum += ',' + _wkt1_auth(row[7], row[8])
    datum += "]"
    primem = f"PRIMEM[{_q(pm_name)},{_num(pm_deg)}"
    if not esri:
        primem += ',' + _wkt1_auth(drow[6], drow[7])
    primem += "]"
    body = f"GEOGCS[{_q(gname)},{datum},{primem},{unit}"
    ax_rows = sorted(db.get("axis_all", {}).get(str(row[6]), []),
                     key=lambda r: int(r[7]))
    if any(str(r[4]).lower() == "west" for r in ax_rows):
        # west-positive longitude (IAU ographic): GDAL WKT1 expresses it
        # with AXIS nodes; the ESRI dialect has no axis syntax — refuse
        # rather than silently flip the sign (reference WKTFormatter
        # behavior for inexpressible CRSs)
        if esri:
            raise NotImplementedError(
                f"{code}: west-positive axes are not expressible in the "
                f"ESRI WKT1 dialect — use WKT1-GDAL, WKT2 or PROJJSON")
        if standalone:
            for r in ax_rows:
                nm = str(r[2]).split()[-1].capitalize()
                body += f",AXIS[{_q(nm)},{str(r[4]).upper()}]"
    if not esri:
        body += ',' + _wkt1_auth(row[0], code)
    return body + "]"


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
    db = E._load()
    code = str(code)
    if code in db["geodetic_crs"]:
        if db["geodetic_crs"][code][4] == "geocentric":
            raise NotImplementedError(
                "WKT1 has no geocentric CRS form (use WKT2)")
        return _wkt1_geogcs(code, esri, standalone=True)
    if code not in db["projected_crs"]:
        raise KeyError(f"registry CRS {code} is not an exportable CRS")
    row = db["projected_crs"][code]
    geog = _wkt1_geogcs(str(row[7]), esri)
    conv = db["conversion"].get(str(row[9]))
    if conv is None:
        raise KeyError(f"EPSG conversion {row[9]} for {code}")
    from proj_spark.sources.epsg import _Params

    P = _Params(conv)
    names = _WKT1_METHODS.get(P.method)
    if names is None or names[1 if esri else 0] is None:
        raise NotImplementedError(
            f"EPSG method {P.method} has no WKT1-"
            f"{'ESRI' if esri else 'GDAL'} spelling")
    meth_name = names[1 if esri else 0]
    if esri and P.method == "9829" and P.deg(8832) < 0:
        meth_name = "Stereographic_South_Pole"
    # projected axis unit: FE/FN are expressed in it (WKT1 convention —
    # parameters inherit the PROJCS UNIT)
    ax = db["axis"].get(str(row[5]))
    if esri and ax is not None and str(ax[4]).lower() == "west":
        raise NotImplementedError(
            f"{code}: west-positive axes are not expressible in the "
            f"ESRI WKT1 dialect — use WKT1-GDAL, WKT2 or PROJJSON")
    factor, u_name = 1.0, "metre"
    if ax is not None and str(ax[9]) != "9001":
        typ, f = E._uom(str(ax[9]))
        if f is not None and f != 1.0:
            factor = f
            u_name = str(db["unit_of_measure"][str(ax[9])][2])
    params = []
    for pcode, (value, uom) in sorted(P.p.items()):
        pn = _WKT1_PARAMS.get(pcode)
        if pn is None or pn[1 if esri else 0] is None:
            raise NotImplementedError(
                f"parameter {pcode} has no WKT1 spelling")
        typ, _f = E._uom(str(uom))
        if typ == "angle":
            v = E._angle_deg(value, uom)
        elif typ == "length":
            v = E._length_m(value, uom) / factor
        else:
            v = E._scale(value, uom)
        params.append(f"PARAMETER[{_q(pn[1 if esri else 0])},{_num(v)}]")
    if esri:
        unit = (f'UNIT[{_q(_u(u_name))},{_num(factor)}]'
                if factor != 1.0 else 'UNIT["Meter",1.0]')
        if P.method in ("1024", "3856"):
            params.append('PARAMETER["Auxiliary_Sphere_Type",0.0]')
        return (f"PROJCS[{_q(_u(row[2]))},{geog},"
                f"PROJECTION[{_q(meth_name)}],"
                + ",".join(params) + f",{unit}]")
    unit = (f'UNIT[{_q(u_name)},{_num(factor)}]' if factor != 1.0
            else 'UNIT["metre",1,AUTHORITY["EPSG","9001"]]')
    ext = ""
    if P.method in ("1024", "3856"):
        # the spherical web-mercator formulas are inexpressible in WKT1
        # parameters; GDAL's PROJ4 EXTENSION node carries the truth
        from proj_spark.sources.epsg import epsg_to_proj

        ext = (',EXTENSION["PROJ4",'
               f'{_q(epsg_to_proj(code) + " +units=m +no_defs")}]')
    axes = ',AXIS["Easting",EAST],AXIS["Northing",NORTH]'
    if P.method == "9808":
        axes = ',AXIS["Westing",WEST],AXIS["Southing",SOUTH]'
    elif ax is not None and str(ax[4]).lower() == "west":
        # west-positive easting (IAU PROJECTED_WEST_NORTH cs)
        axes = ',AXIS["Westing",WEST],AXIS["Northing",NORTH]'
    return (f"PROJCS[{_q(row[2])},{geog},"
            f"PROJECTION[{_q(meth_name)}],"
            + ",".join(params)
            + f",{unit}{axes}{ext}," + _wkt1_auth(row[0], code) + "]")
