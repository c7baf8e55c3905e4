"""Minimal EPSG registry resolver — `+init=epsg:XXXX` -> proj-string.

Reads the public registry SQL source files (the data/sql/*.sql tables
PROJ compiles into proj.db; bundled extracts under
tests/fixtures/epsg_sql/) without sqlite. This module is the only place
that parses SQL text: one regex reader, `_rows`, turns every INSERT
statement (one-line or multi-line, commented, with or without a column
list) into (table, values) rows, and one keying function, `_keep`, files
every row of every file under its table's key. The only rule that differs
between the EPSG extracts and the auxiliary-authority files is which
authorities each admits. `sources.esri` and `sources.wkt` read their ESRI
extracts lazily through the same reader. Resolution follows the classic
proj4-init rules the gie/GIGS corpora request (`use_proj4_init_rules`):
lon/lat axis order, easting/northing, no datum shift implied, prime
meridians expressed via +pm.

Scope: geographic 2D CRSs and projected CRSs whose conversion method is
in `_METHODS` (the Transverse Mercator / Lambert / Mercator /
stereographic / oblique-Mercator / Albers / Cassini / polyconic / Krovak
/ NZMG families the conformance corpus exercises). The full ISO-19111
machinery stays out of scope per SURVEY §1.3.
"""

from __future__ import annotations

import glob
import os
import re

_SQL_DIRS = [
    # deployed data dir (PROJ_DATA analogue, reference src/filemanager.cpp
    # search order: explicit env var first) — lets `spark-submit
    # --py-files proj_spark.zip` runs ship the registry extracts via
    # --archives / a shared FS instead of a repo checkout
    *([os.path.join(os.environ["PROJ_SPARK_DATA"], "epsg_sql"),
       os.environ["PROJ_SPARK_DATA"]]
      if os.environ.get("PROJ_SPARK_DATA") else []),
    os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "tests", "fixtures", "epsg_sql"),
    "/root/reference/data/sql",
]

# the registry: one dict per table (axis_all: every axis of a coordinate
# system, in order)
_TABLES = ("unit_of_measure", "ellipsoid", "prime_meridian",
           "geodetic_datum", "geodetic_crs", "conversion",
           "projected_crs", "axis", "axis_all", "coordinate_system",
           "coordinate_metadata",
           "helmert_transformation", "grid_transformation",
           "other_transformation",
           "concatenated_operation", "concatenated_operation_step",
           "vertical_crs", "vertical_datum", "compound_crs",
           "extent", "usage", "scope", "celestial_body",
           "supersession", "deprecation",
           "geodetic_datum_ensemble_member",
           "vertical_datum_ensemble_member", "grid_alternatives")

# The one file-kind rule: a file named after a registry table is an EPSG
# extract and contributes EPSG rows plus PROJ's placeholder
# extent/scope/celestial_body rows (its PROJ-authority operations, e.g.
# helmert_transformation PROJ:ETRS89_TO_ETRF89, stay out of dispatch); any
# other file (nkg.sql, ignf.sql, iau.sql, nrcan.sql,
# customizations_early.sql) is auxiliary and contributes every bundled
# authority. Auxiliary files load last, so their rows win a shared key.
_AUX_AUTHS = ("EPSG", "NKG", "IGNF", "IAU_2015", "PROJ", "NRCAN")
_PROJ_TABLES = ("extent", "scope", "celestial_body")

_db: dict | None = None

# One tokenizer for every bundled file: a `--` comment, a quoted literal
# ('' escapes a quote), an INSERT head (quoted or bare table name, optional
# column list), a parenthesised tuple, or the statement-ending ';'.
# Comments and literals are matched whole, so a '--', ';' or ')' inside
# either never ends a tuple or a statement.
_LIT = r"'[^']*(?:''[^']*)*'"
_PAREN = rf"\((?:[^()'-]+|-(?!-)|--[^\n]*|{_LIT})*+\)"
_GAP = r"(?:\s+|--[^\n]*)*+"
_SQL = re.compile(rf'--[^\n]*|{_LIT}|INSERT INTO "?(\w+)"?{_GAP}(?:{_PAREN})?'
                  rf"{_GAP}VALUES|({_PAREN})|(;)")
_VALUE = re.compile(rf"--[^\n]*|({_LIT})|((?:[^\s,()'-]|-(?!-))+)")


def _value(lit: str, bare: str):
    """One `_VALUE` match -> str, int, float or None."""
    if lit:
        return lit[1:-1].replace("''", "'")
    if bare.upper() == "NULL":
        return None
    for cast in (int, float):
        try:
            return cast(bare)
        except ValueError:
            pass
    return bare


def _rows(text: str):
    """Yield (table, values) for every tuple of every ``INSERT INTO t
    [(cols)] VALUES (...), (...);`` statement in SQL text."""
    table = None
    for m in _SQL.finditer(text):
        head, tup, end = m.groups()
        if head:
            table = head
        elif tup and table:
            yield table, [_value(lit, bare)
                          for lit, bare in _VALUE.findall(tup) if lit or bare]
        elif end:
            table = None


def _extract_rows(*names: str):
    """Rows of the first of `names` found along the data directories (the
    lazily read ESRI extracts)."""
    for d in _SQL_DIRS:
        for name in names:
            path = os.path.join(d, name)
            if os.path.exists(path):
                with open(path, errors="replace") as f:
                    yield from _rows(f.read())
                return


def _keep(db: dict, table: str, vals: list, aux: bool) -> None:
    """Store one parsed row under its table's registry key."""
    if table in ("supersession", "deprecation"):
        # these two key on (object_table, code) and START with the table
        # name, not the authority:
        # supersession: sup_table, sup_auth, sup_code,
        #   rep_table, rep_auth, rep_code, source, same_crs
        # deprecation: table, depr_auth, depr_code,
        #   rep_auth, rep_code, source
        db[table].setdefault((str(vals[0]), str(vals[2])), []).append(vals)
        return
    if table.endswith("_datum_ensemble_member"):
        # ensemble_auth, ensemble_code, member_auth, member_code, sequence —
        # ordered member list per ensemble datum code
        db[table].setdefault(str(vals[1]), []).append(
            (int(vals[4]), str(vals[3])))
        return
    if table == "grid_alternatives":
        # original_grid_name, proj_grid_name, old_proj_grid_name, format,
        # method, inverse_direction, ...
        db[table][str(vals[0])] = vals
        return
    if table not in db or len(vals) < 2:
        return
    if not (vals[0] in _AUX_AUTHS if aux else vals[0] == "EPSG"
            or (vals[0] == "PROJ" and table in _PROJ_TABLES)):
        return
    if "IAU_2015" in vals:
        # IAU codes are small numerics that collide with EPSG's in EVERY
        # table (conversion 10.., crs 1000..): store authority-qualified
        # and rewrite internal (IAU_2015, code) cross-reference pairs so
        # code-keyed lookups land on the qualified rows
        for i in range(len(vals) - 1):
            if vals[i] == "IAU_2015" and vals[i + 1] is not None:
                vals[i + 1] = f"IAU_2015:{vals[i + 1]}"
    if table == "axis":
        # axis: auth, code, name, abbrev, orientation, cs_auth, cs_code,
        # order, uom_auth, uom_code — key by coordinate system, first axis
        # wins, plus the full ordered list per cs (WKT2/PROJJSON export)
        if vals[7] == 1:
            db["axis"][str(vals[6])] = vals
        db["axis_all"].setdefault(str(vals[6]), []).append(vals)
    elif table == "concatenated_operation_step":
        # composite PK (op, step_number): ordered step op codes per
        # concatenated operation
        db[table].setdefault(str(vals[1]), []).append(
            (int(vals[2]), str(vals[4])))
    elif table == "usage":
        # authority-qualified key (NKG/IGNF reuse small numeric usage
        # codes); consumers read usage only through .values(). IGNF extent
        # codes are plain small integers, stored as 'IGNF:<code>' below,
        # so the usage rows pointing at them are rewritten to match.
        if vals[5] == "IGNF":
            vals[6] = f"IGNF:{vals[6]}"
        db[table][f"{vals[0]}:{vals[1]}"] = vals
    elif table == "extent" and vals[0] == "IGNF":
        db[table][f"IGNF:{vals[1]}"] = vals
    else:
        # coordinate_metadata (nrcan.sql): auth, code, desc, crs_auth,
        # crs_code, crs_text_definition, coordinate_epoch, deprecated;
        # coordinate_system (iau.sql): auth, code, type, dimension
        db[table][str(vals[1])] = vals


def _is_aux(path: str) -> bool:
    return os.path.basename(path)[:-len(".sql")] not in _TABLES


def _load() -> dict:
    global _db
    if _db is not None:
        return _db
    sql_dir = next((d for d in _SQL_DIRS
                    if os.path.isdir(d)
                    and glob.glob(os.path.join(d, "*.sql"))), None)
    if sql_dir is None:
        raise FileNotFoundError("EPSG SQL source not found")
    db: dict = {t: {} for t in _TABLES}
    # EPSG extracts first, each kind in name order
    paths = sorted(glob.glob(os.path.join(sql_dir, "*.sql")),
                   key=lambda p: (_is_aux(p), p))
    for path in paths:
        if os.path.basename(path).startswith("esri"):
            continue  # read lazily by sources.esri / sources.wkt
        aux = _is_aux(path)
        with open(path, errors="replace") as f:
            for table, vals in _rows(f.read()):
                _keep(db, table, vals, aux)
    _db = db
    return db


# ---------------------------------------------------------------- units

def _uom(code) -> tuple[str, float]:
    """(type, factor_to_SI) for a unit code; 9110 handled separately."""
    row = _load()["unit_of_measure"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG uom {code}")
    # auth, code, name, type, conv_factor, conv_factor_b?, deprecated
    typ = row[3]
    factor = row[4]
    return typ, (float(factor) if factor is not None else None)


def _sexagesimal_to_deg(v: float) -> float:
    """EPSG 9110 DDD.MMSSsssss -> decimal degrees."""
    sign = -1.0 if v < 0 else 1.0
    v = abs(v)
    d = int(v)
    rem = round((v - d) * 10000, 10)
    mm = int(rem / 100)
    ss = rem - mm * 100
    return sign * (d + mm / 60.0 + ss / 3600.0)


def _angle_deg(value, uom_code) -> float:
    if value is None:
        return 0.0
    code = str(uom_code)
    if code == "9110":
        return _sexagesimal_to_deg(float(value))
    # exact rational factors for the common angular units (the table's
    # truncated radian factors would leave 1e-14 noise on round values)
    if code in ("9102", "9122"):    # degree (9122: supplier-defined repr)
        return float(value)
    if code == "9105":          # grad
        return float(value) * 0.9
    if code == "9104":          # arc-second
        return float(value) / 3600.0
    if code == "9103":          # arc-minute
        return float(value) / 60.0
    typ, factor = _uom(code)
    # factor converts to radians for other angular units
    import math
    return float(value) * factor * 180.0 / math.pi


def _length_m(value, uom_code) -> float:
    if value is None:
        return 0.0
    typ, factor = _uom(str(uom_code))
    return float(value) * factor


def _scale(value, uom_code) -> float:
    if value is None:
        return 1.0
    code = str(uom_code)
    if code == "9201":
        return float(value)
    typ, factor = _uom(code)
    return float(value) * factor  # e.g. ppm


# ------------------------------------------------------------ geodetic

def _ellipsoid_params(code) -> str:
    row = _load()["ellipsoid"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG ellipsoid {code}")
    # auth, code, name, desc, cell_auth, cell_body, semi_major,
    # uom_auth, uom_code, inv_flattening, semi_minor, deprecated
    a = _length_m(row[6], row[8])
    invf = row[9]
    semi_minor = row[10]
    if invf is not None:
        return f"+a={a!r} +rf={float(invf)!r}"
    b = _length_m(semi_minor, row[8])
    if b == a:
        return f"+R={a!r}"
    return f"+a={a!r} +b={b!r}"


def _datum_parts(code) -> tuple[str, float]:
    row = _load()["geodetic_datum"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG datum {code}")
    # auth, code, name, desc, ellipsoid_auth, ellipsoid_code,
    # pm_auth, pm_code, ...
    ell = _ellipsoid_params(row[5])
    pm_row = _load()["prime_meridian"].get(str(row[7]))
    # pm row: auth, code, name, longitude, uom_auth, uom_code, deprecated
    pm_deg = _angle_deg(pm_row[3], pm_row[5]) if pm_row else 0.0
    return ell, pm_deg


def _geodetic_spec(code) -> str:
    db = _load()
    row = db["geodetic_crs"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG geodetic CRS {code}")
    # auth, code, name, desc, type, cs_auth, cs_code, datum_auth,
    # datum_code, text_def, deprecated
    ell, pm = _datum_parts(row[8])
    cs_key = str(row[6])
    cs = db["coordinate_system"].get(cs_key)
    if cs is not None and str(cs[2]) == "spherical":
        # spherical planetocentric (IAU ocentric CRSs): coordinates carry
        # GEOCENTRIC latitude — the proj4-legacy '+geoc' spelling, the
        # same semantics the reference's operation context expresses with
        # a geoc step (crs.cpp:2386; its modern CRS export refuses, but
        # this resolver implements proj4-init rules where +geoc is the
        # published spelling). Identity on spheres, tan(phi')=(1-e^2)tan
        # on ellipsoids.
        s = f"+proj=longlat +geoc {ell}"
    else:
        s = f"+proj=longlat {ell}"
    if pm != 0.0:
        s += f" +pm={pm!r}"
    # west-positive longitude (IAU ographic CRSs on retrograde-defined
    # bodies, cs OGRAPHIC_NORTH_WEST): the reference emits an axisswap
    # order=-1,2 for a west direction (crs.cpp:4646); +axis=wnu is the
    # equivalent param spelling our compiler lowers to the same swap
    for ax in db.get("axis_all", {}).get(cs_key, []):
        if str(ax[4]).lower() == "west":
            s += " +axis=wnu"
            break
    return s


# ----------------------------------------------------------- projected

class _Params:
    def __init__(self, conv_row):
        # conversion row: auth, code, name, desc, method_auth, method_code,
        # method_name, then 7x (p_auth, p_code, p_name, value, uom_auth,
        # uom_code), deprecated
        self.method = str(conv_row[5])
        self.p = {}
        base = 7
        for k in range(7):
            off = base + k * 6
            if off + 5 >= len(conv_row):
                break
            code = conv_row[off + 1]
            if code is None:
                continue
            self.p[str(code)] = (conv_row[off + 3], conv_row[off + 5])

    def deg(self, code, default=0.0):
        if str(code) not in self.p:
            return default
        v, u = self.p[str(code)]
        return _angle_deg(v, u)

    def m(self, code, default=0.0):
        if str(code) not in self.p:
            return default
        v, u = self.p[str(code)]
        return _length_m(v, u)

    def k(self, code, default=1.0):
        if str(code) not in self.p:
            return default
        v, u = self.p[str(code)]
        return _scale(v, u)


def _m_tmerc(P: _Params) -> str:
    return (f"+proj=tmerc +lat_0={P.deg(8801)!r} +lon_0={P.deg(8802)!r} "
            f"+k={P.k(8805)!r} +x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_tmerc_so(P: _Params) -> str:
    # Transverse Mercator South Orientated: westing/southing axes
    return _m_tmerc(P) + " +axis=wsu"


def _m_lcc1(P: _Params) -> str:
    lat0 = P.deg(8801)
    return (f"+proj=lcc +lat_1={lat0!r} +lat_0={lat0!r} "
            f"+lon_0={P.deg(8802)!r} +k_0={P.k(8805)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_lcc2(P: _Params) -> str:
    return (f"+proj=lcc +lat_0={P.deg(8821)!r} +lon_0={P.deg(8822)!r} "
            f"+lat_1={P.deg(8823)!r} +lat_2={P.deg(8824)!r} "
            f"+x_0={P.m(8826)!r} +y_0={P.m(8827)!r}")


def _m_lcc2_belgium(P: _Params) -> str:
    # LCC (2SP Belgium): longitudes reduced by 29.2985" (EPSG method 9803)
    corr = 29.2985 / 3600.0
    return (f"+proj=lcc +lat_0={P.deg(8821)!r} "
            f"+lon_0={P.deg(8822) - corr!r} "
            f"+lat_1={P.deg(8823)!r} +lat_2={P.deg(8824)!r} "
            f"+x_0={P.m(8826)!r} +y_0={P.m(8827)!r}")


def _m_merc_a(P: _Params) -> str:
    return (f"+proj=merc +lon_0={P.deg(8802)!r} +k={P.k(8805)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_merc_b(P: _Params) -> str:
    return (f"+proj=merc +lat_ts={P.deg(8823)!r} +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_cass(P: _Params) -> str:
    return (f"+proj=cass +lat_0={P.deg(8801)!r} +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_sterea(P: _Params) -> str:
    return (f"+proj=sterea +lat_0={P.deg(8801)!r} +lon_0={P.deg(8802)!r} "
            f"+k_0={P.k(8805)!r} +x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_stere_polar_a(P: _Params) -> str:
    return (f"+proj=stere +lat_0={P.deg(8801)!r} +lon_0={P.deg(8802)!r} "
            f"+k_0={P.k(8805)!r} +x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_stere_polar_b(P: _Params) -> str:
    # variant B: standard parallel given instead of k_0
    ts = P.deg(8832)
    lat0 = 90.0 if ts >= 0 else -90.0
    return (f"+proj=stere +lat_0={lat0!r} +lat_ts={ts!r} "
            f"+lon_0={P.deg(8833)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_nzmg(P: _Params) -> str:
    return (f"+proj=nzmg +lat_0={P.deg(8801)!r} +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_omerc_a(P: _Params) -> str:
    return (f"+proj=omerc +no_uoff +lat_0={P.deg(8811)!r} "
            f"+lonc={P.deg(8812)!r} +alpha={P.deg(8813)!r} "
            f"+gamma={P.deg(8814)!r} +k_0={P.k(8815)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_omerc_b(P: _Params) -> str:
    alpha = P.deg(8813)
    gamma = P.deg(8814)
    if alpha == 90.0 and gamma == 90.0:
        # degenerate HOM-B == Swiss Oblique Mercator (PROJ maps EOV etc.
        # to +proj=somerc; iso19111 coordinateoperation.cpp does the same)
        return (f"+proj=somerc +lat_0={P.deg(8811)!r} "
                f"+lon_0={P.deg(8812)!r} +k_0={P.k(8815)!r} "
                f"+x_0={P.m(8816)!r} +y_0={P.m(8817)!r}")
    return (f"+proj=omerc +lat_0={P.deg(8811)!r} "
            f"+lonc={P.deg(8812)!r} +alpha={alpha!r} "
            f"+gamma={gamma!r} +k_0={P.k(8815)!r} "
            f"+x_0={P.m(8816)!r} +y_0={P.m(8817)!r}")


def _m_poly(P: _Params) -> str:
    return (f"+proj=poly +lat_0={P.deg(8801)!r} +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_krovak(P: _Params) -> str:
    return (f"+proj=krovak +lat_0={P.deg(8811)!r} +lon_0={P.deg(8833)!r} "
            f"+alpha={P.deg(1036)!r} +k={P.k(8819)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r} +czech")


def _m_aea(P: _Params) -> str:
    return (f"+proj=aea +lat_0={P.deg(8821)!r} +lon_0={P.deg(8822)!r} "
            f"+lat_1={P.deg(8823)!r} +lat_2={P.deg(8824)!r} "
            f"+x_0={P.m(8826)!r} +y_0={P.m(8827)!r}")


def _m_laea(P: _Params) -> str:
    return (f"+proj=laea +lat_0={P.deg(8801)!r} +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_webmerc(P: _Params) -> str:
    return (f"+proj=webmerc +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_eqc(P: _Params) -> str:
    return (f"+proj=eqc +lat_ts={P.deg(8823)!r} +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_merc_sph(P: _Params) -> str:
    # EPSG 1026 Mercator (Spherical): merc on the conformal sphere —
    # reference parammappings.cpp:807 maps it to "merc" + "R_C"
    return (f"+proj=merc +R_C +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_ortho(P: _Params) -> str:
    return (f"+proj=ortho +lat_0={P.deg(8801)!r} +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_sinu(P: _Params) -> str:
    return (f"+proj=sinu +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_moll(P: _Params) -> str:
    return (f"+proj=moll +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


def _m_robin(P: _Params) -> str:
    return (f"+proj=robin +lon_0={P.deg(8802)!r} "
            f"+x_0={P.m(8806)!r} +y_0={P.m(8807)!r}")


_METHODS = {
    "9807": _m_tmerc,
    "9808": _m_tmerc_so,
    "9801": _m_lcc1,
    "9802": _m_lcc2,
    "9803": _m_lcc2_belgium,
    "9804": _m_merc_a,
    "9805": _m_merc_b,
    "9806": _m_cass,
    "9809": _m_sterea,
    "9810": _m_stere_polar_a,
    "9829": _m_stere_polar_b,
    "9811": _m_nzmg,
    "9812": _m_omerc_a,
    "9815": _m_omerc_b,
    "9818": _m_poly,
    "9819": _m_krovak,
    "1041": _m_krovak,
    "9822": _m_aea,
    "9820": _m_laea,
    "1024": _m_webmerc,
    "3856": _m_webmerc,
    "1028": _m_eqc,
    "1029": _m_eqc,
    "9823": _m_eqc,
    "9842": _m_eqc,
    "1026": _m_merc_sph,
    "9840": _m_ortho,
    # PROJ-authority named methods (iau.sql conversions; reference
    # parammappings.cpp:810,854,863 map them to moll/robin/sinu)
    "SINUSOIDAL": _m_sinu,
    "MOLLWEIDE": _m_moll,
    "ROBINSON": _m_robin,
}


def geoid_model_grids(vert_code: str) -> str:
    """+geoidgrids value for a vertical CRS code: the geoid (height
    correction) model file from the registry's grid_transformation rows
    (param 8666), best accuracy first, each name expanded through
    grid_alternatives (PROJ tif name, legacy gtx name, original) with
    '@'-optional markers so whichever file is present loads (reference
    data/sql/grid_alternatives.sql + createOperations geoid-model path)."""
    db = _load()
    vert_code = str(vert_code)
    # a "reversible alternative" row targets the compound CRS whose
    # vertical member is this code (e.g. 9708: 4979 -> 9707 for 5773)
    compound_dsts = {c for c, r in db["compound_crs"].items()
                     if str(r[7]) == vert_code and not r[-1]}
    rows = []
    for r in db["grid_transformation"].values():
        if r[-1]:
            continue
        if str(r[13]) != "8666":   # geoid height-correction model file
            continue
        if str(r[10]) == vert_code or str(r[10]) in compound_dsts:
            acc = float(r[11]) if r[11] is not None else 1e9
            rows.append((acc, str(r[15])))
    if not rows:
        raise NotImplementedError(
            f"EPSG:{vert_code}: no geoid model in the bundled registry")
    rows.sort()
    names: list[str] = []
    seen = set()
    for _acc, orig in rows:
        for nm in _grid_name_candidates(orig):
            if nm not in seen:
                seen.add(nm)
                names.append("@" + nm)
    # all names '@'-optional: the list is alternatives for the same
    # model(s), whichever is present loads; if NONE load the grid-shift
    # step's "no usable grid" guard raises with the full list
    return ",".join(names)


def _grid_name_candidates(orig: str) -> list[str]:
    """Registry grid name expanded through grid_alternatives (PROJ tif
    name, legacy name, original), most-preferred first."""
    alt = _load()["grid_alternatives"].get(orig)
    return ([str(alt[1])] + ([str(alt[2])] if alt[2] else [])
            if alt else []) + [orig]


def geoid_grids_for_op(op_code: str) -> str:
    """+geoidgrids value for ONE geoid-model grid_transformation row —
    the explicit ``geoid_model`` member of a PROJJSON VerticalCRS
    (reference io.cpp PROJJSONParser geoid_model; NRCan
    coordinate_metadata definitions name their grid op directly)."""
    row = _load()["grid_transformation"].get(str(op_code))
    if row is None or str(row[13]) != "8666":
        raise KeyError(f"geoid model op {op_code} not in the registry")
    return ",".join("@" + nm for nm in _grid_name_candidates(str(row[15])))


def guess_body_name(a: float) -> str:
    """Celestial body for a semi-major axis (reference datum.cpp
    Ellipsoid::guessBodyName): Earth when within 0.7% of the Earth mean
    radius, else the bundled celestial_body row whose radius matches
    within the same relative error
    (REL_ERROR_FOR_SAME_CELESTIAL_BODY = 0.007,
    include/proj/internal/datum_internal.hpp:43), else the reference's
    NON_EARTH_BODY sentinel string."""
    if abs(a - 6375000.0) < 0.007 * 6375000.0:
        return "Earth"
    for row in _load().get("celestial_body", {}).values():
        try:
            r = float(row[3])
        except (TypeError, ValueError):
            continue
        if r > 0 and abs(a - r) < 0.007 * r:
            return str(row[2])
    return "Non-Earth body"


def crs_usages(code: str) -> list[tuple[str, str, tuple | None]]:
    """[(scope name, area name, (south, west, north, east) | None)] for a
    CRS code — the registry's usage -> scope/extent rows (reference
    data/sql/usage.sql + scope.sql + extent.sql; WKTFormatter emits them
    as WKT2:2019 USAGE[SCOPE[...],AREA[...],BBOX[...]] nodes)."""
    db = _load()
    idx = db.get("_usage_by_obj")
    if idx is None:
        idx = {}
        for u in db["usage"].values():
            if len(u) >= 9:
                idx.setdefault((str(u[2]), str(u[4])), []).append(
                    (str(u[6]), str(u[8])))
        db["_usage_by_obj"] = idx
    out = []
    code = str(code)
    for table in ("geodetic_crs", "projected_crs", "vertical_crs",
                  "compound_crs"):
        if code not in db[table]:
            continue
        for ext_code, scope_code in idx.get((table, code), []):
            ext = db["extent"].get(ext_code)
            sc = db["scope"].get(scope_code)
            scope_name = str(sc[2]) if sc is not None else "Not known."
            if ext is None:
                out.append((scope_name, "Not specified.", None))
                continue
            bbox = None
            if ext[4] is not None:
                # extent: auth, code, name, desc, south, north, west,
                # east, deprecated -> WKT2 BBOX order s, w, n, e
                bbox = (float(ext[4]), float(ext[6]),
                        float(ext[5]), float(ext[7]))
            out.append((scope_name, str(ext[2]), bbox))
        break
    return out


def coordinate_metadata(code: str) -> tuple[str, float | None]:
    """(proj spec, coordinate epoch) for a coordinate_metadata row
    (reference data/sql/nrcan.sql, proj_db_table_defs.sql; the
    CoordinateMetadata objects proj_create returns for NRCAN:* codes —
    a CRS plus the epoch the coordinates are referenced to). The CRS is
    the embedded WKT/PROJJSON text definition when present, else the
    (crs_auth, crs_code) registry reference."""
    key = str(code).split(":", 1)[-1] if str(code).upper().startswith(
        "NRCAN:") else str(code)
    row = _load()["coordinate_metadata"].get(key)
    if row is None:
        raise KeyError(f"coordinate_metadata {code} not in the registry")
    epoch = float(row[6]) if row[6] is not None else None
    text = row[5]
    if text:
        text = str(text)
        if text.lstrip().startswith("{"):
            from proj_spark.sources.projjson import projjson_to_proj
            return projjson_to_proj(text), epoch
        from proj_spark.sources.wkt import wkt_to_proj
        return wkt_to_proj(text), epoch
    return epsg_to_proj(str(row[4])), epoch


def _vertical_suffix(vert_code: str) -> str:
    """' +geoidgrids=... [+vto_meter=...]' for a vertical CRS code."""
    db = _load()
    row = db["vertical_crs"].get(str(vert_code))
    if row is None:
        raise KeyError(f"EPSG vertical CRS {vert_code}")
    s = f" +geoidgrids={geoid_model_grids(vert_code)}"
    ax = db["axis"].get(str(row[5]))
    if ax is not None and str(ax[9]) != "9001":
        typ, factor = _uom(str(ax[9]))
        if factor is not None and factor != 1.0:
            s += f" +vto_meter={factor!r}"
    return s


def crs_deprecation_replacements(code: str | int) -> list[str]:
    """Replacement EPSG codes for a deprecated CRS code (reference
    data/sql/deprecation.sql; factory.cpp getNonDeprecated). Empty when
    the code is not deprecated or has no published replacement."""
    db = _load()
    code = str(code)
    out = []
    for table in ("geodetic_crs", "projected_crs", "vertical_crs"):
        for row in db["deprecation"].get((table, code), []):
            out.append(str(row[4]))
    return out


def crs_is_deprecated(code: str | int) -> bool:
    db = _load()
    code = str(code)
    for table in ("geodetic_crs", "projected_crs", "vertical_crs",
                  "compound_crs"):
        row = db[table].get(code)
        if row is not None:
            return bool(row[-1])
    return False


def epsg_to_proj(code: str | int) -> str:
    """proj-string for an EPSG code (geographic 2D, geocentric, a
    supported projected CRS, or a compound horizontal+vertical CRS —
    also the 'HHHH+VVVV' code-pair spelling) under proj4-init rules."""
    code = str(code)
    db = _load()
    if "+" in code:
        # PROJ's "EPSG:4326+5773" compound spelling
        horiz, vert = code.split("+", 1)
        return epsg_to_proj(horiz) + _vertical_suffix(vert)
    if code in db["compound_crs"]:
        # compound_crs: auth, code, name, desc, horiz_auth, horiz_code,
        # vert_auth, vert_code, deprecated (reference
        # data/sql/compound_crs.sql; iso19111 CompoundCRS::create)
        row = db["compound_crs"][code]
        return epsg_to_proj(str(row[5])) + _vertical_suffix(str(row[7]))
    if code in db["vertical_crs"]:
        raise NotImplementedError(
            f"EPSG:{code} is a vertical CRS — use it inside a compound "
            f"code or the 'HHHH+VVVV' pair spelling")
    if code in db["geodetic_crs"]:
        row = db["geodetic_crs"][code]
        if row[4] == "geocentric":
            ell, pm = _datum_parts(row[8])
            return f"+proj=geocent {ell}"
        return _geodetic_spec(code)
    if code in db["projected_crs"]:
        row = db["projected_crs"][code]
        # auth, code, name, desc, cs_auth, cs_code, geod_auth, geod_code,
        # conv_auth, conv_code, text_def, deprecated
        geod = db["geodetic_crs"].get(str(row[7]))
        if geod is None:
            raise KeyError(f"EPSG geodetic base {row[7]} for {code}")
        conv = db["conversion"].get(str(row[9]))
        if conv is None:
            raise KeyError(f"EPSG conversion {row[9]} for {code}")
        P = _Params(conv)
        fn = _METHODS.get(P.method)
        if fn is None:
            raise NotImplementedError(
                f"EPSG:{code}: projection method {P.method} "
                f"({conv[6]!r}) not supported")
        ell, pm = _datum_parts(geod[8])
        s = f"{fn(P)} {ell}"
        base_cs = db["coordinate_system"].get(str(geod[6]))
        if base_cs is not None and str(base_cs[2]) == "spherical":
            # projected over a spherical-planetocentric base (IAU
            # ocentric): the CRS's angular side carries geocentric
            # latitude — the reference's PROJStringParser spells this
            # '+proj=<method> +geoc' (test_operationfactory
            # createOperation_spherical_ocentric_to_projected_of_
            # spherical_ocentric), and fwd converts it to geodetic
            # before the projection core (fwd.cpp:79-81)
            s += " +geoc"
        if pm != 0.0:
            s += f" +pm={pm!r}"
        # projected coordinate system units (axis table: first axis uom)
        ax = db["axis"].get(str(row[5]))
        if ax is not None and str(ax[9]) != "9001":
            typ, factor = _uom(str(ax[9]))
            if factor is not None and factor != 1.0:
                s += f" +to_meter={factor!r}"
        # west-positive easting (IAU PROJECTED_WEST_NORTH cs): same
        # axisswap-equivalent as the geodetic case; methods that already
        # fix their axes (9808 +axis=wsu) are left alone
        if (ax is not None and str(ax[4]).lower() == "west"
                and " +axis=" not in s):
            s += " +axis=wnu"
        return s
    raise KeyError(f"EPSG:{code} not found (geodetic/projected only)")
