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

Two record readers keep the writers and the planner off the row layouts.
`crs_record` reads a geodetic, geocentric or projected CRS's rows (name,
id, CS and axes, datum or ensemble with its ellipsoid and prime meridian,
base CRS and conversion) into a `CRS` record, which `epsg_to_proj` and
every export writer in `sources.wkt_out` format. `operations` reads each
transformation and concatenated-operation row the engine lowers into an
op record, which the candidate planner in `sources.epsg_ops` ranks.

Scope: geographic 2D CRSs and projected CRSs whose conversion method is
in `_METHODS` (the Transverse Mercator / Lambert / Mercator /
stereographic / oblique-Mercator / Albers / Cassini / polyconic / Krovak
/ NZMG families the conformance corpus exercises). The full ISO-19111
machinery stays out of scope per SURVEY §1.3.
"""

from __future__ import annotations

import functools
import glob
import math
import os
import re
from typing import NamedTuple

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
    """Store one parsed row under its table's registry key. A row keyed by
    its code is stored as a tuple: no reader mutates a stored row, and the
    collector stops tracking a tuple of atoms, so a full collection does
    not rescan the registry."""
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
    if table == "usage" and vals[5] == "IGNF":
        # IGNF extent codes are plain small integers, stored as
        # 'IGNF:<code>' below, so the usage rows pointing at them are
        # rewritten to match
        vals[6] = f"IGNF:{vals[6]}"
    vals = tuple(vals)
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
        # codes); consumers read usage only through .values()
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

class Unit(NamedTuple):
    kind: str               # unit_of_measure type: angle, length, scale...
    factor: float | None    # to radian, metre or unity
    name: str


@functools.lru_cache(maxsize=None)
def _uom(code) -> Unit:
    """The unit of a unit_of_measure code; 9110 handled separately."""
    row = _load()["unit_of_measure"].get(str(code))
    if row is None:
        raise KeyError(f"EPSG uom {code}")
    # auth, code, name, type, conv_factor, conv_factor_b?, deprecated
    factor = row[4]
    return Unit(row[3], float(factor) if factor is not None else None,
                str(row[2]))


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
    # factor converts to radians for other angular units
    return float(value) * _uom(code).factor * 180.0 / math.pi


def _length_m(value, uom_code) -> float:
    if value is None:
        return 0.0
    return float(value) * _uom(uom_code).factor


def _scale(value, uom_code) -> float:
    if value is None:
        return 1.0
    code = str(uom_code)
    if code == "9201":
        return float(value)
    return float(value) * _uom(code).factor  # e.g. ppm


# ------------------------------------------------------------ CRS record
#
# The ellipsoid's defining pair, the prime meridian, the spherical CS, the
# west-positive axis and the projected axis unit are each decided here
# once, for every output.

class Axis(NamedTuple):
    name: str
    abbrev: str
    direction: str   # first word of the orientation, the WKT2 spelling
    unit: Unit


class Ellipsoid(NamedTuple):
    auth: str
    code: str
    name: str
    a: float
    rf: float | None   # inverse flattening, when it defines the ellipsoid
    b: float | None    # else the semi-minor axis (b == a: a sphere)

    @property
    def inv_flattening(self) -> float:
        """1/f as WKT spells it: 0 for a sphere."""
        if self.rf is not None:
            return self.rf
        return self.a / (self.a - self.b) if self.b != self.a else 0.0


class PrimeMeridian(NamedTuple):
    auth: str
    code: str
    name: str
    lon: float       # degrees east of Greenwich


class Datum(NamedTuple):
    auth: str
    code: str
    name: str
    ellipsoid: Ellipsoid
    pm: PrimeMeridian
    members: tuple   # (auth, code, name) per ensemble member; () = frame
    accuracy: float | None


class Param(NamedTuple):
    code: str
    name: str
    kind: str        # unit kind: angle, length or scale
    value: float     # in degree, metre or unity


class _Params:
    """A conversion or other_transformation row: its name, method and
    parameters. deg/m/k read a parameter by EPSG code in degree, metre and
    unity for the `_METHODS` lowering and the offset op records
    (sources.wkt._WktParams is the same interface over WKT nodes);
    `params` lists them all for the export writers."""

    def __init__(self, row, first: int = 7):
        # auth, code, name, desc, method_auth, method_code, method_name,
        # (other_transformation: src_auth, src_code, dst_auth, dst_code,
        # accuracy,) then 7x (p_auth, p_code, p_name, value, uom_auth,
        # uom_code) from column `first`, deprecated
        self.name, self.method_auth = str(row[2]), str(row[4])
        self.method, self.method_name = str(row[5]), str(row[6])
        self.p = {}
        for off in range(first, min(len(row) - 5, first + 42), 6):
            if row[off + 1] is not None:
                self.p[str(row[off + 1])] = (
                    row[off + 3], row[off + 5], str(row[off + 2]))

    def deg(self, code, default=0.0):
        v = self.p.get(str(code))
        return default if v is None else _angle_deg(v[0], v[1])

    def m(self, code, default=0.0):
        v = self.p.get(str(code))
        return default if v is None else _length_m(v[0], v[1])

    def k(self, code, default=1.0):
        v = self.p.get(str(code))
        return default if v is None else _scale(v[0], v[1])

    @property
    def params(self) -> list[Param]:
        """Every parameter in registry order, read by its unit's kind."""
        out = []
        for code, (_v, uom, name) in self.p.items():
            kind = _uom(uom).kind
            read = (self.deg if kind == "angle" else
                    self.m if kind == "length" else self.k)
            out.append(Param(code, name, kind, read(code)))
        return out


class CRS(NamedTuple):
    auth: str
    code: str                 # the registry key
    name: str
    kind: str                 # geodetic_crs type, or 'projected'
    cs: str                   # 'ellipsoidal', 'spherical' or 'Cartesian'
    axes: tuple
    datum: Datum              # a projected CRS's is its base's
    west: bool                # west-positive longitude or easting
    to_meter: float           # projected axis unit (1.0: metre)
    base: "CRS | None"
    conversion: _Params | None


def _row(table: str, code, what: str) -> list:
    row = _load()[table].get(str(code))
    if row is None:
        raise KeyError(f"EPSG {what} {code}")
    return row


@functools.lru_cache(maxsize=None)
def _axes(cs_code) -> tuple:
    # axis: auth, code, name, abbrev, orientation, cs_auth, cs_code,
    # order, uom_auth, uom_code
    rows = _load()["axis_all"].get(str(cs_code))
    if not rows:
        raise KeyError(f"EPSG coordinate system {cs_code} has no axes")
    out = []
    for r in sorted(rows, key=lambda r: int(r[7])):
        # a qualified polar orientation ("South along 45°E") keeps its
        # base word; geocentricX/Y/Z keep their camel case
        word = str(r[4]).split()[0]
        if not word.startswith("geocentric"):
            word = word.lower()
        out.append(Axis(str(r[2]), str(r[3]), word, _uom(r[9])))
    return tuple(out)


@functools.lru_cache(maxsize=None)
def _datum(auth, code) -> Datum:
    # geodetic_datum: auth, code, name, desc, ellipsoid_auth,
    # ellipsoid_code, pm_auth, pm_code, ..., ensemble_accuracy (10)
    db = _load()
    row = _row("geodetic_datum", code, "datum")
    # ellipsoid: auth, code, name, desc, cell_auth, cell_body, semi_major,
    # uom_auth, uom_code, inv_flattening, semi_minor, deprecated
    e = _row("ellipsoid", row[5], "ellipsoid")
    a = _length_m(e[6], e[8])
    rf = float(e[9]) if e[9] is not None else None
    ell = Ellipsoid(str(row[4]), str(row[5]), str(e[2]), a, rf,
                    None if rf is not None else _length_m(e[10], e[8]))
    # prime_meridian: auth, code, name, longitude, uom_auth, uom_code
    p = db["prime_meridian"].get(str(row[7]))
    pm = PrimeMeridian(str(row[6]), str(row[7]),
                       str(p[2]) if p else "Greenwich",
                       _angle_deg(p[3], p[5]) if p else 0.0)
    members = ()
    if len(row) >= 11 and row[10] is not None:
        rows = db["geodetic_datum"]
        members = tuple(
            (str(rows[m][0]), m, str(rows[m][2])) for _seq, m in sorted(
                db["geodetic_datum_ensemble_member"].get(str(code), ()))
            if m in rows)
    return Datum(str(auth), str(code), str(row[2]), ell, pm, members,
                 float(row[10]) if members else None)


def _crs(row: list, kind: str, cs: str, axes: tuple, datum: Datum,
         base: CRS | None = None, conversion: _Params | None = None) -> CRS:
    # west-positive longitude (IAU ographic CRSs on retrograde bodies) or
    # easting (IAU PROJECTED_WEST_NORTH cs): any axis of a geodetic CRS,
    # the first axis of a projected one
    west = (axes[0].direction == "west" if base else
            any(ax.direction == "west" for ax in axes))
    # a projected CRS's axis unit scales its linear values (+to_meter)
    factor = axes[0].unit.factor if base else None
    return CRS(str(row[0]), str(row[1]), str(row[2]), kind, cs, axes, datum,
               west, factor if factor not in (None, 1.0) else 1.0, base,
               conversion)


@functools.lru_cache(maxsize=None)
def _geodetic(code: str) -> CRS:
    # geodetic_crs: auth, code, name, desc, type, cs_auth, cs_code,
    # datum_auth, datum_code, text_def, deprecated
    row = _row("geodetic_crs", code, "geodetic CRS")
    cs = _load()["coordinate_system"].get(str(row[6]))
    # a spherical CS: IAU ocentric (planetocentric latitude) CRSs
    cs = ("Cartesian" if row[4] == "geocentric" else "spherical"
          if cs is not None and str(cs[2]) == "spherical" else "ellipsoidal")
    return _crs(row, str(row[4]), cs, _axes(row[6]), _datum(row[7], row[8]))


def crs_record(code) -> CRS | None:
    """The record of a geodetic, geocentric or projected CRS key, read
    once from every registry row its outputs need; None for any other
    key. Geodetic records are memoized: projected CRSs share them as
    bases."""
    db, code = _load(), str(code)
    if code in db["geodetic_crs"]:
        return _geodetic(code)
    row = db["projected_crs"].get(code)
    if row is None:
        return None
    # projected_crs: auth, code, name, desc, cs_auth, cs_code, geod_auth,
    # geod_code, conv_auth, conv_code, text_def, deprecated
    base = _geodetic(str(row[7]))
    return _crs(row, "projected", "Cartesian", _axes(row[5]), base.datum,
                base, _Params(_row("conversion", row[9], "conversion")))


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


# ------------------------------------------------------ operation records
#
# One reader, `operations`, turns every operation row the engine lowers
# into an op record: kind, auth, code, name, method, src/dst CRS keys,
# accuracy (-1 when unknown), the union bbox of its areas of use and its
# parameters in metre, arc-second and ppm. sources.epsg_ops plans over
# the records and reads no row. The datum -> canonical geographic 2D CRS
# rule, ensemble membership and supersession are decided here too.

_HELMERT_METHODS = {
    # static geog2D domain
    "9603", "9606", "9607",
    # Molodensky-Badekas (pivot point; CF geog2D / PV variants)
    "9636", "1061", "1062", "1063",
    # static geocentric domain (datum-bridged to the geog2D pair)
    "1031", "1032", "1033",
    # time-dependent (rate columns + reference epoch;
    # reference src/iso19111/operation/transformation.cpp:740)
    "1053", "1054", "1055", "1056", "1057", "1058",
    # time-specific (params valid at the stated epoch, no rates;
    # lowered as static Helmert like the reference's proj-string output)
    "1065", "1066",
}
_TIME_DEP_METHODS = {"1053", "1054", "1055", "1056", "1057", "1058"}
# NADCON 9613, NTv1 9614, NTv2 9615
_GRID_METHODS = {"9613", "9614", "9615"}
# other_transformation methods lowered onto geogoffset (reference
# src/iso19111/operation/transformation.cpp: longitude rotation 9601,
# geographic2D offsets 9619, geographic2D with height offsets 9618,
# vertical offset 9616)
_OFFSET_METHODS = {"9601", "9619", "9618", "9616"}

# "per year" uom factors convert to SI per SECOND; multiply by the
# registry's year (uom 1029) to get the per-year rates proj-strings use
_YEAR_S = 31556925.445

# registry table of each record kind (supersession rows name it)
_TABLE_OF_KIND = {
    "helmert": "helmert_transformation",
    "grid": "grid_transformation",
    "geoid": "grid_transformation",
    "offset": "other_transformation",
    "projstring": "other_transformation",
    "concat": "concatenated_operation",
}


@functools.cache
def _usages() -> dict:
    """{(object table, object code): [(extent code, scope code)]}: one
    object can carry several usages, i.e. several areas of use."""
    idx: dict = {}
    # usage: auth, code, object_table, obj_auth, obj_code, ext_auth,
    # ext_code, scope_auth, scope_code
    for u in _load()["usage"].values():
        idx.setdefault((str(u[2]), str(u[4])), []).append(
            (str(u[6]), str(u[8])))
    return idx


def _extent(code: str) -> tuple[str, tuple | None] | None:
    """(area name, (south, west, north, east) | None) of an extent code."""
    ext = _load()["extent"].get(code)
    if ext is None:
        return None
    # extent: auth, code, name, desc, south, north, west, east, deprecated
    return str(ext[2]), None if ext[4] is None else (
        float(ext[4]), float(ext[6]), float(ext[5]), float(ext[7]))


def _area(table: str, code: str) -> tuple | None:
    """(west, south, east, north) union of an operation's areas of use.
    Antimeridian-crossing components (w > e) cannot join a flat min/max
    union and are skipped unless all cross, when the first stands
    (dispatch drops w > e candidates anyway, reference 4D_api.cpp:1740)."""
    boxes = []
    for ext_code, _scope in _usages().get((table, code), ()):
        ext = _extent(ext_code)
        if ext is not None and ext[1] is not None:
            s, w, n, e = ext[1]
            boxes.append((w, s, e, n))
    flat = [b for b in boxes if b[0] <= b[2]] or boxes[:1]
    if not flat:
        return None
    return (min(b[0] for b in flat), min(b[1] for b in flat),
            max(b[2] for b in flat), max(b[3] for b in flat))


def _head(kind: str, code: str, row: tuple, src: int = 8, dst: int = 10,
          acc: int = 11) -> dict:
    # helmert/grid/other_transformation: auth, code, name, desc,
    # method_auth, method_code, method_name, src_auth, src_code, dst_auth,
    # dst_code, accuracy, ...
    return {"kind": kind, "code": code, "name": row[2], "auth": str(row[0]),
            "method": str(row[5]), "method_name": str(row[6]),
            "src": str(row[src]), "dst": str(row[dst]),
            "accuracy": float(row[acc]) if row[acc] is not None else -1.0,
            "bbox": _area(_TABLE_OF_KIND[kind], code)}


def _rate(value, uom_code, to: str) -> float:
    """Registry rate column -> per-year value in proj-string units
    (m/yr, arcsec/yr, or ppm/yr)."""
    if value is None:
        return 0.0
    si_per_year = float(value) * _uom(uom_code).factor * _YEAR_S
    if to == "m":
        return si_per_year
    if to == "arcsec":
        return si_per_year * (180.0 / math.pi) * 3600.0
    return si_per_year * 1e6


def _helmert(code: str, row: tuple) -> dict | None:
    # after the head: tx, ty, tz (12-14, uom 16); rx, ry, rz (17-19, uom
    # 21); scale difference (22, uom 24); their rates (25-27 uom 29, 30-32
    # uom 34, 35 uom 37); reference epoch (38); Molodensky-Badekas pivot
    # (41-43, uom 45)
    if str(row[5]) not in _HELMERT_METHODS:
        return None
    op = _head("helmert", code, row)
    op.update(tx=_length_m(row[12], row[16]), ty=_length_m(row[13], row[16]),
              tz=_length_m(row[14], row[16]))
    if row[17] is not None:
        # rotations -> arcsec, scale difference -> ppm
        op.update(rx=_angle_deg(row[17], row[21]) * 3600.0,
                  ry=_angle_deg(row[18], row[21]) * 3600.0,
                  rz=_angle_deg(row[19], row[21]) * 3600.0)
        ds = row[22]
        op["ds"] = (0.0 if ds is None else
                    float(ds) * (_uom(row[24]).factor or 1e-6) / 1e-6)
    if op["method"] in _TIME_DEP_METHODS and row[38] is not None:
        op.update(dtx=_rate(row[25], row[29], "m"),
                  dty=_rate(row[26], row[29], "m"),
                  dtz=_rate(row[27], row[29], "m"),
                  drx=_rate(row[30], row[34], "arcsec"),
                  dry=_rate(row[31], row[34], "arcsec"),
                  drz=_rate(row[32], row[34], "arcsec"),
                  dds=_rate(row[35], row[37], "ppm"),
                  t_epoch=float(row[38]))
    if row[41] is not None:
        op.update(px=_length_m(row[41], row[45]),
                  py=_length_m(row[42], row[45]),
                  pz=_length_m(row[43], row[45]))
    return op


def _grid(code: str, row: tuple) -> dict | None:
    # after the head: grid_param_auth, grid_param_code, grid_param_name,
    # grid_name (12-15); param 8666 is a geoid (height correction) model
    geoid = str(row[13]) == "8666"
    if not geoid and str(row[5]) not in _GRID_METHODS:
        return None
    op = _head("geoid" if geoid else "grid", code, row)
    del op["method_name"]
    op["grid"] = str(row[15])
    return op


def _other(code: str, row: tuple) -> dict | None:
    # after the head: 7 parameter blocks as in a conversion row
    method = str(row[5])
    if method == "PROJString":
        # auxiliary authorities (NKG's deformation-model and
        # epoch-propagation steps) publish the executable spec as the row
        op = _head("projstring", code, row)
        op.update(method_name="PROJ-based operation", spec=str(row[6]))
        return op
    if method not in _OFFSET_METHODS:
        return None
    P = _Params(row, 12)
    op = _head("offset", code, row)
    # 8601 lat offset, 8602 lon offset (-> arcsec); 8603 vertical offset,
    # 8604 geoid undulation (-> m)
    op.update(dlat=P.deg(8601) * 3600.0, dlon=P.deg(8602) * 3600.0,
              dh=P.m(8603, P.m(8604)))
    return op


def _concat(code: str, row: tuple) -> dict | None:
    # concatenated_operation: auth, code, name, desc, src_auth, src_code,
    # dst_auth, dst_code, accuracy, ...; "steps" holds the step op codes
    # in step order (reference data/sql/concatenated_operation_step.sql)
    steps = _load()["concatenated_operation_step"].get(code)
    if not steps:
        return None
    op = _head("concat", code, row, src=5, dst=7, acc=8)
    op.update(method="concat", method_name="concatenated operation",
              steps=tuple(c for _n, c in sorted(steps)))
    return op


_READERS = (("helmert_transformation", _helmert),
            ("grid_transformation", _grid),
            ("other_transformation", _other),
            ("concatenated_operation", _concat))


@functools.cache
def operations() -> tuple[dict, ...]:
    """The op record of every non-deprecated operation row the engine
    reads, table by table: Helmert (`_HELMERT_METHODS`), grid
    (`_GRID_METHODS`, plus geoid models as kind 'geoid'), other (offset
    methods and PROJ strings), concatenated. Shared: do not mutate."""
    db = _load()
    out = []
    for table, read in _READERS:
        for code, row in db[table].items():
            op = None if row[-1] else read(code, row)
            if op is not None:
                out.append(op)
    return tuple(out)


def op_key(kind: str, code) -> tuple[str, str]:
    """An op record's registry key: (table, code)."""
    return _TABLE_OF_KIND.get(kind, ""), str(code)


def supersessors(kind: str, code) -> list[tuple[str, str]]:
    """Registry keys of the operations that supersede one: rows with
    same_source_target_crs = 1 whose replacement is in the same table
    (the reference's discardSuperseded join, factory.cpp:6849)."""
    table, code = op_key(kind, code)
    # supersession: sup_table, sup_auth, sup_code, rep_table, rep_auth,
    # rep_code, source, same_crs
    return [(table, str(r[5]))
            for r in _load()["supersession"].get((table, code), ())
            if str(r[7]) == "1" and str(r[3]) == table]


@functools.cache
def _geodetic_index() -> tuple[dict, dict]:
    """({CRS key: (type, datum code)}, {datum code: canonical geographic
    2D CRS}) over the non-deprecated geodetic CRSs."""
    crs: dict = {}
    geog2d: dict = {}
    # geodetic_crs: auth, code, name, desc, type, cs_auth, cs_code,
    # datum_auth, datum_code, text_def, deprecated
    for code, r in _load()["geodetic_crs"].items():
        if not r[-1]:
            crs[code] = (str(r[4]), str(r[8]))
            if r[4] == "geographic 2D":
                geog2d.setdefault(str(r[8]), []).append(code)
    # lowest numeric (EPSG) code first; alphanumeric auxiliary codes
    # (IGNF) after, alphabetically
    return crs, {d: min(cs, key=lambda c: (0, int(c), "") if c.isdigit()
                        else (1, 0, c)) for d, cs in geog2d.items()}


def datum_crs(datum_code) -> str | None:
    """A datum's canonical CRS: its lowest-code non-deprecated
    geographic 2D CRS, None when it has none."""
    return _geodetic_index()[1].get(str(datum_code))


def canonical_crs(code: str) -> str:
    """The canonical CRS of a geodetic CRS key's datum; any other key is
    its own. Operations are indexed under it: an op published between
    geocentric or geographic 3D CRSs serves the geographic 2D pair of the
    same datums, as the reference's createOperations matches datums."""
    crs = _geodetic_index()[0].get(code)
    return code if crs is None else _geodetic_index()[1].get(crs[1], code)


def crs_type(code: str) -> str | None:
    """geodetic_crs type of a non-deprecated geodetic CRS key
    ('geographic 2D', 'geocentric', ...); None for any other key."""
    crs = _geodetic_index()[0].get(code)
    return None if crs is None else crs[0]


def ensembles() -> list[Datum]:
    """Every non-deprecated geodetic datum ensemble, read by `_datum`
    (members in sequence order, published accuracy)."""
    db = _load()
    rows = db["geodetic_datum"]
    return [_datum(rows[c][0], c) for c in db["geodetic_datum_ensemble_member"]
            if c in rows and not rows[c][-1]]


def geoid_model_grids(vert_code: str) -> str:
    """+geoidgrids value for a vertical CRS code: the geoid (height
    correction) model files of the registry's geoid op records, best
    accuracy first, each name expanded through grid_alternatives (PROJ
    tif name, legacy gtx name, original) with '@'-optional markers so
    whichever file is present loads (reference
    data/sql/grid_alternatives.sql + createOperations geoid-model path)."""
    vert_code = str(vert_code)
    # a "reversible alternative" row targets the compound CRS whose
    # vertical member is this code (e.g. 9708: 4979 -> 9707 for 5773)
    dsts = {c for c, r in _load()["compound_crs"].items()
            if str(r[7]) == vert_code and not r[-1]} | {vert_code}
    rows = sorted((op["accuracy"] if op["accuracy"] >= 0 else 1e9,
                   op["grid"]) for op in operations()
                  if op["kind"] == "geoid" and op["dst"] in dsts)
    if not rows:
        raise NotImplementedError(
            f"EPSG:{vert_code}: no geoid model in the bundled registry")
    # all names '@'-optional, each once: the list is alternatives for the
    # same model(s), whichever is present loads; if NONE load the
    # grid-shift step's "no usable grid" guard raises with the full list
    return ",".join("@" + nm for nm in dict.fromkeys(
        nm for _acc, orig in rows for nm in _grid_name_candidates(orig)))


def _grid_name_candidates(orig: str) -> list[str]:
    """Registry grid name expanded through grid_alternatives (PROJ tif
    name, legacy name, original), most-preferred first, each non-empty
    name once."""
    alt = _load()["grid_alternatives"].get(orig)
    names = [alt[1], alt[2]] if alt else []
    return [str(nm) for nm in dict.fromkeys(names + [orig]) if nm]


def geoid_grids_for_op(op_code: str) -> str:
    """+geoidgrids value for ONE geoid-model grid_transformation row —
    the explicit ``geoid_model`` member of a PROJJSON VerticalCRS
    (reference io.cpp PROJJSONParser geoid_model; NRCan
    coordinate_metadata definitions name their grid op directly). A
    deprecated row still resolves."""
    code = str(op_code)
    row = _load()["grid_transformation"].get(code)
    op = None if row is None else _grid(code, row)
    if op is None or op["kind"] != "geoid":
        raise KeyError(f"geoid model op {op_code} not in the registry")
    return ",".join("@" + nm for nm in _grid_name_candidates(op["grid"]))


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


def check_same_body(a1: float, a2: float) -> None:
    """Refuse a source/target pair whose semi-major axes differ by more
    than REL_ERROR_FOR_SAME_CELESTIAL_BODY = 0.007 relative: the
    ellipsoids cannot belong to the same celestial body (reference
    coordinateoperationfactory.cpp:4459 createOperationsGeodToGeod). The
    PROJ_IGNORE_CELESTIAL_BODY environment variable, set to anything but
    NO/FALSE/OFF, overrides the check as in the reference."""
    if abs(a1 - a2) <= 0.007 * a2:
        return
    env = os.environ.get("PROJ_IGNORE_CELESTIAL_BODY")
    if env is not None and env.upper() not in ("NO", "FALSE", "OFF"):
        return
    msg = ("Source and target ellipsoid do not belong to the same "
           f"celestial body ({guess_body_name(a1)} vs "
           f"{guess_body_name(a2)}).")
    if env is None:
        msg += (" You may override this check by setting the "
                "PROJ_IGNORE_CELESTIAL_BODY environment variable to YES.")
    raise ValueError(msg)


def crs_usages(code: str) -> list[tuple[str, str, tuple | None]]:
    """[(scope name, area name, (south, west, north, east) | None)] for a
    CRS code — the registry's usage -> scope/extent rows (reference
    data/sql/usage.sql + scope.sql + extent.sql; WKTFormatter emits them
    as WKT2:2019 USAGE[SCOPE[...],AREA[...],BBOX[...]] nodes)."""
    db = _load()
    code = str(code)
    for table in ("geodetic_crs", "projected_crs", "vertical_crs",
                  "compound_crs"):
        if code not in db[table]:
            continue
        out = []
        for ext_code, scope_code in _usages().get((table, code), ()):
            sc = db["scope"].get(scope_code)
            scope_name = str(sc[2]) if sc is not None else "Not known."
            ext = _extent(ext_code)
            out.append((scope_name, "Not specified.", None) if ext is None
                       else (scope_name, *ext))
        return out
    return []


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
        factor = _uom(ax[9]).factor
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
    crs = crs_record(code)
    if crs is None:
        raise KeyError(f"EPSG:{code} not found (geodetic/projected only)")
    e = crs.datum.ellipsoid
    if e.rf is not None:
        ell = f"+a={e.a!r} +rf={e.rf!r}"
    else:
        ell = f"+R={e.a!r}" if e.b == e.a else f"+a={e.a!r} +b={e.b!r}"
    if crs.kind == "geocentric":
        return f"+proj=geocent {ell}"
    # a spherical planetocentric CS (IAU ocentric) carries GEOCENTRIC
    # latitude: the proj4-legacy '+geoc' spelling, the semantics the
    # reference's operation context gives a geoc step (crs.cpp:2386) and
    # its PROJStringParser reads as '+proj=<method> +geoc' over such a
    # base (fwd.cpp:79-81). Identity on spheres, tan(phi')=(1-e^2)tan on
    # ellipsoids.
    if crs.base is None:
        geoc = " +geoc" if crs.cs == "spherical" else ""
        s = f"+proj=longlat{geoc} {ell}"
    else:
        P = crs.conversion
        fn = _METHODS.get(P.method)
        if fn is None:
            raise NotImplementedError(
                f"EPSG:{code}: projection method {P.method} "
                f"({P.method_name!r}) not supported")
        s = f"{fn(P)} {ell}" + (" +geoc" if crs.base.cs == "spherical"
                                else "")
    if crs.datum.pm.lon != 0.0:
        s += f" +pm={crs.datum.pm.lon!r}"
    if crs.to_meter != 1.0:
        s += f" +to_meter={crs.to_meter!r}"
    # west-positive longitude or easting: the reference emits an axisswap
    # order=-1,2 (crs.cpp:4646), +axis=wnu is the param spelling our
    # compiler lowers to the same swap; methods that fix their axes (9808
    # +axis=wsu) are left alone
    if crs.west and " +axis=" not in s:
        s += " +axis=wnu"
    return s
