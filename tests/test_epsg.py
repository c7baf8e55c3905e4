"""Unit tests for the EPSG registry resolver (sources/epsg.py) beyond
the GIGS end-to-end coverage in test_kernels_gie."""

import glob
import hashlib
import os
import re

import numpy as np
import pytest

from proj_spark.sources import epsg
from proj_spark.sources.epsg import (_keep, _load, _rows, _sexagesimal_to_deg,
                                     _TABLES, epsg_to_proj)

SQL_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "epsg_sql")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sexagesimal_conversion():
    # 50.4752134 = 50 deg 47' 52.134"
    assert abs(_sexagesimal_to_deg(50.4752134)
               - (50 + 47 / 60 + 52.134 / 3600)) < 1e-12
    assert abs(_sexagesimal_to_deg(-12.3045)
               + (12 + 30 / 60 + 45 / 3600)) < 1e-12
    assert _sexagesimal_to_deg(0.0) == 0.0


def test_geographic_and_geocentric():
    assert epsg_to_proj(4326) == "+proj=longlat +a=6378137.0 +rf=298.257223563"
    assert epsg_to_proj(4978).startswith("+proj=geocent +a=6378137.0")
    # Paris prime meridian carried as +pm
    assert "+pm=2.3372291" in epsg_to_proj(4807)


def test_projected_variants():
    s = epsg_to_proj(32631)  # WGS84 / UTM 31N as a plain TM conversion
    assert "+proj=tmerc" in s and "+x_0=500000.0" in s and "+k=0.9996" in s
    s = epsg_to_proj(2049)   # Hartebeesthoek Lo21: TM South Orientated
    assert "+axis=wsu" in s
    s = epsg_to_proj(2921)   # NAD83(HARN) Utah North (ft): axis units
    assert "+to_meter=0.3048" in s
    s = epsg_to_proj(23700)  # EOV: degenerate HOM-B == somerc
    assert "+proj=somerc" in s
    s = epsg_to_proj(31370)  # Belgian Lambert 72: 29.2985" correction
    assert "+proj=lcc" in s


def test_unknown_codes_raise():
    with pytest.raises(KeyError):
        epsg_to_proj(99999999)


def test_init_roundtrip_through_pipeline():
    from proj_spark.plans.pipeline import compile_pipeline

    p = compile_pipeline("+init=epsg:32633")  # UTM 33N
    q = compile_pipeline("+proj=utm +zone=33 +ellps=WGS84")
    lon = np.array([15.0, 12.3])
    lat = np.array([55.0, 48.9])
    X1, Y1, _, _ = p.fwd_deg(lon.copy(), lat.copy())
    X2, Y2, _, _ = q.fwd_deg(lon.copy(), lat.copy())
    np.testing.assert_allclose(X1, X2, atol=1e-6)
    np.testing.assert_allclose(Y1, Y2, atol=1e-6)


def test_compound_crs_resolution():
    """EPSG:9707 (WGS 84 + EGM96 height) resolves to the horizontal spec
    plus +geoidgrids from the registry's geoid-model rows (CT 10084/9708,
    param 8666) expanded through grid_alternatives (reference
    data/sql/compound_crs.sql + grid_alternatives.sql)."""
    s = epsg_to_proj("9707")
    assert s.startswith("+proj=longlat")
    assert "+geoidgrids=" in s
    assert "@us_nga_egm96_15.tif" in s and "@egm96_15.gtx" in s
    # the 'HHHH+VVVV' pair spelling resolves identically
    assert epsg_to_proj("4326+5773") == s


def test_compound_crs_transform_matches_vgridshift():
    """Orthometric->ellipsoidal through the compound CRS equals a direct
    +proj=vgridshift over the same (bundled downsampled EGM96) grid, and
    the inverse roundtrips."""
    from proj_spark.plans.pipeline import compile_crs_to_crs, compile_pipeline

    p = compile_crs_to_crs("EPSG:9707", "EPSG:4326")
    lon = np.array([2.0, -70.0, 151.0])
    lat = np.array([49.0, -33.0, -33.9])
    h = np.zeros(3)
    x, y, z, _ = p.fwd_deg(lon, lat, h)
    v = compile_pipeline("+proj=vgridshift +grids=egm96_15.gtx "
                         "+multiplier=1.0")
    _, _, n, _ = v.fwd(np.radians(lon), np.radians(lat), np.zeros(3))
    np.testing.assert_allclose(z, n, atol=1e-9)   # h = H + N at H=0
    xi, yi, zi, _ = p.inv_deg(x, y, z)
    np.testing.assert_allclose(zi, h, atol=1e-9)
    np.testing.assert_allclose(xi, lon, atol=1e-12)
    np.testing.assert_allclose(yi, lat, atol=1e-12)


def test_compound_crs_vertical_ft_units():
    """A compound whose vertical axis is not metres gets +vto_meter
    (EPSG:6130 GCVD54 height (ft), international feet)."""
    s = epsg_to_proj("4326+6130")
    assert "+vto_meter=0.3048" in s


def test_vertical_only_code_raises():
    with pytest.raises(NotImplementedError):
        epsg_to_proj("5773")
    with pytest.raises(NotImplementedError):
        # compound with no bundled geoid model for its vertical part
        epsg_to_proj("3902")


# --------------------------------------------------------- the SQL reader

@pytest.mark.parametrize("text,rows", [
    # literals holding comment, statement and tuple syntax, and '' escapes
    ("""INSERT INTO "t" VALUES('a--b','c;d','(e)','it''s','');""",
     [("t", ["a--b", "c;d", "(e)", "it's", ""])]),
    ("INSERT INTO t VALUES(NULL, 42, -7, 3.5, 1e-5, -2.5E+3, null);",
     [("t", [None, 42, -7, 3.5, 1e-5, -2500.0, None])]),
    # quoted and bare table names, two statements on one line
    ("""INSERT INTO "q" VALUES(1);INSERT INTO u VALUES(2);""",
     [("q", [1]), ("u", [2])]),
    # a column list with comments (one holding parentheses)
    ("INSERT INTO g(a, -- first (col)\n b) -- cols\nVALUES ('x', 1);",
     [("g", ["x", 1])]),
    # several tuples on one line, a comment between tuples
    ("INSERT INTO g VALUES\n('a',1),('b',2),\n-- note ('z',9);\n('c',3);",
     [("g", ["a", 1]), ("g", ["b", 2]), ("g", ["c", 3])]),
    # multi-line tuple with a comment after each value
    ("""INSERT INTO "extent" VALUES(\n 'NKG','E', -- auth+code\n"""
     " 53.0, -- south (deg)\n 0\n);",
     [("extent", ["NKG", "E", 53.0, 0])]),
    # text outside INSERT statements yields nothing
    ("""-- INSERT INTO "x" VALUES(1);\nCREATE TRIGGER tr INSTEAD OF INSERT"""
     """ ON x BEGIN SELECT RAISE(ABORT, 'INSERT INTO "x" VALUES(2);'); END;""",
     []),
])
def test_reader_edge_cases(text, rows):
    assert list(_rows(text)) == rows


def _keyed(text: str, aux: bool) -> dict:
    db = {t: {} for t in _TABLES}
    for table, vals in _rows(text):
        _keep(db, table, vals, aux)
    return {t: v for t, v in db.items() if v}


def test_aux_statements_keyed_like_epsg_extracts():
    """Multi-line, commented statements of an auxiliary file key
    supersession, deprecation and ensemble-member rows exactly like the
    EPSG extracts' one-line form."""
    one_line = """\
INSERT INTO "supersession" VALUES('helmert_transformation','EPSG','1133','helmert_transformation','EPSG','1134','EPSG',1);
INSERT INTO "deprecation" VALUES('geodetic_crs','EPSG','4140','EPSG','4152','EPSG');
INSERT INTO "geodetic_datum_ensemble_member" VALUES('EPSG','6258','EPSG','1206',1);
INSERT INTO "geodetic_datum_ensemble_member" VALUES('EPSG','6258','EPSG','1032',2);
"""
    aux_style = """\
-- supersession of a transformation
INSERT INTO "supersession" VALUES (
    'helmert_transformation',   -- superseded table
    'EPSG', '1133',             -- superseded auth+code
    'helmert_transformation',
    'EPSG', '1134',             -- replacement auth+code
    'EPSG',
    1                           -- same source/target CRS
);
INSERT INTO "deprecation" VALUES (
    'geodetic_crs', 'EPSG', '4140', -- deprecated
    'EPSG', '4152',                 -- replacement
    'EPSG'
);
INSERT INTO "geodetic_datum_ensemble_member" (ensemble_auth_name,
    ensemble_code, member_auth_name, member_code, sequence) VALUES
    ('EPSG', '6258', 'EPSG', '1206', 1), -- first member
    ('EPSG', '6258', 'EPSG', '1032', 2);
"""
    expected = _keyed(one_line, aux=False)
    assert expected == {
        "supersession": {("helmert_transformation", "1133"): [[
            "helmert_transformation", "EPSG", "1133",
            "helmert_transformation", "EPSG", "1134", "EPSG", 1]]},
        "deprecation": {("geodetic_crs", "4140"): [[
            "geodetic_crs", "EPSG", "4140", "EPSG", "4152", "EPSG"]]},
        "geodetic_datum_ensemble_member": {"6258": [(1, "1206"),
                                                    (2, "1032")]},
    }
    assert _keyed(aux_style, aux=True) == expected
    assert _keyed(aux_style, aux=False) == expected


def test_every_bundled_file_is_read():
    """Each bundled .sql file yields rows through the reader, and each
    registry (non-esri) file contributes stored rows to the registry."""
    db = _load()
    paths = sorted(glob.glob(os.path.join(SQL_DIR, "*.sql")))
    assert len(paths) >= 30
    for path in paths:
        with open(path, errors="replace") as f:
            text = f.read()
        assert next(_rows(text), None) is not None, path
        if os.path.basename(path).startswith("esri"):
            continue
        own = _keyed(text, epsg._is_aux(path))
        assert own, path
        for table, rows in own.items():
            assert rows.keys() <= db[table].keys(), (path, table)


# Rows the parent's line loops mis-read, plus the rows its auxiliary loop
# dropped: these are the only rows this reader changed.
_CORRECTED = {
    "concatenated_operation": {"8047"},   # description spans two lines
    # two tuples on one line: the second was lost, the first garbled
    "grid_alternatives": {"geoid03_conus.bin",
                          "NOT-YET-IN-GRID-TRANSFORMATION-g2003h01.bin"},
}


def _aux_keys(fname: str, table: str) -> set:
    with open(os.path.join(SQL_DIR, fname), errors="replace") as f:
        return {str(v[0]) if table == "grid_alternatives"
                else (str(v[0]), str(v[2]))
                for t, v in _rows(f.read()) if t == table}


def _as_list(table: str, v):
    """A stored value with its rows as lists, the type the previous
    reader stored (rows keyed by code are tuples now)."""
    if table == "axis_all":
        return [list(r) for r in v]
    return list(v) if isinstance(v, tuple) else v


def _fingerprint(db: dict, skip: dict) -> str:
    """sha256 over every stored row in sorted order, leaving out the keys
    in `skip`; usage rows by value alone (see test_usage_read_by_value)."""
    h = hashlib.sha256()
    for table in sorted(t for t in db if not t.startswith("_")):
        if table == "usage":
            rows = sorted(repr(list(r)) for r in db[table].values())
        else:
            rows = sorted(repr((k, _as_list(table, v)))
                          for k, v in db[table].items()
                          if k not in skip.get(table, ()))
        h.update(repr((table, rows)).encode())
    return h.hexdigest()


def test_registry_equals_previous_reader():
    """Every row outside the corrected ones is the one the previous line
    loops and statement scanner stored: the fingerprint below was computed
    on their output with the same keys left out."""
    db = _load()
    ignf_alts = _aux_keys("ignf.sql", "grid_alternatives")
    nkg_sups = _aux_keys("nkg.sql", "supersession")
    assert len(ignf_alts) == 30 and len(nkg_sups) == 7
    skip = dict(_CORRECTED)
    skip["grid_alternatives"] = skip["grid_alternatives"] | ignf_alts
    skip["supersession"] = nkg_sups
    assert _fingerprint(db, skip) == (
        "e5797f069c0a9fa328ef4b0dd3bd3aa33b5a746713c66bd2874474e483a4d25a")
    counts = {t: len(v) for t, v in db.items() if not t.startswith("_")}
    assert counts == {
        "axis": 141, "axis_all": 141, "celestial_body": 98,
        "compound_crs": 671, "concatenated_operation": 286 + 1,
        "concatenated_operation_step": 287, "conversion": 2879,
        "coordinate_metadata": 99, "coordinate_system": 3,
        "deprecation": 446, "ellipsoid": 171, "extent": 4070,
        "geodetic_crs": 1624, "geodetic_datum": 837,
        "geodetic_datum_ensemble_member": 2,
        "grid_alternatives": 277 + 1 + 30, "grid_transformation": 931,
        "helmert_transformation": 2302, "other_transformation": 533,
        "prime_meridian": 112, "projected_crs": 7967, "scope": 281,
        "supersession": 301 + 7, "unit_of_measure": 95, "usage": 18393,
        "vertical_crs": 327, "vertical_datum": 293,
        "vertical_datum_ensemble_member": 4,
    }
    # the NKG supersessions all have same_source_target_crs = 0, so the
    # dispatch's discardSuperseded pass ignores them
    assert all(r[7] == 0 for k in nkg_sups for r in db["supersession"][k])


def test_usage_read_by_value():
    """usage rows are keyed 'auth:code' for every authority; that is safe
    because no consumer looks a usage row up by key."""
    pat = re.compile(r"""\[["']usage["']\](?!\.values\(\))|get\(["']usage""")
    files = glob.glob(os.path.join(REPO, "proj_spark", "**", "*.py"),
                      recursive=True)
    files += [os.path.join(REPO, "__spark_entry__.py")]
    readers = 0
    for path in files:
        with open(path) as f:
            text = f.read()
        assert not pat.search(text), path
        readers += text.count('["usage"].values()')
    assert readers == 1   # the one usage index, epsg._usages


def test_multi_line_concatenated_operation_8047():
    db = _load()
    assert db["concatenated_operation"]["8047"][2] == "ED50 to WGS 84 (15)"
    assert db["concatenated_operation_step"]["8047"] == [(1, "1147"),
                                                         (2, "1146")]


def test_ed50_candidates_unchanged():
    """8047 is superseded by 8569 in the same table, so the ED50 -> WGS 84
    candidate list is the same 25 operations in the same order."""
    from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

    disp = crs_to_crs_epsg_dispatch("EPSG:4230", "EPSG:4326")
    assert [c.name.split(" ", 1)[0] for c in disp.candidates] == [
        "EPSG:1629", "EPSG:1998", "EPSG:1627", "EPSG:1989", "EPSG:1613",
        "EPSG:1311", "EPSG:1612", "EPSG:1631", "EPSG:1635", "EPSG:1633",
        "EPSG:8569", "EPSG:1784", "EPSG:1275", "EPSG:1087", "EPSG:1853",
        "EPSG:3904", "EPSG:1985", "EPSG:15964", "EPSG:1138", "EPSG:1134",
        "EPSG:1139", "EPSG:1145", "EPSG:1075", "EPSG:1133", "ballpark"]


def test_two_grid_alternatives_on_one_line():
    """grid_alternatives.sql puts the g2003h01 and geoid03_conus tuples on
    one line: both rows load, each with its 11 columns."""
    alts = _load()["grid_alternatives"]
    assert len(alts["NOT-YET-IN-GRID-TRANSFORMATION-g2003h01.bin"]) == 11
    assert alts["geoid03_conus.bin"][:3] == [
        "geoid03_conus.bin", "us_noaa_geoid03_conus.tif", "geoid03_conus.gtx"]
    assert ("@us_noaa_geoid03_conus.tif,@geoid03_conus.gtx,"
            "@geoid03_conus.bin") in epsg.geoid_model_grids("5703")


def test_geoid_op_grids_list_each_name_once():
    """grid_alternatives expansion drops an empty alternative and a legacy
    name equal to the original: each grid is listed once, most-preferred
    first."""
    assert epsg.geoid_grids_for_op("7001") == "@naptrans2008.gtx"
    nl = "@nl_nsgi_nlgeo2018.tif,@nlgeo2018.gtx"
    for code in ("9283", "9597", "10466", "10467"):
        assert epsg.geoid_grids_for_op(code) == nl
    for code, model in (("9325", "nzgeoid2009"), ("9627", "nzgeoid2009"),
                        ("9326", "nzgeoid2016"), ("9628", "nzgeoid2016")):
        assert epsg.geoid_grids_for_op(code) == (
            f"@nz_linz_{model}.tif,@{model}.gtx")
    for op in epsg.operations():
        if op["kind"] == "geoid":
            names = epsg.geoid_grids_for_op(op["code"]).split(",")
            assert "@" not in names and len(set(names)) == len(names)
