"""Tests for the batch coordinate CLI (proj/cct/geod analogue)."""

import io

import numpy as np
import pytest

from proj_spark.cli import main, run_cct, run_geod


def _run(fn, argv, text):
    out = io.StringIO()
    rc = fn(argv, io.StringIO(text), out)
    assert rc == 0
    return out.getvalue().splitlines()


def test_cct_forward_matches_pipeline():
    lines = _run(run_cct, ["+proj=utm", "+zone=32", "+ellps=GRS80"],
                 "12 55\n")
    x, y = (float(v) for v in lines[0].split())
    from proj_spark.plans.pipeline import compile_pipeline
    p = compile_pipeline("+proj=utm +zone=32 +ellps=GRS80")
    X, Y, _, _ = p.fwd_deg(np.array([12.0]), np.array([55.0]))
    assert abs(x - X[0]) < 1e-6 and abs(y - Y[0]) < 1e-6


def test_cct_inverse_roundtrip_and_passthrough():
    fwd = _run(run_cct, ["+proj=merc", "+ellps=WGS84"], "10 45\n")
    x, y = (float(v) for v in fwd[0].split())
    inv = _run(run_cct, ["-I", "+proj=merc", "+ellps=WGS84"],
               f"{x} {y}\n# note\njunk line\n")
    lon, lat = (float(v) for v in inv[0].split())
    assert abs(lon - 10) < 1e-9 and abs(lat - 45) < 1e-9
    assert inv[1] == "# note"
    assert inv[2] == "junk line"


def test_cct_4d_pipeline():
    # gie/cct convention: angular lanes presented in degrees either side
    lines = _run(run_cct, ["proj=unitconvert", "xy_in=grad", "xy_out=deg"],
                 "50 50 1 2000\n")
    vals = [float(v) for v in lines[0].split()]
    assert abs(vals[0] - 45.0) < 1e-9 and abs(vals[1] - 45.0) < 1e-9
    assert vals[2] == 1.0 and vals[3] == 2000.0


def test_geod_inverse_jfk_lhr():
    # the canonical GeographicLib example pair
    lines = _run(run_geod, ["-i", "+ellps=WGS84"], "40.6 -73.8 51.6 -0.5\n")
    azi1, azi2, s12 = (float(v) for v in lines[0].split())
    assert abs(s12 - 5551759.400) < 0.01
    assert abs(azi1 - 51.198883) < 1e-5


def test_geod_direct_closes_inverse():
    inv = _run(run_geod, ["-i", "+ellps=WGS84"], "10 20 -30 150\n")
    azi1, _, s12 = (float(v) for v in inv[0].split())
    d = _run(run_geod, ["+ellps=WGS84"], f"10 20 {azi1} {s12}\n")
    lat2, lon2, _ = (float(v) for v in d[0].split())
    assert abs(lat2 - (-30)) < 1e-6 and abs(lon2 - 150) < 1e-6


def test_cs2cs_epsg_pair():
    import io

    from proj_spark.cli import run_cs2cs

    out = io.StringIO()
    rc = run_cs2cs(["EPSG:4326", "EPSG:32633"], io.StringIO("15 55\n"), out)
    assert rc == 0
    x, y = (float(v) for v in out.getvalue().split())
    from proj_spark.plans.pipeline import compile_pipeline
    p = compile_pipeline("+proj=utm +zone=33 +ellps=WGS84")
    X, Y, _, _ = p.fwd_deg(np.array([15.0]), np.array([55.0]))
    assert abs(x - X[0]) < 1e-6 and abs(y - Y[0]) < 1e-6


def test_cs2cs_registry_dispatch():
    """--dispatch: per-point registry candidate selection — a Spanish
    point takes a regional ED50 Helmert op, Hawaii takes the ballpark."""
    import io

    from proj_spark.cli import run_cs2cs

    out = io.StringIO()
    rc = run_cs2cs(["--dispatch", "-d", "7", "EPSG:4230", "EPSG:4326"],
                   io.StringIO("-3.7 40.4\n-155.0 20.0\n"), out)
    assert rc == 0
    lines = out.getvalue().strip().splitlines()
    x0, y0 = (float(v) for v in lines[0].split())
    x1, y1 = (float(v) for v in lines[1].split())
    assert -0.002 < x0 - (-3.7) < -0.0008 and -0.002 < y0 - 40.4 < -0.0008
    assert x1 == -155.0 and y1 == 20.0


def test_projinfo_pair_ranked_candidates():
    """projinfo mode mirrors the reference's candidate-list shapes
    (test/cli/test_projinfo.yaml): count header, per-operation id/name +
    accuracy + area, PROJ string; static selection order with the
    ballpark last."""
    import io as _io

    from proj_spark.cli import run_projinfo

    out = _io.StringIO()
    assert run_projinfo(["-s", "EPSG:4230", "-t", "EPSG:4326"], out) == 0
    lines = out.getvalue().splitlines()
    assert lines[0].startswith("Candidate operations found: ")
    n = int(lines[0].split(": ")[1])
    assert n >= 20
    assert lines[1].startswith("---")
    # first candidate is the best-accuracy, smallest-area Gibraltar op
    assert "Operation No. 1:" in lines[2]
    assert "EPSG:1629" in lines[4] and "1.0 m" in lines[4]
    # accuracies are non-decreasing down the list, ballpark last
    accs = []
    infos = [ln for ln in lines if " m, bbox " in ln or "Ballpark" in ln]
    assert infos[-1].startswith("unknown id, Ballpark")
    for ln in infos[:-1]:
        accs.append(float(ln.split(", ")[-2].split(" m")[0]))
    assert accs == sorted(accs)
    # every non-ballpark candidate prints its pipeline
    assert sum(1 for ln in lines if ln.startswith("+proj=pipeline")) == n - 1


def test_projinfo_single_crs():
    import io as _io

    from proj_spark.cli import run_projinfo

    out = _io.StringIO()
    assert run_projinfo(["EPSG:32632"], out) == 0
    assert "+proj=tmerc" in out.getvalue()
    out = _io.StringIO()
    assert run_projinfo(["EPSG:4326+5773"], out) == 0
    assert "+geoidgrids=" in out.getvalue()


_WKT_ID_INF = ('GEOGCRS["x",DATUM["d",ELLIPSOID["e",6378137,298.257223563]],'
               'CS[ellipsoidal,2],AXIS["lat",north],AXIS["lon",east],'
               'ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",1e400]]')
_PJ_MEMBERS_INT = ('{"type":"GeographicCRS",'
                   '"datum_ensemble":{"name":"y","members":3}}')
_PJ_HUGE_AXIS = ('{"type":"GeographicCRS","name":"x","datum":{"name":"d","ellipsoid":'
                 '{"name":"e","semi_major_axis":1' + '0' * 400
                 + ',"inverse_flattening":298.257223563}}}')


@pytest.mark.parametrize("argv,rc", [
    # usage errors: an option without its value, or a malformed value
    (["cct", "-d"], 2),
    (["cs2cs", "-d"], 2),
    (["geod", "-d"], 2),
    (["projinfo", "-s"], 2),
    (["projinfo", "-t"], 2),
    (["projinfo", "-o"], 2),
    (["cct", "-d", "x"], 2),
    (["gie", "--max-op-skips"], 2),
    # inputs that do not resolve
    (["cct", "+proj=nosuch"], 1),
    (["+proj=nosuch"], 1),
    (["cs2cs", "EPSG:99999999", "EPSG:4326"], 1),
    (["geod", "+ellps=nosuch"], 1),
    # a zero, negative or missing major axis is a clean error
    (["cct", "+proj=merc", "+a=0"], 1),
    (["cct", "+proj=cart", "+a=0"], 1),
    (["cct", "+proj=merc", "+R=0"], 1),
    (["cct", "+proj=merc", "+a=-1"], 1),
    (["cs2cs", 'GEOGCS["x",DATUM["d",SPHEROID["s",0,0]],PRIMEM["Greenwich",0],'
      'UNIT["degree",0.0174532925199433]]', "EPSG:4326"], 1),
    (["projinfo", "foo"], 1),
    (["cs2cs", "EPSG:4326"], 2),
    # a non-finite top-level id and a PROJJSON ensemble whose members are
    # not a list identify no registry CRS
    (["projinfo", "-s", _WKT_ID_INF, "-t", "EPSG:4326"], 1),
    (["projinfo", "-o", "WKT2", _WKT_ID_INF], 2),
    (["projinfo", "-s", _PJ_MEMBERS_INT, "-t", "EPSG:4326"], 1),
    (["projinfo", "-o", "WKT2", _PJ_MEMBERS_INT], 1),
    # a 401-digit PROJJSON integer is beyond float range
    (["projinfo", _PJ_HUGE_AXIS], 1),
    (["cs2cs", _PJ_HUGE_AXIS, "EPSG:4326"], 1),
    # a GeoTIFF horizontal grid with a 1-sample IFD is refused by name
    (["cct", "+proj=hgridshift", "+grids=tests/"
      "us_noaa_nadcon5_nad83_2007_nad83_2011_alaska_extract.tif"], 1),
    # an export the format cannot express is refused like any other input
    (["projinfo", "-o", "WKT1_GDAL", "EPSG:4978"], 1),
    # a truncated GeoTIFF is refused by name
    (["cct", "+proj=vgridshift",
      "+grids=tests/test_vgrid_single_strip_truncated.tif"], 1),
])
def test_bad_input_is_one_stderr_line(argv, rc, capsys, monkeypatch):
    monkeypatch.setattr("sys.stdin", io.StringIO(""))
    assert main(argv) == rc
    out, err = capsys.readouterr()
    assert out == ""
    assert len(err.splitlines()) == 1
    assert err.startswith(f"{argv[0] if argv[0] != '+proj=nosuch' else 'cct'}: ")


@pytest.mark.parametrize("src,dst,xy", [
    ("ESRI:102100", "EPSG:4326", (1113194.9, 6274861.4)),
    ("IGNF:LAMB93", "EPSG:4326", (700000.0, 6600000.0)),
    ("urn:ogc:def:crs:EPSG::4326", "EPSG:3857", (2.0, 49.0)),
])
def test_cs2cs_reads_src_dst_then_files(src, dst, xy, tmp_path, capsys):
    """The first two operands are the CRSs, whatever their spelling, and
    the rest are input files."""
    from proj_spark.plans.pipeline import compile_crs_to_crs

    f = tmp_path / "pts"
    f.write_text(f"{xy[0]} {xy[1]}\n")
    assert main(["cs2cs", src, dst, str(f)]) == 0
    got = [float(v) for v in capsys.readouterr().out.split()]
    X, Y, _, _ = compile_crs_to_crs(src, dst).fwd_deg(
        np.array([xy[0]]), np.array([xy[1]]))
    assert got == pytest.approx([X[0], Y[0]], abs=1e-9)


_NRCAN = "NAD83_CSRS_2010_UTM10_CGVD2013_2010"


@pytest.mark.parametrize("spellings,registry", [
    (("EPSG:4258", "epsg:4258", "urn:ogc:def:crs:EPSG::4258"), True),
    (("ESRI:102100", "urn:ogc:def:crs:ESRI::102100"), False),
    (("IGNF:RGF93G", "urn:ogc:def:crs:IGNF::RGF93G"), True),
    (("IGNF:RGF93G.IGN69", "urn:ogc:def:crs:IGNF::RGF93G.IGN69"), True),
    (("NKG:ETRF14", "urn:ogc:def:crs:NKG::ETRF14"), True),
    (("IAU_2015:30100", "IAU:30100", "urn:ogc:def:crs:IAU_2015::30100"), True),
    ((f"NRCAN:{_NRCAN}", f"urn:ogc:def:coordinateMetadata:NRCAN::{_NRCAN}"),
     False),
    (("EPSG:4326", "WKT", "PROJJSON"), True),
], ids=["epsg", "esri", "ignf", "ignf-compound", "nkg", "iau", "nrcan",
        "wkt-projjson"])
def test_every_surface_reads_every_spelling_alike(spellings, registry,
                                                   capsys, monkeypatch):
    """compile_crs_to_crs, projinfo, cs2cs and (for a CRS with a registry
    code) candidate_operations give one answer for every spelling of a
    CRS; the WKT and PROJJSON fixtures carry the id EPSG:4326."""
    import json

    from proj_spark.plans.pipeline import (compile_crs_to_crs, crs_input,
                                           crs_registry_code)
    from proj_spark.sources.epsg_ops import candidate_operations
    from tests.test_projjson import WGS84_GEOG as PJ_WGS84
    from tests.test_wkt import WGS84_GEOG

    spellings = [{"WKT": WGS84_GEOG, "PROJJSON": json.dumps(PJ_WGS84)}.get(
        s, s) for s in spellings]

    def outcome(fn, *args):
        try:
            return fn(*args)
        except Exception as e:
            return type(e).__name__

    answers = []
    for s in spellings:
        pipe = outcome(compile_crs_to_crs, s, spellings[0])
        if not isinstance(pipe, str):
            pipe = np.stack(pipe.fwd_deg(np.array([1.0, 2.0]),
                                         np.array([2.0, 1.0]))[:2]).tolist()
        assert main(["projinfo", s]) == 0
        projinfo = capsys.readouterr()
        monkeypatch.setattr("sys.stdin", io.StringIO("1 2\n2 1\n"))
        cs2cs = (main(["cs2cs", s, spellings[0]]), capsys.readouterr())
        key = crs_registry_code(crs_input(s))
        assert (key is not None) == registry
        cands = (outcome(lambda: [c.name for c in candidate_operations(
            s, spellings[0])]) if registry else None)
        answers.append((pipe, projinfo, cs2cs, key, cands))
    assert all(a == answers[0] for a in answers[1:])
