"""WKT1/WKT2 CRS input (sources.wkt) — parse + lower to proj-strings and
verify numerically against the equivalent proj-string pipelines."""

import math
import re

import numpy as np
import pytest

from proj_spark.plans.pipeline import compile_crs_to_crs, compile_pipeline
from proj_spark.sources.wkt import is_wkt, parse_wkt, wkt_to_proj

WGS84_GEOG = """GEOGCRS["WGS 84",
    DATUM["World Geodetic System 1984",
        ELLIPSOID["WGS 84",6378137,298.257223563,
            LENGTHUNIT["metre",1]]],
    PRIMEM["Greenwich",0,
        ANGLEUNIT["degree",0.0174532925199433]],
    CS[ellipsoidal,2],
        AXIS["geodetic latitude (Lat)",north,
            ORDER[1],
            ANGLEUNIT["degree",0.0174532925199433]],
        AXIS["geodetic longitude (Lon)",east,
            ORDER[2],
            ANGLEUNIT["degree",0.0174532925199433]],
    ID["EPSG",4326]]"""

UTM32N = """PROJCRS["WGS 84 / UTM zone 32N",
    BASEGEOGCRS["WGS 84",
        DATUM["World Geodetic System 1984",
            ELLIPSOID["WGS 84",6378137,298.257223563,
                LENGTHUNIT["metre",1]]],
        PRIMEM["Greenwich",0,
            ANGLEUNIT["degree",0.0174532925199433]]],
    CONVERSION["UTM zone 32N",
        METHOD["Transverse Mercator",
            ID["EPSG",9807]],
        PARAMETER["Latitude of natural origin",0,
            ANGLEUNIT["degree",0.0174532925199433],
            ID["EPSG",8801]],
        PARAMETER["Longitude of natural origin",9,
            ANGLEUNIT["degree",0.0174532925199433],
            ID["EPSG",8802]],
        PARAMETER["Scale factor at natural origin",0.9996,
            SCALEUNIT["unity",1],
            ID["EPSG",8805]],
        PARAMETER["False easting",500000,
            LENGTHUNIT["metre",1],
            ID["EPSG",8806]],
        PARAMETER["False northing",0,
            LENGTHUNIT["metre",1],
            ID["EPSG",8807]],
        ID["EPSG",16032]],
    CS[Cartesian,2],
        AXIS["(E)",east,
            ORDER[1],
            LENGTHUNIT["metre",1]],
        AXIS["(N)",north,
            ORDER[2],
            LENGTHUNIT["metre",1]],
    ID["EPSG",32632]]"""

LCC_2SP = """PROJCRS["NAD83 / Conus Albers-like LCC",
    BASEGEOGCRS["NAD83",
        DATUM["North American Datum 1983",
            ELLIPSOID["GRS 1980",6378137,298.257222101,
                LENGTHUNIT["metre",1]]]],
    CONVERSION["Lambert",
        METHOD["Lambert Conic Conformal (2SP)",ID["EPSG",9802]],
        PARAMETER["Latitude of false origin",23,
            ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8821]],
        PARAMETER["Longitude of false origin",-96,
            ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8822]],
        PARAMETER["Latitude of 1st standard parallel",29.5,
            ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8823]],
        PARAMETER["Latitude of 2nd standard parallel",45.5,
            ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8824]],
        PARAMETER["Easting at false origin",0,
            LENGTHUNIT["metre",1],ID["EPSG",8826]],
        PARAMETER["Northing at false origin",0,
            LENGTHUNIT["metre",1],ID["EPSG",8827]]],
    CS[Cartesian,2],
        AXIS["easting",east,LENGTHUNIT["metre",1]],
        AXIS["northing",north,LENGTHUNIT["metre",1]]]"""

WKT1_PROJCS_FEET = """PROJCS["NAD83 / Texas-ish (ftUS)",
    GEOGCS["NAD83",
        DATUM["North_American_Datum_1983",
            SPHEROID["GRS 1980",6378137,298.257222101],
            TOWGS84[0,0,0,0,0,0,0]],
        PRIMEM["Greenwich",0],
        UNIT["degree",0.0174532925199433]],
    PROJECTION["Lambert_Conformal_Conic_2SP"],
    PARAMETER["standard_parallel_1",30.1166666666667],
    PARAMETER["standard_parallel_2",31.8833333333333],
    PARAMETER["latitude_of_origin",29.6666666666667],
    PARAMETER["central_meridian",-100.333333333333],
    PARAMETER["false_easting",2296583.333],
    PARAMETER["false_northing",9842500.0],
    UNIT["US survey foot",0.304800609601219]]"""

BOUND = """BOUNDCRS[
    SOURCECRS[GEOGCRS["DHDN-ish",
        DATUM["Deutsches Hauptdreiecksnetz",
            ELLIPSOID["Bessel 1841",6377397.155,299.1528128,
                LENGTHUNIT["metre",1]]]]],
    TARGETCRS[GEOGCRS["WGS 84",
        DATUM["World Geodetic System 1984",
            ELLIPSOID["WGS 84",6378137,298.257223563,
                LENGTHUNIT["metre",1]]]]],
    ABRIDGEDTRANSFORMATION["DHDN to WGS 84",
        METHOD["Position Vector transformation (geog2D domain)",
            ID["EPSG",9606]],
        PARAMETER["X-axis translation",598.1,ID["EPSG",8605]],
        PARAMETER["Y-axis translation",73.7,ID["EPSG",8606]],
        PARAMETER["Z-axis translation",418.2,ID["EPSG",8607]],
        PARAMETER["X-axis rotation",0.202,ID["EPSG",8608]],
        PARAMETER["Y-axis rotation",0.045,ID["EPSG",8609]],
        PARAMETER["Z-axis rotation",-2.455,ID["EPSG",8610]],
        PARAMETER["Scale difference",1.0000069,ID["EPSG",8611]]]]"""


def test_is_wkt():
    assert is_wkt(WGS84_GEOG) and is_wkt(UTM32N) and is_wkt(BOUND)
    assert not is_wkt("+proj=utm +zone=32") and not is_wkt("EPSG:4326")


def test_geogcrs_lowering():
    spec = wkt_to_proj(WGS84_GEOG)
    assert "+proj=longlat" in spec
    assert "+a=6378137.0" in spec and "+rf=298.257223563" in spec


def test_projcrs_matches_proj_string():
    spec = wkt_to_proj(UTM32N)
    got = compile_pipeline(spec)
    want = compile_pipeline("+proj=tmerc +lat_0=0 +lon_0=9 +k_0=0.9996 "
                            "+x_0=500000 +y_0=0 +ellps=WGS84")
    lon = np.array([5.0, 9.0, 12.5])
    lat = np.array([40.0, 0.0, 55.0])
    gx, gy, _, _ = got.fwd_deg(lon, lat)
    wx, wy, _, _ = want.fwd_deg(lon, lat)
    np.testing.assert_allclose(gx, wx, atol=1e-6)
    np.testing.assert_allclose(gy, wy, atol=1e-6)


def test_lcc2sp_matches_proj_string():
    got = compile_pipeline(wkt_to_proj(LCC_2SP))
    want = compile_pipeline(
        "+proj=lcc +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 "
        "+x_0=0 +y_0=0 +ellps=GRS80")
    lon = np.array([-120.0, -96.0, -75.0])
    lat = np.array([35.0, 23.0, 45.0])
    gx, gy, _, _ = got.fwd_deg(lon, lat)
    wx, wy, _, _ = want.fwd_deg(lon, lat)
    np.testing.assert_allclose(gx, wx, atol=1e-6)
    np.testing.assert_allclose(gy, wy, atol=1e-6)


def test_wkt1_projcs_units_and_remap():
    spec = wkt_to_proj(WKT1_PROJCS_FEET)
    assert "+to_meter=0.304800609601219" in spec
    got = compile_pipeline(spec)
    ftus = 0.304800609601219
    x0 = 2296583.333 * ftus  # WKT1 false origin is in the PROJCS unit
    y0 = 9842500.0 * ftus
    want = compile_pipeline(
        f"+proj=lcc +lat_0=29.6666666666667 +lon_0=-100.333333333333 "
        f"+lat_1=30.1166666666667 +lat_2=31.8833333333333 "
        f"+x_0={x0!r} +y_0={y0!r} +ellps=GRS80 +to_meter={ftus!r}")
    lon = np.array([-100.0, -98.5])
    lat = np.array([30.0, 31.0])
    gx, gy, _, _ = got.fwd_deg(lon, lat)
    wx, wy, _, _ = want.fwd_deg(lon, lat)
    # last-ulp difference between the WKT's literal +rf and the +ellps=GRS80
    # table constant; 1e-9 relative is sub-micrometre at these magnitudes
    np.testing.assert_allclose(gx, wx, rtol=1e-9)
    np.testing.assert_allclose(gy, wy, rtol=1e-9)


def test_boundcrs_towgs84():
    spec = wkt_to_proj(BOUND)
    assert "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.9" in spec.replace(
        "6.899999", "6.9")  # ppm from (1.0000069 - 1) * 1e6, float-fuzzy
    # end-to-end: the bound CRS to WGS84 matches the classic proj-string
    disp = compile_crs_to_crs(spec, "+proj=longlat +datum=WGS84")
    ref = compile_crs_to_crs(
        "+proj=longlat +ellps=bessel "
        "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7",
        "+proj=longlat +datum=WGS84")
    lon = np.array([10.0])
    lat = np.array([51.0])
    gx, gy, _, _ = disp.fwd_deg(lon, lat)
    wx, wy, _, _ = ref.fwd_deg(lon, lat)
    # scale-diff differs (6.9 vs 6.7 ppm) by design of the fixture; only
    # assert proximity at the metre level to prove the chain wiring
    assert abs(gx[0] - wx[0]) < 1e-4 and abs(gy[0] - wy[0]) < 1e-4


_ARCSEC_RAD = math.pi / (180.0 * 3600.0)
_KM = {"type": "LinearUnit", "name": "kilometre", "conversion_factor": 1000}
_RAD = {"type": "AngularUnit", "name": "radian", "conversion_factor": 1}
_PPM = {"type": "ScaleUnit", "name": "parts per million",
        "conversion_factor": 1e-06}
# one BOUND parameter each, written with an explicit unit or without an
# ID: (EPSG code, WKT PARAMETER, its PROJJSON twin's changed members)
_BOUND_SPELLINGS = {
    "km": ("8605", 'PARAMETER["X-axis translation",0.5981,'
           'LENGTHUNIT["kilometre",1000],ID["EPSG",8605]]',
           {"value": 0.5981, "unit": _KM}),
    "radian": ("8608", f'PARAMETER["X-axis rotation",{0.202 * _ARCSEC_RAD!r},'
               'ANGLEUNIT["radian",1],ID["EPSG",8608]]',
               {"value": 0.202 * _ARCSEC_RAD, "unit": _RAD}),
    "ppm": ("8611", 'PARAMETER["Scale difference",6.9,'
            'SCALEUNIT["parts per million",1E-06],ID["EPSG",8611]]',
            {"value": 6.9, "unit": _PPM}),
    "no-id": ("8606", 'PARAMETER["Y-axis translation",73.7]', {"id": None}),
}


@pytest.mark.parametrize("spellings", [["km"], ["radian"], ["ppm"],
                                       ["no-id"], list(_BOUND_SPELLINGS)],
                         ids=["km", "radian", "ppm", "no-id", "all"])
def test_boundcrs_parameter_units_and_names(spellings):
    """A BOUNDCRS parameter's unit is applied and a parameter without an
    ID is known by its name, the same in WKT and in PROJJSON."""
    import copy

    from proj_spark.sources.projjson import projjson_to_proj
    from tests.test_projjson import BOUND_ABRIDGED

    wkt = BOUND
    pj = copy.deepcopy(BOUND_ABRIDGED)
    for key in spellings:
        code, par, members = _BOUND_SPELLINGS[key]
        wkt = re.sub(rf'PARAMETER\["[^"]*",[-\d.]+,ID\["EPSG",{code}\]\]',
                     par, wkt)
        p = next(p for p in pj["transformation"]["parameters"]
                 if p["id"]["code"] == int(code))
        p.update(members)
    tail = wkt_to_proj(wkt).split("+towgs84=")[1]
    assert tail == projjson_to_proj(pj).split("+towgs84=")[1]
    np.testing.assert_allclose(
        [float(v) for v in tail.split(",")],
        [598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.9], atol=1e-6)


@pytest.mark.parametrize("unit,value,ppm", [
    ('SCALEUNIT["parts per million",1E-06]', 6.9, 6.9),  # ppm: kept
    ('SCALEUNIT["ppm",1E-06]', 0.3, 0.3),                # ppm by factor
    ('SCALEUNIT["unity",1]', 1.0000069, 6.9),            # (1 + ds*1e-6)
    ('SCALEUNIT["unity",1]', 6.9e-06, 6.9),              # unity -> ppm
    ('SCALEUNIT["percent",0.01]', 6.9e-04, 6.9),         # any unit: to unity
    (None, 1.0000069, 6.9),                              # abridged form
    (None, 6.9, 6.9),                                    # already ppm
    (None, 0.3, 0.3),                                    # outside the window
])
def test_boundcrs_scale_difference_rule(unit, value, ppm):
    par = (f'PARAMETER["Scale difference",{value!r},'
           + (f"{unit}," if unit else "") + 'ID["EPSG",8611]]')
    wkt = re.sub(r'PARAMETER\["Scale difference",[\d.]+,ID\["EPSG",8611\]\]',
                 par, BOUND)
    got = float(wkt_to_proj(wkt).split("+towgs84=")[1].split(",")[6])
    assert got == pytest.approx(ppm, abs=1e-6)


def test_crs_to_crs_accepts_wkt():
    p = compile_crs_to_crs(WGS84_GEOG, UTM32N)
    x, y, _, _ = p.fwd_deg(np.array([9.0]), np.array([0.0]))
    assert abs(x[0] - 500000.0) < 1e-6 and abs(y[0]) < 1e-6


def test_parse_handles_nesting_and_quotes():
    n = parse_wkt('GEOGCRS["with ""quoted"" name",'
                  'DATUM["d",ELLIPSOID["e",6378137,298.25,'
                  'LENGTHUNIT["metre",1]]],CS[ellipsoidal,2],'
                  'AXIS["lat",north],AXIS["lon",east]]')
    assert n.name == "GEOGCRS"
    assert n.str0() == 'with "quoted" name'
