"""PROJJSON CRS input (sources.projjson) — parse + lower to proj-strings
and verify numerically against the equivalent proj-string pipelines and
against the WKT reader on the same CRSs (reference
schemas/v0.7/projjson.schema.json shapes)."""

import json

import numpy as np
import pytest

from proj_spark.plans.pipeline import compile_crs_to_crs, compile_pipeline
from proj_spark.sources.projjson import is_projjson, projjson_to_proj

WGS84_GEOG = {
    "$schema": "https://proj.org/schemas/v0.7/projjson.schema.json",
    "type": "GeographicCRS",
    "name": "WGS 84",
    "datum": {
        "type": "GeodeticReferenceFrame",
        "name": "World Geodetic System 1984",
        "ellipsoid": {"name": "WGS 84", "semi_major_axis": 6378137,
                      "inverse_flattening": 298.257223563},
    },
    "coordinate_system": {
        "subtype": "ellipsoidal",
        "axis": [
            {"name": "Geodetic latitude", "abbreviation": "Lat",
             "direction": "north", "unit": "degree"},
            {"name": "Geodetic longitude", "abbreviation": "Lon",
             "direction": "east", "unit": "degree"},
        ],
    },
    "id": {"authority": "EPSG", "code": 4326},
}

UTM32N = {
    "type": "ProjectedCRS",
    "name": "WGS 84 / UTM zone 32N",
    "base_crs": WGS84_GEOG,
    "conversion": {
        "name": "UTM zone 32N",
        "method": {"name": "Transverse Mercator",
                   "id": {"authority": "EPSG", "code": 9807}},
        "parameters": [
            {"name": "Latitude of natural origin", "value": 0,
             "unit": "degree", "id": {"authority": "EPSG", "code": 8801}},
            {"name": "Longitude of natural origin", "value": 9,
             "unit": "degree", "id": {"authority": "EPSG", "code": 8802}},
            {"name": "Scale factor at natural origin", "value": 0.9996,
             "unit": "unity", "id": {"authority": "EPSG", "code": 8805}},
            {"name": "False easting", "value": 500000, "unit": "metre",
             "id": {"authority": "EPSG", "code": 8806}},
            {"name": "False northing", "value": 0, "unit": "metre",
             "id": {"authority": "EPSG", "code": 8807}},
        ],
    },
    "coordinate_system": {
        "subtype": "Cartesian",
        "axis": [
            {"name": "Easting", "abbreviation": "E", "direction": "east",
             "unit": "metre"},
            {"name": "Northing", "abbreviation": "N", "direction": "north",
             "unit": "metre"},
        ],
    },
    "id": {"authority": "EPSG", "code": 32632},
}

# DHDN-style bound CRS, abridged (1 + ds*1e-6) unity spelling
BOUND_ABRIDGED = {
    "type": "BoundCRS",
    "source_crs": {
        "type": "GeographicCRS",
        "name": "DHDN-ish",
        "datum": {
            "type": "GeodeticReferenceFrame", "name": "DHDN",
            "ellipsoid": {"name": "Bessel 1841",
                          "semi_major_axis": 6377397.155,
                          "inverse_flattening": 299.1528128},
        },
    },
    "target_crs": WGS84_GEOG,
    "transformation": {
        "name": "to WGS84", "method": {"name": "Position Vector transformation"},
        "parameters": [
            {"name": "X-axis translation", "value": 598.1, "unit": "metre",
             "id": {"authority": "EPSG", "code": 8605}},
            {"name": "Y-axis translation", "value": 73.7, "unit": "metre",
             "id": {"authority": "EPSG", "code": 8606}},
            {"name": "Z-axis translation", "value": 418.2, "unit": "metre",
             "id": {"authority": "EPSG", "code": 8607}},
            {"name": "X-axis rotation", "value": 0.202,
             "unit": {"type": "AngularUnit", "name": "arc-second",
                      "conversion_factor": 4.84813681109536e-06},
             "id": {"authority": "EPSG", "code": 8608}},
            {"name": "Y-axis rotation", "value": 0.045,
             "unit": {"type": "AngularUnit", "name": "arc-second",
                      "conversion_factor": 4.84813681109536e-06},
             "id": {"authority": "EPSG", "code": 8609}},
            {"name": "Z-axis rotation", "value": -2.455,
             "unit": {"type": "AngularUnit", "name": "arc-second",
                      "conversion_factor": 4.84813681109536e-06},
             "id": {"authority": "EPSG", "code": 8610}},
            {"name": "Scale difference", "value": 1.0000069, "unit": "unity",
             "id": {"authority": "EPSG", "code": 8611}},
        ],
    },
}


def test_is_projjson():
    assert is_projjson(json.dumps(WGS84_GEOG))
    assert is_projjson('  {"type": "GeographicCRS"}')
    assert not is_projjson("+proj=utm +zone=32")
    assert not is_projjson('GEOGCRS["WGS 84"]')


def test_geographic_lowering():
    spec = projjson_to_proj(json.dumps(WGS84_GEOG))
    assert "+proj=longlat" in spec
    assert "+a=6378137.0" in spec and "+rf=298.257223563" in spec


def test_projected_matches_proj_string():
    spec = projjson_to_proj(UTM32N)
    got = compile_pipeline(spec)
    want = compile_pipeline("+proj=tmerc +lat_0=0 +lon_0=9 +k_0=0.9996 "
                            "+x_0=500000 +y_0=0 +ellps=WGS84")
    lon = np.array([5.0, 9.0, 12.5])
    lat = np.array([40.0, 0.0, 55.0])
    gx, gy, _, _ = got.fwd_deg(lon, lat)
    wx, wy, _, _ = want.fwd_deg(lon, lat)
    np.testing.assert_allclose(gx, wx, atol=1e-6)
    np.testing.assert_allclose(gy, wy, atol=1e-6)


def test_matches_wkt_reader_on_same_crs():
    """The WKT fixture from test_wkt and the PROJJSON spelling of the
    same UTM 32N CRS lower to numerically identical pipelines."""
    from tests.test_wkt import UTM32N as UTM32N_WKT
    from proj_spark.sources.wkt import wkt_to_proj

    a = compile_pipeline(wkt_to_proj(UTM32N_WKT))
    b = compile_pipeline(projjson_to_proj(UTM32N))
    lon = np.array([6.0, 11.9])
    lat = np.array([-30.0, 70.0])
    ax, ay, _, _ = a.fwd_deg(lon, lat)
    bx, by, _, _ = b.fwd_deg(lon, lat)
    np.testing.assert_allclose(ax, bx, atol=1e-9)
    np.testing.assert_allclose(ay, by, atol=1e-9)


def test_geocentric():
    j = {
        "type": "GeodeticCRS", "name": "WGS 84 geocentric",
        "datum": WGS84_GEOG["datum"],
        "coordinate_system": {
            "subtype": "Cartesian",
            "axis": [{"name": "X", "direction": "geocentricX",
                      "unit": "metre"},
                     {"name": "Y", "direction": "geocentricY",
                      "unit": "metre"},
                     {"name": "Z", "direction": "geocentricZ",
                      "unit": "metre"}],
        },
    }
    spec = projjson_to_proj(j)
    assert "+proj=geocent" in spec


def test_bound_abridged_scale_and_cf_sign():
    spec = projjson_to_proj(BOUND_ABRIDGED)
    assert "+towgs84=" in spec
    nums = [float(v) for v in spec.split("+towgs84=")[1].split()[0].split(",")]
    np.testing.assert_allclose(
        nums, [598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.9], atol=1e-6)
    # coordinate-frame spelling of the same rotations flips sign into the
    # position-vector +towgs84 convention
    cf = json.loads(json.dumps(BOUND_ABRIDGED))
    cf["transformation"]["method"]["name"] = "Coordinate Frame rotation"
    for p in cf["transformation"]["parameters"]:
        if "rotation" in p["name"]:
            p["value"] = -p["value"]
    spec2 = projjson_to_proj(cf)
    nums2 = [float(v) for v in
             spec2.split("+towgs84=")[1].split()[0].split(",")]
    np.testing.assert_allclose(nums2, nums, atol=1e-12)


def test_bound_ppm_scale_unit():
    """Explicit parts-per-million scale (non-abridged producer) reads
    as plain ppm — no (1 + ds*1e-6) decoding."""
    j = json.loads(json.dumps(BOUND_ABRIDGED))
    j["transformation"]["parameters"][-1] = {
        "name": "Scale difference", "value": 6.9,
        "unit": {"type": "ScaleUnit", "name": "parts per million",
                 "conversion_factor": 1e-06},
        "id": {"authority": "EPSG", "code": 8611},
    }
    nums = [float(v) for v in
            projjson_to_proj(j).split("+towgs84=")[1].split()[0].split(",")]
    assert abs(nums[6] - 6.9) < 1e-12


def test_axis_unit_to_meter():
    j = json.loads(json.dumps(UTM32N))
    ftus = 0.304800609601219
    for ax in j["coordinate_system"]["axis"]:
        ax["unit"] = {"type": "LinearUnit", "name": "US survey foot",
                      "conversion_factor": ftus}
    spec = projjson_to_proj(j)
    assert f"+to_meter={ftus!r}" in spec


def test_compound_by_epsg_id():
    j = {
        "type": "CompoundCRS", "name": "WGS 84 + EGM96 height",
        "components": [
            WGS84_GEOG,
            {"type": "VerticalCRS", "name": "EGM96 height",
             "datum": {"type": "VerticalReferenceFrame",
                       "name": "EGM96 geoid"},
             "id": {"authority": "EPSG", "code": 5773}},
        ],
    }
    spec = projjson_to_proj(j)
    assert "+geoidgrids=" in spec and "@egm96_15.gtx" in spec


def test_bound_over_compound_source():
    """A BoundCRS whose source is a CompoundCRS keeps both the geoid
    grids and the +towgs84 of its transformation."""
    j = json.loads(json.dumps(BOUND_ABRIDGED))
    j["source_crs"] = {
        "type": "CompoundCRS", "name": "DHDN-ish + EGM96 height",
        "components": [BOUND_ABRIDGED["source_crs"],
                       {"type": "VerticalCRS", "name": "EGM96 height",
                        "id": {"authority": "EPSG", "code": 5773}}],
    }
    spec = projjson_to_proj(j)
    assert (" +geoidgrids=@us_nga_egm96_15.tif,@egm96_15.gtx,@WW15MGH.GRD"
            " +towgs84=598.1,") in spec


def test_vertical_only_raises():
    with pytest.raises(NotImplementedError):
        projjson_to_proj({"type": "VerticalCRS", "name": "x"})


def test_crs_to_crs_accepts_projjson():
    p = compile_crs_to_crs(json.dumps(WGS84_GEOG), json.dumps(UTM32N))
    x, y, _, _ = p.fwd_deg(np.array([9.0]), np.array([0.0]))
    assert abs(x[0] - 500000.0) < 1e-6 and abs(y[0]) < 1e-6


def test_prime_meridian_and_sphere():
    j = {
        "type": "GeographicCRS", "name": "Paris-sphere",
        "datum": {
            "type": "GeodeticReferenceFrame", "name": "d",
            "ellipsoid": {"name": "sphere", "radius": 6370997.0},
        },
        "prime_meridian": {
            "name": "Paris",
            "longitude": {"value": 2.5969213, "unit": {
                "type": "AngularUnit", "name": "grad",
                "conversion_factor": 0.0157079632679489}},
        },
    }
    spec = projjson_to_proj(j)
    assert "+R=6370997.0" in spec
    # 2.5969213 grad * 0.9 = 2.33722917 deg (exact grad identification)
    assert "+pm=2.33722917" in spec
