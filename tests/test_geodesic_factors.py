"""Vincenty geodesic + proj_factors-analogue tests."""

from __future__ import annotations

import math

import numpy as np

from proj_spark.crs import ELLIPSOIDS
from proj_spark.kernels.geodesic import geod_inverse, setup_vincenty
from proj_spark.plans.factors import factors

C = setup_vincenty(ELLIPSOIDS["WGS84"])


def test_inverse_known_baseline():
    # Flinders Peak <-> Buninyong: the classic Vincenty test pair
    # (published in Vincenty 1975 / Geoscience Australia): 54972.271 m
    s12, a1, a2, ok = geod_inverse(
        np.array([144.42486788889]), np.array([-37.95103341667]),
        np.array([143.92649552778]), np.array([-37.65282113889]), C)
    assert ok.all()
    assert abs(s12[0] - 54972.271) < 0.01
    assert abs(a1[0] - (360 - 52.869444)) % 360 < 0.01 or abs(a1[0] + 52.869) < 0.5


def test_inverse_matches_haversine_on_sphere():
    from proj_spark.crs import Ellipsoid

    S = setup_vincenty(Ellipsoid.sphere(6371000.0))
    lon1, lat1, lon2, lat2 = 10.0, 50.0, 11.0, 51.0
    s12, _, _, ok = geod_inverse(
        np.array([lon1]), np.array([lat1]), np.array([lon2]), np.array([lat2]), S)
    hav = 2 * 6371000.0 * math.asin(math.sqrt(
        math.sin(math.radians((lat2 - lat1) / 2)) ** 2
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
        * math.sin(math.radians((lon2 - lon1) / 2)) ** 2))
    assert ok.all() and abs(s12[0] - hav) < 1e-6


def test_factors_mercator():
    """Mercator: h == k == sec(phi)-ish (conformal => omega ~ 0, a == b)."""
    out = factors("+proj=merc +ellps=WGS84", np.array([10.0]), np.array([45.0]))
    es = ELLIPSOIDS["WGS84"].es
    sin45 = math.sin(math.radians(45))
    expected_k = 1.0 / math.cos(math.radians(45)) * math.sqrt(1 - es * sin45 * sin45)
    assert abs(out["k"][0] - expected_k) < 1e-6
    assert abs(out["h"][0] - out["k"][0]) < 1e-6   # conformal
    assert abs(out["omega"][0]) < 1e-4
    assert abs(out["conv"][0]) < 1e-6


def test_factors_cea_equal_area():
    out = factors("+proj=cea +ellps=WGS84", np.array([5.0]), np.array([30.0]))
    assert abs(out["s"][0] - 1.0) < 1e-6  # equal-area: areal scale 1


def test_factors_tmerc_convergence():
    """tmerc meridian convergence ~ sin(phi) * dlam."""
    out = factors("+proj=tmerc +ellps=WGS84", np.array([3.0]), np.array([50.0]))
    approx = math.degrees(math.atan(math.tan(math.radians(3.0)) * math.sin(math.radians(50.0))))
    assert abs(out["conv"][0] - approx) < 0.01
