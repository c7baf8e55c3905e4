"""Conformance of numpy kernels against PROJ's gie regression fixtures.

Fixtures are data-only extracts (tools/extract_gie.py) of
/root/reference/test/gie/*.gie — each point is (operation, direction,
tolerance, accept, expect). We assert the same tolerances the reference
asserts (50 nm for ellipsoidal tmerc, 75/40 um for Helmert, etc.), measuring
angular error as geodesic-ish metres so tolerances are comparable.
"""

from __future__ import annotations

import json
import math
import pathlib

import numpy as np
import pytest

from proj_spark.plans.pipeline import compile_pipeline

FIXDIR = pathlib.Path(__file__).parent / "fixtures" / "gie"
EARTH_R = 6378137.0

CASES = []
for f in sorted(FIXDIR.glob("*.json")):
    for block in json.loads(f.read_text()):
        CASES.append(block)


def _angular_err_m(lon1, lat1, lon2, lat2, radius=EARTH_R):
    """Small-angle geodesic distance between two lon/lat degrees, in the
    operation's own length units (gie computes proj_lpz_dist on the
    operation's ellipsoid, so +R=1 ops measure in unit-sphere 'metres')."""
    lat = math.radians((lat1 + lat2) / 2)
    dlon = abs(lon1 - lon2)
    if dlon > 180:
        dlon = 360 - dlon
    dx = math.radians(dlon) * math.cos(lat) * radius
    dy = math.radians(lat1 - lat2) * radius
    return math.hypot(dx, dy)


def _op_radius(pipe) -> float:
    for s in pipe.steps:
        a = getattr(s, "a", None)
        if a:
            return a
        base = getattr(s, "base", None)
        if base is not None and getattr(base, "a", None):
            return base.a
    return EARTH_R


# Known numerical-sensitivity relaxations live with the interactive gie
# runner (proj_spark/gie.py) so both harnesses share one map; see the
# comment there (krovak near-axis rounding, mpmath-proven).
from proj_spark.gie import KNOWN_SENSITIVE  # noqa: E402


@pytest.mark.parametrize(
    "block", CASES, ids=[f"{i}:{c['operation'][:60]}" for i, c in enumerate(CASES)]
)
def test_gie_block(block):
    pipe = compile_pipeline(block["operation"])
    for pt in block["points"]:
        accept = pt["accept"]
        expect = pt["expect"]
        tol = pt["tol"]
        for (op_sub, ax), relaxed in KNOWN_SENSITIVE.items():
            if op_sub in block["operation"] and accept[0] == ax:
                tol = max(tol, relaxed)
        inverse = pt["dir"] == "inverse"

        x = np.array([accept[0]])
        y = np.array([accept[1]])
        z = np.array([accept[2]]) if len(accept) > 2 else None
        t = np.array([accept[3]]) if len(accept) > 3 else None

        if inverse:
            rx, ry, rz, _ = pipe.inv_deg(x, y, z, t)
            out_angular = pipe.left == "rad"
        else:
            rx, ry, rz, _ = pipe.fwd_deg(x, y, z, t)
            out_angular = pipe.right == "rad"

        gx, gy = float(rx[0]), float(ry[0])
        ex, ey = expect[0], expect[1]
        if math.isnan(ex) or math.isnan(ey):
            # gie "expect NaN": error-in-band must propagate, not invent values
            assert math.isnan(gx) and math.isnan(gy), (
                f"expected NaN propagation for {block['operation']} accept={accept}"
            )
            continue
        assert np.isfinite(gx) and np.isfinite(gy), (
            f"NaN result for {block['operation']} accept={accept}"
        )
        if out_angular:
            err = _angular_err_m(gx, gy, ex, ey, _op_radius(pipe))
        else:
            err = math.hypot(gx - ex, gy - ey)
        assert err <= tol, (
            f"{block['operation']}\n dir={pt['dir']} accept={accept}\n"
            f" got=({gx!r}, {gy!r}) expect=({ex!r}, {ey!r}) err={err:g} tol={tol:g}"
        )
        if len(expect) > 2 and rz is not None:
            err_z = abs(float(rz[0]) - expect[2])
            assert err_z <= max(tol, 1e-4), (
                f"{block['operation']} z err={err_z:g} tol={tol:g}"
            )


def test_roundtrip_property():
    """fwd∘inv drift below 1e-9 deg for the flagship ops on a lat/lon grid."""
    specs = [
        "+proj=tmerc +ellps=GRS80",
        "+proj=utm +zone=32 +ellps=GRS80",
        "+proj=lcc +ellps=GRS80 +lat_1=0.5 +lat_2=2",
        "+proj=merc +ellps=GRS80",
        "+proj=webmerc +ellps=WGS84",
        "+proj=aea +ellps=GRS80 +lat_1=29.5 +lat_2=45.5",
        "+proj=leac +ellps=GRS80 +lat_1=30",
        "+proj=eqdc +ellps=GRS80 +lat_1=29.5 +lat_2=45.5",
        "+proj=bonne +ellps=GRS80 +lat_1=30",
        "+proj=bonne +R=6400000 +lat_1=30",
        "+proj=stere +ellps=GRS80 +lat_0=90 +lat_ts=70",
        "+proj=stere +ellps=GRS80 +lat_0=30",
        "+proj=stere +R=6400000 +lat_0=30",
        "+proj=ups +ellps=GRS80",
        "+proj=sterea +ellps=GRS80 +lat_0=52.15 +k_0=0.9999079",
        "+proj=laea +ellps=GRS80 +lat_0=45",
        "+proj=laea +R=6400000 +lat_0=45",
        "+proj=laea +ellps=GRS80 +lat_0=90",
        "+proj=gnom +R=6400000 +lat_0=40",
        "+proj=ortho +R=6400000 +lat_0=40",
        "+proj=ortho +ellps=GRS80 +lat_0=40",
        "+proj=aeqd +R=6400000 +lat_0=40",
        "+proj=aeqd +ellps=GRS80 +lat_0=90",
        "+proj=cea +ellps=GRS80 +lat_ts=30",
        "+proj=cass +ellps=GRS80 +lat_0=10",
        "+proj=cass +R=6400000",
        "+proj=eqc +a=6400000 +lat_ts=30",
        "+proj=mill +a=6400000",
        "+proj=sinu +ellps=GRS80",
        "+proj=sinu +R=6400000",
        "+proj=eck4 +a=6400000",
        "+proj=eck6 +a=6400000",
        "+proj=moll +a=6400000",
        "+proj=wag4 +a=6400000",
        "+proj=wag5 +a=6400000",
        "+proj=robin +a=6400000",
    ]
    rng = np.random.default_rng(42)
    lon = rng.uniform(-2.5, 2.5, 500) + 9.0  # near zone 32 meridian
    lat = rng.uniform(-80, 80, 500)
    for spec in specs:
        pipe = compile_pipeline(spec)
        x, y, _, _ = pipe.fwd_deg(lon, lat)
        lon2, lat2, _, _ = pipe.inv_deg(x, y)
        if "robin" in spec:
            tol = 2e-7   # float32 spline table (reference stores float)
        elif ("laea +ellps" in spec) or ("cea +ellps" in spec):
            tol = 3e-8   # authalic-latitude series truncation (pj_authlat)
        else:
            tol = 1e-9
        assert np.nanmax(np.abs(lon2 - lon)) < tol, spec
        assert np.nanmax(np.abs(lat2 - lat)) < tol, spec


def test_somerc_roundtrip_native_domain():
    """Swiss oblique Mercator round-trips on its national-grid domain (the
    inverse's fixed-point iteration is only contractive near lat_0, like
    the reference's NITER=6 loop, somerc.cpp)."""
    pipe = compile_pipeline("+proj=somerc +ellps=bessel +lat_0=46.95 +k_0=1")
    rng = np.random.default_rng(3)
    lon = rng.uniform(-7, 7, 300)
    lat = rng.uniform(40, 54, 300)
    x, y, _, _ = pipe.fwd_deg(lon, lat)
    lon2, lat2, _, _ = pipe.inv_deg(x, y)
    assert np.nanmax(np.abs(lon2 - lon)) < 1e-9
    assert np.nanmax(np.abs(lat2 - lat)) < 1e-9


def test_utm_auto_matches_fixed_zone():
    """Per-point zone selection equals the fixed-zone kernel in each zone."""
    auto = compile_pipeline("+proj=utm +ellps=GRS80")
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-80, 84, 2000)
    ax, ay, _, _ = auto.fwd_deg(lon, lat)
    from proj_spark.kernels.tmerc import utm_zone

    zones = utm_zone(np.radians(lon)).astype(int)
    for zone in np.unique(zones):
        sel = zones == zone
        south = lat[sel] < 0
        fixed_n = compile_pipeline(f"+proj=utm +zone={zone} +ellps=GRS80")
        fx, fy, _, _ = fixed_n.fwd_deg(lon[sel], lat[sel])
        fy = fy + np.where(south, 10000000.0, 0.0)
        np.testing.assert_allclose(ax[sel], fx, rtol=0, atol=1e-6)
        np.testing.assert_allclose(ay[sel], fy, rtol=0, atol=1e-6)
