"""Conformance of numpy kernels against PROJ's gie regression fixtures.

Fixtures are data-only extracts (tools/extract_gie.py) of
/root/reference/test/gie/*.gie — each point is (operation, direction,
tolerance, accept, expect). Each point goes through the gie runner's own
check (proj_spark.gie.run_point), so the reference's tolerances (50 nm for
ellipsoidal tmerc, 75/40 um for Helmert, etc.) apply as gie.cpp applies
them: angular error in metres on the operation's ellipsoid, z folded into
one distance, and unset lanes of a 2-D accept zero-filled.
"""

from __future__ import annotations

import json
import pathlib

import numpy as np
import pytest

from proj_spark.gie import adjusted_tolerance, run_point
from proj_spark.plans.pipeline import compile_pipeline

FIXDIR = pathlib.Path(__file__).parent / "fixtures" / "gie"

CASES = []
for f in sorted(FIXDIR.glob("*.json")):
    for block in json.loads(f.read_text()):
        CASES.append(block)


@pytest.mark.parametrize(
    "block", CASES, ids=[f"{i}:{c['operation'][:60]}" for i, c in enumerate(CASES)]
)
def test_gie_block(block):
    op = block["operation"]
    pipe = compile_pipeline(op)
    for pt in block["points"]:
        ok, detail = run_point(pipe, pt["accept"], pt["expect"],
                               adjusted_tolerance(op, pt["accept"], pt["tol"]),
                               pt["dir"] == "inverse")
        assert ok, f"{op}\n dir={pt['dir']} accept={pt['accept']}: {detail}"


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
