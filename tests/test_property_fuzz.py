"""Property-based fuzzing (hypothesis) of the numerical cores and the CRS
input surface.

These don't pin values — the gie corpus does that — they pin INVARIANTS
over the whole input domain: inverse∘forward identity, geodesic triangle
closure, symmetry under endpoint swap, graceful NaN propagation, and
documented exception types for malformed CRS text.
Every property draws a fixed example set (``derandomize=True``), so a run
is reproducible.
"""

import json
import math
import pathlib

import numpy as np
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from proj_spark.kernels import karney as K
from proj_spark.plans.pipeline import (Pipeline, compile_crs_to_crs,
                                       compile_pipeline, crs_input,
                                       crs_registry_code)

WGS84 = K.geod_consts(6378137.0, 1 / 298.257223563)

lats = st.floats(-89.99, 89.99, allow_nan=False)
lons = st.floats(-179.99, 179.99, allow_nan=False)


@settings(max_examples=200, deadline=None, derandomize=True)
@given(lats, lons, lats, lons)
def test_geod_inverse_direct_closure(lat1, lon1, lat2, lon2):
    r = K.geod_inverse(WGS84, [lat1], [lon1], [lat2], [lon2])
    assert np.isfinite(r["s12"][0])
    d = K.geod_direct(WGS84, [lat1], [lon1], r["azi1"], r["s12"])
    # land back on the target (mm-level; antipodal worst case microns-off)
    km = 111.0
    assert abs(d["lat2"][0] - lat2) * km < 1e-6
    dlon = abs((d["lon2"][0] - lon2 + 180.0) % 360.0 - 180.0)
    assert dlon * km * max(math.cos(math.radians(lat2)), 1e-3) < 1e-5


@settings(max_examples=200, deadline=None, derandomize=True)
@given(lats, lons, lats, lons)
def test_geod_inverse_symmetry(lat1, lon1, lat2, lon2):
    a = K.geod_inverse(WGS84, [lat1], [lon1], [lat2], [lon2])
    b = K.geod_inverse(WGS84, [lat2], [lon2], [lat1], [lon1])
    assert abs(a["s12"][0] - b["s12"][0]) < 1e-6
    # forward azimuth of the reverse path is the back azimuth + 180; with
    # endpoints mirrored in the equator two equal-length geodesics exist
    # (GeographicLib documents this), so the swap may return the mirror one
    azi2 = [b["azi2"][0]] + ([180.0 - b["azi2"][0]] if lat1 == -lat2 else [])
    diffs = [(a["azi1"][0] - z + 180.0) % 360.0 - 180.0 for z in azi2]
    assert any(abs(abs(d) - 180.0) < 1e-6 for d in diffs) or a["s12"][0] < 1.0


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.floats(-80, 80), st.floats(-170, 170))
def test_utm_roundtrip_domain(lat, lon):
    zone = int((lon + 180) // 6) + 1
    p = compile_pipeline(f"+proj=utm +zone={zone} +ellps=WGS84")
    X, Y, _, _ = p.fwd_deg(np.array([lon]), np.array([lat]))
    lo, la, _, _ = p.inv_deg(X, Y)
    assert abs(lo[0] - lon) < 1e-9 and abs(la[0] - lat) < 1e-9


@settings(max_examples=100, deadline=None, derandomize=True)
@given(st.floats(-85, 85), st.floats(-179.9, 179.9))
def test_webmerc_nan_propagation_and_roundtrip(lat, lon):
    p = compile_pipeline("+proj=webmerc +ellps=WGS84")
    X, Y, _, _ = p.fwd_deg(np.array([lon, np.nan]), np.array([lat, lat]))
    assert np.isnan(X[1]) and np.isnan(Y[1])  # in-band error propagation
    lo, la, _, _ = p.inv_deg(X[:1], Y[:1])
    assert abs(lo[0] - lon) < 1e-9 and abs(la[0] - lat) < 1e-9


@settings(max_examples=50, deadline=None, derandomize=True)
@given(st.lists(st.tuples(lons, st.floats(-80, 80)),
                min_size=3, max_size=8, unique=True))
def test_polygon_area_orientation_antisymmetry(ring):
    lons_ = [p[0] for p in ring]
    lats_ = [p[1] for p in ring]
    # Near-antipodal vertex pairs admit two (nearly) equal-length geodesics;
    # reversing traversal can legitimately pick the mirror path, so the edge
    # itself changes and antisymmetry does not apply (same ambiguity exists
    # in GeographicLib).  Exclude edges within 150 km of half-circumference.
    edges = K.geod_inverse(WGS84,
                           [p[1] for p in ring], lons_,
                           [ring[(i + 1) % len(ring)][1] for i in range(len(ring))],
                           [ring[(i + 1) % len(ring)][0] for i in range(len(ring))])
    assume(float(np.max(edges["s12"])) < 19_850_000.0)
    a_fwd, per_fwd = K.geod_polygon_area(WGS84, lons_, lats_)
    a_rev, per_rev = K.geod_polygon_area(WGS84, lons_[::-1], lats_[::-1])
    area0 = 4 * math.pi * K.authalic_c2(WGS84)
    # reversing orientation flips the sign (mod pole-wrap normalization)
    flipped = min(abs(a_fwd + a_rev), abs(abs(a_fwd + a_rev) - area0))
    assert flipped < max(1e-3 * max(abs(a_fwd), 1.0), 1.0)
    assert abs(per_fwd - per_rev) < 1e-3


_CRS_PREFIXES = [
    "EPSG:", "ESRI:", "IGNF:", "NKG:", "IAU_2015:", "NRCAN:",
    "urn:ogc:def:crs:EPSG::", "urn:ogc:def:coordinateOperation:EPSG::",
    "{", "GEOGCRS[", 'GEOGCS["x",DATUM["d",SPHEROID["s",', "+proj=merc +a=",
    '{"type":"BoundCRS","source_crs":', "BOUNDCRS[SOURCECRS[",
]


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.sampled_from(_CRS_PREFIXES), st.text(max_size=30))
@example('GEOGCS["x",DATUM["d",SPHEROID["s",',
         '0,0]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]')
@example("{", '"type":"GeographicCRS","datum":1}')
@example("+proj=merc +a=", "1 +rf=0.5")
@example("GEOGCRS[", '"x",DATUM["d",ELLIPSOID["e",6378137,298.257223563]],'
         'CS[ellipsoidal,2],AXIS["lat",north],AXIS["lon",east],'
         'ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",1e400]]')
@example("{", '"type":"GeographicCRS",'
         '"datum_ensemble":{"name":"y","members":3}}')
@example("GEODCRS[", '"x",DATUM["d"],CS[Cartesian,3]]')
@example("PROJCRS[", '"p",BASEGEOGCRS["g",DATUM["d",ELLIPSOID["e",6378137,'
         '298.25]]],CONVERSION["c",METHOD["m",ID["EPSG",1e400]]]]')
def test_crs_text_compiles_or_raises_a_documented_error(prefix, tail):
    """Malformed CRS text never escapes as a traceback: compile_crs_to_crs
    returns a Pipeline and crs_registry_code a code or None, or each
    raises one of the types the CLI reports."""
    text = prefix + tail
    try:
        assert isinstance(compile_crs_to_crs(text, "EPSG:4326"), Pipeline)
    except (ValueError, KeyError, NotImplementedError):
        pass
    try:
        code = crs_registry_code(crs_input(text))
        assert code is None or isinstance(code, str)
    except (ValueError, KeyError, NotImplementedError):
        pass


def _single_op_points():
    """{operation: its first three forward (accept, expect) pairs, cycled}
    for every gie-fixture operation that is not a pipeline."""
    ops: dict = {}
    for f in sorted((pathlib.Path(__file__).parent / "fixtures" / "gie")
                    .glob("*.json")):
        for block in json.loads(f.read_text()):
            if "step" in block["operation"].replace("+", " ").split():
                continue
            ops.setdefault(block["operation"], []).extend(
                (p["accept"], p["expect"]) for p in block["points"]
                if p.get("dir", "forward") == "forward"
                and isinstance(p.get("expect"), list))
    return {op: (pts * 3)[:3] for op, pts in sorted(ops.items()) if pts}


_SINGLE_OPS = _single_op_points()
_DIRECTION_FLAGS = ("+step {} +inv", "+step {} +omit_fwd",
                    "+step {} +omit_inv", "+inv +step {}")


@settings(max_examples=200, deadline=2000, derandomize=True)
@given(st.sampled_from(sorted(_SINGLE_OPS)))
@example("+proj=push +v_3")
@example("+proj=pop +v_3")
def test_direction_flags_compile_and_run_or_raise_a_documented_error(op):
    """An operation under +inv, +omit_fwd, +omit_inv or a pipeline-wide
    +inv compiles and runs both ways on its own fixture points, or raises
    one of the types the CLI reports; never a TypeError."""
    # the op's fixture inputs, then its outputs, as four coordinate lanes
    sides = [[np.array([(list(pt[side]) + [0.0, 0.0])[i]
                        for pt in _SINGLE_OPS[op]]) for i in range(4)]
             for side in (0, 1)]
    for flags in _DIRECTION_FLAGS:
        try:
            p = compile_pipeline("+proj=pipeline " + flags.format(op))
            for cols in sides:
                p.fwd_deg(*cols)
                p.inv_deg(*cols)
        except (ValueError, KeyError, NotImplementedError):
            pass
