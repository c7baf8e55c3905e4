"""Per-point candidate-operation dispatch (plans.dispatch) vs the
reference's proj_trans alternative-operation semantics (4D_api.cpp
:217-360 selection, :421-535 retry + gridless fallback)."""

import numpy as np
import pytest

from proj_spark.plans.dispatch import Candidate, CandidateDispatch, candidate
from proj_spark.plans.pipeline import compile_crs_to_crs, compile_pipeline
from proj_spark.sources.ntv2 import synth_grid, write_gsb


@pytest.fixture(scope="module")
def grid_path(tmp_path_factory):
    # synth grid covers lon [0,10], lat [40,45]
    g = synth_grid(west_deg=0.0, south_deg=40.0, res_deg=0.5,
                   width=21, height=11, name="DISP")
    p = tmp_path_factory.mktemp("disp") / "disp.gsb"
    write_gsb(str(p), [g])
    return str(p)


def test_bbox_dispatch_retry_and_fallback(grid_path):
    """The reference's ntv2_0.gsb example (4D_api.cpp:431-437): a point
    inside the grid candidate's area-of-use bbox but outside the actual
    grid gets an invalid result, is retried, and lands on the Helmert-tier
    fallback. Points outside the bbox skip the grid candidate entirely."""
    disp = CandidateDispatch([
        # area-of-use deliberately LARGER than the grid extent
        candidate(f"+proj=hgridshift +grids={grid_path} +ellps=GRS80",
                  src_bbox=(-5.0, 35.0, 15.0, 55.0), accuracy=0.05,
                  name="grid"),
        candidate("+proj=geogoffset +dlon=3600 +ellps=GRS80",
                  accuracy=2.0, name="helmert-tier"),
    ])
    #         in-grid        in-bbox-not-grid   out-of-bbox
    lon = np.array([5.0,     -3.0,              120.0])
    lat = np.array([42.0,    50.0,              10.0])
    x, y, _, _ = disp.fwd_deg(lon, lat)
    # in-grid point: grid shift applied (value != +1 deg offset)
    direct = compile_pipeline(
        f"+proj=hgridshift +grids={grid_path} +ellps=GRS80")
    gx, gy, _, _ = direct.fwd_deg(lon[:1], lat[:1])
    assert np.isclose(x[0], gx[0]) and np.isclose(y[0], gy[0])
    assert abs(x[0] - 5.0) < 0.01 and abs(x[0] - 5.0) > 0.0  # real shift
    # retry case: geogoffset +dlon=3600 arcsec == +1 degree
    assert np.isclose(x[1], -2.0) and np.isclose(y[1], 50.0)
    # out-of-bbox case: fallback candidate directly
    assert np.isclose(x[2], 121.0) and np.isclose(y[2], 10.0)


def test_ranking_accuracy_then_area():
    """Better accuracy wins; equal accuracy -> smaller pseudo-area wins;
    unknown accuracy (<0) ranks after every known one."""
    mk = lambda dlon, **kw: candidate(
        f"+proj=geogoffset +dlon={dlon} +ellps=GRS80", **kw)
    disp = CandidateDispatch([
        mk(7200, src_bbox=(-180, -90, 180, 90), accuracy=-1.0),   # unknown
        mk(3600, src_bbox=(-20, -20, 20, 20), accuracy=1.0),      # coarse
        mk(1800, src_bbox=(-10, -10, 10, 10), accuracy=1.0),      # finer area
        mk(900, src_bbox=(-5, -5, 5, 5), accuracy=5.0),           # worse acc
    ])
    lon = np.array([0.0, 15.0, 60.0])
    lat = np.array([0.0, 15.0, 0.0])
    x, _, _, _ = disp.fwd_deg(lon, lat)
    assert np.isclose(x[0], 0.5)   # smallest-area among accuracy=1.0
    assert np.isclose(x[1], 16.0)  # only the coarse 1.0-acc bbox matches
    assert np.isclose(x[2], 62.0)  # only the unknown-accuracy world op


def test_no_gridless_candidate_yields_nan(grid_path):
    disp = CandidateDispatch([
        candidate(f"+proj=hgridshift +grids={grid_path} +ellps=GRS80",
                  src_bbox=(0.0, 40.0, 10.0, 45.0), accuracy=0.05),
    ])
    x, y, _, _ = disp.fwd_deg(np.array([120.0]), np.array([10.0]))
    assert np.isnan(x[0]) and np.isnan(y[0])


def test_inverse_uses_dst_bbox():
    disp = CandidateDispatch([
        candidate("+proj=geogoffset +dlon=3600 +ellps=GRS80",
                  dst_bbox=(-10, -10, 10, 10), accuracy=1.0),
        candidate("+proj=geogoffset +dlon=-3600 +ellps=GRS80",
                  accuracy=2.0),
    ])
    # inverse of +1deg offset: x-1; point (5,5) in dst bbox -> first op
    x, _, _, _ = disp.inv_deg(np.array([5.0, 50.0]), np.array([5.0, 5.0]))
    assert np.isclose(x[0], 4.0)
    assert np.isclose(x[1], 51.0)  # second candidate (inverse of -1deg)


def test_crs_to_crs_dispatch_mixed_region(grid_path):
    """cs2cs-style: same CRS pair, two datum-op candidates (regional grid
    vs global Helmert); a mixed-region point set splits per point."""
    src = "+proj=latlong +ellps=GRS80"
    dst = "+proj=latlong +datum=WGS84"
    disp = CandidateDispatch([
        Candidate(compile_crs_to_crs(f"{src} +nadgrids={grid_path}", dst),
                  src_bbox=(-5.0, 35.0, 15.0, 55.0), accuracy=0.05,
                  needs_grids=True),
        Candidate(compile_crs_to_crs(f"{src} +towgs84=100,0,0", dst),
                  accuracy=2.0),
    ])
    lon = np.array([5.0, 120.0])
    lat = np.array([42.0, 10.0])
    x, y, _, _ = disp.fwd_deg(lon, lat)
    ref_grid = compile_pipeline(
        f"+proj=hgridshift +grids={grid_path} +ellps=GRS80")
    gx, gy, _, _ = ref_grid.fwd_deg(lon[:1], lat[:1])
    assert np.isclose(x[0], gx[0], atol=1e-9)
    # towgs84 100m x-offset at lat 10: roughly +100m/(111km*cos10) deg shift
    assert 120.0 - x[1] > 1e-4 and abs(y[1] - 10.0) < 1e-3
    assert np.isfinite(x).all()


# ------------------------------------------------- registry-driven lists

def test_epsg_registry_candidates_ed50():
    """ED50 (EPSG:4230) -> WGS84: the registry yields regional Helmert
    candidates with bbox + accuracy; per-point dispatch picks regionally
    and falls back to ballpark outside every area of use."""
    from proj_spark.sources.epsg_ops import (candidate_operations,
                                             crs_to_crs_epsg_dispatch)

    cands = candidate_operations("EPSG:4230", "EPSG:4326")
    assert len(cands) > 5
    assert cands[-1].name == "ballpark"
    real = [c for c in cands if c.name != "ballpark"]
    assert all(c.src_bbox is not None for c in real)
    assert all(c.accuracy > 0 for c in real)

    disp = crs_to_crs_epsg_dispatch("EPSG:4230", "EPSG:4326")
    lon = np.array([-3.7, -155.0])
    lat = np.array([40.4, 20.0])
    x, y, _, _ = disp.fwd_deg(lon, lat)
    # Madrid: ED50->WGS84 shift is ~ -4.4"/-4.2" (about 100-130 m SW)
    assert -0.0020 < x[0] - lon[0] < -0.0008
    assert -0.0020 < y[0] - lat[0] < -0.0008
    # Hawaii: outside every ED50 area of use -> ballpark no-op
    assert x[1] == lon[1] and y[1] == lat[1]


def test_epsg_registry_helmert_parity_dhdn():
    """EPSG:1777 (DHDN->WGS84, position vector 598.1,73.7,418.2,
    0.202,0.045,-2.455,6.7) must match the engine's own +towgs84 chain
    on a German point at sub-mm level."""
    from proj_spark.plans.pipeline import compile_crs_to_crs
    from proj_spark.sources.epsg_ops import candidate_operations

    cands = candidate_operations("EPSG:4314", "EPSG:4326")
    op = next(c for c in cands if "EPSG:1777" in c.name)
    lon = np.array([9.0, 13.4])
    lat = np.array([51.0, 52.5])
    gx, gy, _, _ = op.pipeline.fwd_deg(lon, lat)
    ref = compile_crs_to_crs(
        "+proj=latlong +ellps=bessel "
        "+towgs84=598.1,73.7,418.2,0.202,0.045,-2.455,6.7",
        "+proj=latlong +datum=WGS84")
    wx, wy, _, _ = ref.fwd_deg(lon, lat)
    np.testing.assert_allclose(gx, wx, atol=1e-9)
    np.testing.assert_allclose(gy, wy, atol=1e-9)


def test_epsg_registry_grid_ops_skipped_when_missing():
    """NAD27->WGS84 is grid-dominated in the registry (NADCON/NTv2);
    without the grid files those candidates are dropped (reference
    skipNonInstantiable) and the dispatch still resolves every point via
    the remaining Helmert/ballpark tiers."""
    from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

    disp = crs_to_crs_epsg_dispatch("EPSG:4267", "EPSG:4326")
    assert all(not c.needs_grids for c in disp.candidates)
    x, y, _, _ = disp.fwd_deg(np.array([-100.0]), np.array([40.0]))
    assert np.isfinite(x[0]) and np.isfinite(y[0])


def test_epsg_registry_coordinate_frame_sign():
    """A 9607 (coordinate frame) row must produce the same result as the
    equivalent position-vector parameters with negated rotations
    (EPSG:1309 DHDN->ETRS89: -1.04,-0.35,3.08 CF == 1.04,0.35,-3.08 PV).
    1309 is superseded by 1776 so it no longer appears in the ranked
    candidate list (round-5 discardSuperseded); the BY-CODE surface still
    resolves it, as in the reference."""
    from proj_spark.plans.pipeline import compile_crs_to_crs, compile_pipeline
    from proj_spark.sources.epsg_ops import operation_by_urn

    spec, meta = operation_by_urn("1309")
    pipe = compile_pipeline(spec)
    lon = np.array([10.0])
    lat = np.array([50.0])
    gx, gy, _, _ = pipe.fwd_deg(lon, lat)
    ref = compile_crs_to_crs(
        "+proj=latlong +ellps=bessel "
        "+towgs84=582.0,105.0,414.0,1.04,0.35,-3.08,8.3",
        "+proj=latlong +ellps=GRS80")
    wx, wy, _, _ = ref.fwd_deg(lon, lat)
    np.testing.assert_allclose(gx, wx, atol=1e-9)
    np.testing.assert_allclose(gy, wy, atol=1e-9)


def test_epsg_registry_kinematic_itrf2014_gda2020():
    """ITRF2014 (EPSG:9000) -> GDA2020 (EPSG:7844) resolves to the
    time-dependent coordinate-frame row EPSG:8049 (method 1056, published
    between the geocentric CRSs 7789->7842 — the datum bridge) and matches
    the reference's kinematic anchor (test/gie/GDA.gie:66-75, tol 40 um)
    at coordinate epoch 2018.0."""
    from proj_spark.sources.epsg_ops import candidate_operations
    from proj_spark.plans.pipeline import compile_pipeline

    cands = candidate_operations("EPSG:9000", "EPSG:7844")
    op = next(c for c in cands if "EPSG:8049" in c.name)
    assert op.meta["method"] == "1056"
    # rates: mas/yr registry columns -> arcsec/yr proj params
    assert abs(op.meta["drx"] - 0.00150379) < 1e-12
    assert abs(op.meta["dry"] - 0.00118346) < 1e-12
    assert abs(op.meta["drz"] - 0.00120716) < 1e-12
    assert op.meta["t_epoch"] == 2020.0

    # GDA.gie geocentric anchor, run through the full geographic pipeline
    acc = np.array([-4052052.6588]), np.array([4212835.9938]), \
        np.array([-2545104.6946])
    exp = np.array([-4052052.7373, 4212835.9835, -2545104.5867])
    t = np.array([2018.0])
    inv_cart = compile_pipeline("+proj=pipeline +step +inv +proj=cart "
                                "+ellps=GRS80")
    fwd_cart = compile_pipeline("+proj=pipeline +step +proj=cart "
                                "+ellps=GRS80")
    lon, lat, h, _ = inv_cart.fwd(*acc, t)
    x, y, z, _ = op.pipeline.fwd_deg(np.degrees(lon), np.degrees(lat), h, t)
    X, Y, Z, _ = fwd_cart.fwd(np.radians(x), np.radians(y), z, t)
    got = np.array([X[0], Y[0], Z[0]])
    np.testing.assert_allclose(got, exp, atol=4e-5)


def test_epsg_registry_time_dep_pv_units():
    """EPSG:7790 ITRF2008->ITRF2014 (method 1053, PV, geocentric domain
    5332->7789) is found under the geog2D pair 8999->9000 via the datum
    bridge; mm / mas / ppb registry units land as m / arcsec / ppm with
    per-year rates."""
    from proj_spark.sources.epsg_ops import candidate_operations

    cands = candidate_operations("8999", "9000")
    op = next(c for c in cands if "EPSG:7790" in c.name)
    m = op.meta
    assert m["method"] == "1053"
    assert "+convention=position_vector" in op.pipeline.spec
    assert abs(m["tx"] - (-0.0016)) < 1e-12      # -1.6 mm
    assert abs(m["ds"] - 0.00002) < 1e-15        # 0.02 ppb -> ppm
    assert abs(m["dtz"] - 0.0001) < 1e-15        # 0.1 mm/yr -> m/yr
    assert abs(m["dds"] - (-0.00003)) < 1e-15    # -0.03 ppb/yr -> ppm/yr
    assert m["t_epoch"] == 2010.0


def test_epsg_registry_molodensky_badekas_amersfoort():
    """EPSG:1066 Amersfoort->ETRS89 (method 9636, Molodensky-Badekas CF)
    lowers pivot 3903453.148/368135.313/5012970.306 and microradian
    rotations; parity vs a hand-built +proj=molobadekas pipeline using the
    published arcsec equivalents (1.9848 urad = 0.40939 arcsec etc.)."""
    from proj_spark.sources.epsg_ops import operation_by_urn
    from proj_spark.plans.pipeline import compile_pipeline

    # 1066 is superseded by 15740 (discarded from the ranked pair list);
    # the by-code surface keeps resolving it
    spec_1066, meta_1066 = operation_by_urn("1066")

    class _Op:
        pipeline = compile_pipeline(spec_1066)
        meta = meta_1066

    op = _Op()
    assert abs(op.meta["px"] - 3903453.148) < 1e-9
    ref = compile_pipeline(
        "+proj=pipeline "
        "+step +proj=cart +ellps=bessel "
        "+step +proj=molobadekas +x=593.032 +y=26.0 +z=478.741 "
        "+rx=0.409394387439237 +ry=-0.359705195614311 +rz=1.86849100345688 "
        "+s=4.0772 +px=3903453.148 +py=368135.313 +pz=5012970.306 "
        "+convention=coordinate_frame "
        "+step +inv +proj=cart +ellps=GRS80")
    lon = np.array([5.387, 6.57])
    lat = np.array([52.156, 53.22])
    gx, gy, _, _ = op.pipeline.fwd_deg(lon, lat)
    wx, wy, _, _ = ref.fwd_deg(lon, lat)
    np.testing.assert_allclose(gx, wx, atol=1e-9)
    np.testing.assert_allclose(gy, wy, atol=1e-9)
    # and the kinematic/static inverse roundtrips
    bx, by, _, _ = op.pipeline.inv_deg(gx, gy)
    np.testing.assert_allclose(bx, lon, atol=1e-9)
    np.testing.assert_allclose(by, lat, atol=1e-9)


def test_concatenated_operation_mgi_ferro():
    """EPSG:3896 'MGI (Ferro) to WGS 84 (2)' — a published 2-step chain
    (9601 longitude rotation EPSG:3895, then 9606 position-vector Helmert
    EPSG:1618) — resolves from concatenated_operation(_step).sql and
    equals the engine's own step-by-step execution (reference
    coordinateoperationfactory.cpp createOperations walks the steps)."""
    from proj_spark.sources.epsg_ops import candidate_operations
    from proj_spark.plans.pipeline import compile_pipeline

    c = next(c for c in candidate_operations("EPSG:4805", "EPSG:4326")
             if "EPSG:3896" in c.name)
    assert c.accuracy == 1.5
    steps = c.meta["steps"]
    assert [s["code"] for s, _ in steps] == ["3895", "1618"]
    assert all(not inv for _, inv in steps)

    lon = np.array([30.0, 32.5, 29.1])   # Ferro-referenced longitudes
    lat = np.array([47.0, 47.9, 46.6])
    gx, gy, _, _ = c.pipeline.fwd_deg(lon, lat)

    # step-by-step: engine-compiled 9601 then the direct 1618 candidate
    rot = compile_pipeline("+proj=geogoffset +dlon=-63600.00000000001 "
                           "+ellps=bessel")
    mx, my, _, _ = rot.fwd_deg(lon, lat)
    helm = next(c for c in candidate_operations("EPSG:4312", "EPSG:4326")
                if "EPSG:1618" in c.name)
    hx, hy, _, _ = helm.pipeline.fwd_deg(mx, my)
    np.testing.assert_allclose(gx, hx, atol=1e-12)
    np.testing.assert_allclose(gy, hy, atol=1e-12)

    # inverse row (WGS84 -> MGI Ferro) roundtrips through the chain
    r = next(c for c in candidate_operations("EPSG:4326", "EPSG:4805")
             if "EPSG:3896" in c.name)
    bx, by, _, _ = r.pipeline.fwd_deg(gx, gy)
    np.testing.assert_allclose(bx, lon, atol=1e-9)
    np.testing.assert_allclose(by, lat, atol=1e-9)


def test_concatenated_operation_coverage():
    """A broad slice of the registry's published chains resolves: every
    chain whose steps lower (helmert / loadable grid / offset methods)
    is indexed; chains with unavailable grids are dropped whole
    (skipNonInstantiable)."""
    from proj_spark.sources.epsg_ops import _ops_by_crs

    ix = _ops_by_crs()["idx"]
    concats = [o for ops in ix.values() for o in ops
               if o["kind"] == "concat"]
    assert len(concats) >= 100
    # chaining invariant: each step's matched end feeds the next
    from proj_spark.sources.epsg import canonical_crs as _canon_code
    for op in concats:
        cur = op["src"]
        for sop, inv in op["steps"]:
            a, b = (sop["src"], sop["dst"]) if not inv else (
                sop["dst"], sop["src"])
            assert _canon_code(a) == _canon_code(cur), op["code"]
            cur = b
        assert _canon_code(cur) == _canon_code(op["dst"]), op["code"]



def test_every_registry_operation_lowers_or_refuses():
    """Every operation code of the registry index lowers through
    operation_by_urn to a spec compile_pipeline accepts, or refuses with
    NotImplementedError; compiling fails only on a missing grid file."""
    from collections import Counter

    from proj_spark.sources.epsg_ops import _ops_by_crs, operation_by_urn

    counts = Counter()
    for code in _ops_by_crs()["by_code"]:
        try:
            spec, _op = operation_by_urn(code)
        except NotImplementedError:
            counts["refused"] += 1
            continue
        counts["lowered"] += 1
        try:
            compile_pipeline(spec)
        except FileNotFoundError:
            counts["grid missing"] += 1
    assert counts == {"lowered": 2461, "refused": 164, "grid missing": 416}

def test_offset_op_tokyo_1892():
    """Direct other_transformation candidates: EPSG:5133 'Tokyo 1892 to
    Tokyo (1)' (9619 geographic2D offsets) resolves between the geog
    pair and applies the published arc-second offsets."""
    from proj_spark.sources.epsg_ops import candidate_operations

    cands = candidate_operations("EPSG:5132", "EPSG:4301")
    op = next(c for c in cands if "EPSG:5133" in c.name)
    lon = np.array([139.0])
    lat = np.array([36.0])
    gx, gy, _, _ = op.pipeline.fwd_deg(lon, lat)
    m = op.meta
    np.testing.assert_allclose(gx, lon + m["dlon"] / 3600.0, atol=1e-12)
    np.testing.assert_allclose(gy, lat + m["dlat"] / 3600.0, atol=1e-12)


def test_supersession_aware_ranking_amersfoort():
    """Supersession-aware candidate filtering (reference factory.cpp
    discardSuperseded, SQL join at :6849): EPSG:1112 'Amersfoort to
    WGS 84 (1)' is superseded by 1672, which is itself superseded by
    15934 — with all three published at equal accuracy 1.0 m, the
    candidate list must keep only the END of the chain (15934) plus the
    independent 4833, never the superseded rows. A supersession row
    applies only when same_source_target_crs=1, the replacement is in
    the same registry table, AND the replacement actually made the
    candidate list (so a replacement whose grid is unavailable leaves
    its predecessor usable — the reference's unknown-grid guard)."""
    from proj_spark.sources.epsg import _load
    from proj_spark.sources.epsg_ops import (_discard_superseded,
                                             candidate_operations)

    # the registry data this test rides on (guards fixture drift)
    sup = _load()["supersession"]
    assert ("helmert_transformation", "1112") in sup
    assert ("helmert_transformation", "1672") in sup

    names = [c.name for c in candidate_operations("4289", "4326")]
    assert any("EPSG:15934" in n for n in names)
    assert any("EPSG:4833" in n for n in names)
    assert not any("EPSG:1112" in n for n in names), names
    assert not any("EPSG:1672" in n for n in names), names

    # unknown-replacement guard: when the replacement is NOT in the
    # candidate list, the superseded op survives
    class _C:
        def __init__(self, kind, code):
            self.meta = {"kind": kind, "code": code}
            self.name = f"EPSG:{code}"

    only_old = _discard_superseded([_C("helmert", "1112")])
    assert [c.name for c in only_old] == ["EPSG:1112"]
    both = _discard_superseded([_C("helmert", "1112"), _C("helmert", "1672")])
    assert [c.name for c in both] == ["EPSG:1672"]


_ENSEMBLE_WKT = '''GEOGCRS["unknown",
  ENSEMBLE["World Geodetic System 1984 ensemble",
     MEMBER["World Geodetic System 1984 (Transit)", ID["EPSG",1166]],
     MEMBER["World Geodetic System 1984 (G1762)", ID["EPSG",1156]],
     ELLIPSOID["WGS 84",6378137,298.257223563],
     ENSEMBLEACCURACY[2]],
  PRIMEM["Greenwich",0],
  CS[ellipsoidal,2], AXIS["Geodetic latitude (Lat)",north, ORDER[1]],
  AXIS["Geodetic longitude (Lon)",east, ORDER[2]],
  ANGLEUNIT["degree",0.0174532925199433]]'''


def test_datum_ensemble_member_null_ops():
    """Datum ensembles (geodetic_datum_ensemble_member.sql): a member
    realization is equivalent to its ensemble within the PUBLISHED
    ensemble accuracy, entering candidate ranking as a null op.

    * 4326 -> 9057 'WGS 84 (G1762)': the member null op at the WGS84
      ensemble accuracy 2.0 m;
    * 4267 NAD27 -> 9057: composes '<published NAD27->WGS84> + WGS 84 to
      WGS 84 (G1762)' via the hub, accuracies summed — the reference
      test_operationfactory NAD27_to_WGS84_G1762 chain shape;
    * 9056 -> 9057: the DIRECT member-to-member Helmert EPSG:7667
      (0.01 m) is selected, not an ensemble detour — the reference
      WGS84_G1674_to_WGS84_G1762 tie-break."""
    from proj_spark.sources.epsg_ops import candidate_operations

    cands = candidate_operations("4326", "9057")
    null_op = cands[0]
    assert "WGS 84 to WGS 84 (G1762)" in null_op.name
    # the member op's code is synthetic: labelled as the reference does
    assert null_op.name.startswith("DERIVED_FROM(EPSG):6326-member-")
    assert null_op.accuracy == 2.0
    # identity within the ensemble accuracy
    gx, gy, _, _ = null_op.pipeline.fwd_deg(
        np.array([5.0]), np.array([52.0]))
    assert gx[0] == 5.0 and gy[0] == 52.0

    chain = candidate_operations("4267", "9057")
    assert "WGS 84 to WGS 84 (G1762)" in chain[0].name
    assert " + " in chain[0].name          # hub-composed two-step
    assert chain[0].accuracy >= 2.0        # summed with the ensemble leg

    direct = candidate_operations("9056", "9057")
    assert "EPSG:7667" in direct[0].name
    assert direct[0].accuracy == 0.01

    # ETRS89's tighter published ensemble accuracy (0.1 m, not 2.0)
    from proj_spark.sources.epsg import _load
    etrs = candidate_operations(
        "4258", _load()["geodetic_crs"]["9059"][1] and "9059")
    ens_ops = [c for c in etrs if "ETRF89" in c.name and c.accuracy == 0.1]
    assert ens_ops, [c.name for c in etrs]


def test_datum_ensemble_wkt_identifies_and_dispatches_as_4326():
    """A WGS84-ensemble WKT2 (ENSEMBLE node with MEMBER ids +
    ENSEMBLEACCURACY — the reference test_operationfactory
    geogCRS_to_geogCRS_context_datum_ensemble WKT) lowers to the same
    proj-string as EPSG:4326, identifies to 4326, and drives the SAME
    registry candidate list."""
    from proj_spark.sources.epsg import epsg_to_proj
    from proj_spark.sources.epsg_ops import candidate_operations
    from proj_spark.sources.wkt import crs_epsg_code, wkt_to_proj

    assert wkt_to_proj(_ENSEMBLE_WKT) == epsg_to_proj("4326")
    assert crs_epsg_code(_ENSEMBLE_WKT) == "4326"
    via_wkt = [c.name for c in candidate_operations("4258", _ENSEMBLE_WKT)]
    via_code = [c.name for c in candidate_operations("4258", "4326")]
    assert via_wkt == via_code
    assert any("ETRS89 to WGS 84 (1)" in n for n in via_wkt)


def test_datum_ensemble_projjson_identification():
    """PROJJSON datum_ensemble (schema v0.7) identifies by member-id set
    and by ensemble name."""
    import json

    from proj_spark.sources.projjson import crs_epsg_code

    j = {
        "type": "GeographicCRS", "name": "unknown",
        "datum_ensemble": {
            "name": "World Geodetic System 1984 ensemble",
            "members": [
                {"name": "World Geodetic System 1984 (Transit)",
                 "id": {"authority": "EPSG", "code": 1166}},
                {"name": "World Geodetic System 1984 (G1762)",
                 "id": {"authority": "EPSG", "code": 1156}},
            ],
            "accuracy": "2.0",
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
    }
    assert crs_epsg_code(json.dumps(j)) == "4326"
    j["datum_ensemble"]["name"] = "no such ensemble"
    assert crs_epsg_code(json.dumps(j)) == "4326"   # member-set match
    j["datum_ensemble"]["members"] = []
    assert crs_epsg_code(json.dumps(j)) is None


def test_intermediate_pivot_search_etrf89_mgi():
    """Intermediate-CRS pivot search (reference
    findsOpsInRegistryWithIntermediate, coordinateoperationfactory.cpp
    :1986): ETRF89 -> MGI has no direct op and no WGS84-hub leg; the
    planner finds the ETRS89 pivot (via the datum-ensemble membership)
    and composes 'ETRS89 to ETRF89' + inverse 'MGI to ETRS89 (n)' with
    SUMMED accuracy (0.1 + 1.0 / 0.1 + 1.5) and intersected areas, in
    accuracy order. The engine output matches an independent numpy
    formulation (Hirvonen-Moritz iteration, explicit transpose) at both
    anchor points."""
    from proj_spark.sources.epsg_ops import (candidate_operations,
                                             crs_to_crs_epsg_dispatch)

    cands = candidate_operations("9059", "4312")
    names = [c.name for c in cands]
    assert "EPSG:1024" in names[0] and "ETRS89 to ETRF89" in names[0]
    assert abs(cands[0].accuracy - 1.1) < 1e-12      # 0.1 + 1.0 summed
    assert "EPSG:1619" in names[1]
    assert abs(cands[1].accuracy - 1.6) < 1e-12      # 0.1 + 1.5 summed
    assert names[-1] == "ballpark"
    # leg areas intersected: the composed bbox is the MGI op's extent
    assert cands[0].src_bbox == (13.58, 46.64, 16.17, 47.84)

    d = crs_to_crs_epsg_dispatch("EPSG:9059", "EPSG:4312")
    x, y, _, _ = d.fwd_deg(np.array([16.0, 10.0, 17.5]),
                           np.array([47.5, 47.0, 48.5]))
    # independently derived literals (see __spark_entry__ pivot anchors)
    np.testing.assert_allclose(
        np.round(x, 7), [16.0011081, 10.0002524, 17.5])
    np.testing.assert_allclose(
        np.round(y, 7), [47.5004331, 47.0005564, 48.5])


def test_pivot_search_prefers_hub_on_ties_and_caps_work():
    """The pivot ranking keeps the WGS84 hub's priority on equal
    best-case accuracy and bounds composition work; a hub-connected pair
    with non-overlapping leg extents (ED50 -> NAD27: Europe vs CONUS)
    still yields only the ballpark, as before the generalization."""
    from proj_spark.sources.epsg_ops import candidate_operations

    c = candidate_operations("4230", "4267")
    assert [x.name for x in c] == ["ballpark"]


def test_projstring_step_chain_is_not_instantiable():
    """A concatenated operation with a PROJ-string step (the 30 NKG
    chains, e.g. ITRF2000_TO_NKG_ETRF00) does not lower between two
    geographic specs: the planner drops it as not instantiable, so
    ETRS89 -> NAD27 ends in the ballpark instead of a KeyError, and
    ETRS89 -> ITRF2005 still composes its ensemble-member chains."""
    from proj_spark.sources.epsg import canonical_crs
    from proj_spark.sources.epsg_ops import (_geog_only, _op_step_fragments,
                                             _ops_by_crs, candidate_operations)

    op = _ops_by_crs()["by_code"]["ITRF2000_TO_NKG_ETRF00"]
    assert [s["kind"] for s, _inv in op["steps"]] == ["helmert", "projstring"]
    spec = _geog_only(canonical_crs("4258"))
    assert _op_step_fragments(op, spec, spec, False) is None

    assert [c.name for c in candidate_operations("4258", "4267")] == [
        "ballpark"]
    names = [c.name for c in candidate_operations("4258", "7910")]
    assert "EPSG:10576 ITRF2005 to ETRF2020" in names[0]
    assert names[-1] == "ballpark"


# ------------------------------------------ whole-batch walk, cache blocks

_ED50_GIBRALTAR = ((-5.35, 36.10), (-5.3512973, 36.0986573))  # EPSG:1629


@pytest.fixture(scope="module")
def ed50():
    from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

    return crs_to_crs_epsg_dispatch("EPSG:4230", "EPSG:4326")


def test_nd_and_0d_input_match_the_1d_result(ed50):
    """The walk ravels its input: (1, N), (N, 1) and 0-d points give the
    1-D result reshaped, whatever their order (Gibraltar, Portugal)."""
    (glon, glat), (gx, gy) = _ED50_GIBRALTAR
    lon = np.array([glon, -8.0, -3.0, -30.0])
    lat = np.array([glat, 38.0, 40.0, 25.0])
    x, y, z, _ = ed50.fwd_deg(lon, lat, np.zeros(4))
    assert round(x[0], 7) == gx and round(y[0], 7) == gy
    for shape in [(1, 4), (4, 1)]:
        got = ed50.fwd_deg(lon.reshape(shape), lat.reshape(shape),
                           np.zeros(shape))
        for g, want in zip(got, (x, y, z)):
            assert g.shape == shape
            assert np.array_equal(g.ravel(), want)
    rev = ed50.fwd_deg(lon[::-1].reshape(1, 4), lat[::-1].reshape(1, 4))
    assert np.array_equal(rev[0][0], x[::-1])
    for i in range(4):
        got = ed50.fwd_deg(lon[i], lat[i], 0.0)
        assert [g.shape for g in got[:3]] == [(), (), ()]
        assert [float(g) for g in got[:3]] == [x[i], y[i], z[i]]


def test_long_batches_keep_retry_and_fallback(grid_path):
    """The retry/fallback case of test_bbox_dispatch_retry_and_fallback,
    tiled past KERNEL_CHUNK so candidates get blocked pending sets, gives
    every point the answer it has in the three-point call."""
    from proj_spark.plans.pipeline import KERNEL_CHUNK

    disp = CandidateDispatch([
        candidate(f"+proj=hgridshift +grids={grid_path} +ellps=GRS80",
                  src_bbox=(-5.0, 35.0, 15.0, 55.0), accuracy=0.05),
        candidate("+proj=geogoffset +dlon=3600 +ellps=GRS80", accuracy=2.0),
    ])
    lon = np.array([5.0, -3.0, 120.0])
    lat = np.array([42.0, 50.0, 10.0])
    reps = 2 * KERNEL_CHUNK // 3 + 7
    for run in (disp.fwd_deg, disp.inv_deg):
        small = run(lon, lat)
        big = run(np.tile(lon, reps), np.tile(lat, reps))
        assert len(big[0]) > KERNEL_CHUNK
        for b, s in zip(big[:2], small[:2]):
            assert np.array_equal(b, np.tile(s, reps))


_KINEMATIC = ("+proj=pipeline +ellps=GRS80 +step +proj=cart "
              "+step +proj=helmert +x=0.1 +y=-0.2 +z=0.3 +rx=0.001 +s=0.01 "
              "+dx=0.01 +drx=0.0001 +ds=0.001 +t_epoch=2010 "
              "+convention=position_vector +step +proj=cart +inv")


@pytest.mark.parametrize("spec, lanes", [
    ("+proj=utm +zone=31 +ellps=WGS84", "none"),
    (_KINEMATIC, "z"),
    (_KINEMATIC, "zt"),
    (_KINEMATIC, "z, scalar t"),
])
def test_pipeline_blocks_equal_its_slice_calls(spec, lanes):
    """fwd_deg/inv_deg on 20,000 points equal the concatenation of their
    KERNEL_CHUNK-slice calls, lane by lane, z and t included."""
    from proj_spark.plans.pipeline import KERNEL_CHUNK

    n = 20_000
    i = np.arange(n)
    lon = 0.5 + (i * 40503 % 1_000_003) / 1_000_003 * 5.0
    lat = 40.0 + (i * 69069 % 999_983) / 999_983 * 10.0
    z = None if lanes == "none" else (i % 97) * 10.0
    t = {"zt": 2000.0 + (i % 7) * 3, "z, scalar t": 2015.5}.get(lanes)
    p = compile_pipeline(spec)
    for run in (p.fwd_deg, p.inv_deg):
        whole = run(lon, lat, z, t)
        parts = [run(*(v[s] if np.ndim(v) == 1 else v for v in (lon, lat, z, t)))
                 for s in (slice(k, k + KERNEL_CHUNK)
                           for k in range(0, n, KERNEL_CHUNK))]
        for w, lane in zip(whole, zip(*parts)):
            if lane[0] is None or np.ndim(lane[0]) == 0:
                assert w is lane[0] or w == lane[0]
            else:
                assert np.array_equal(w, np.concatenate(lane))
        assert (whole[2] is None) == (z is None)
        assert whole[3] is t or np.array_equal(whole[3], t)


def test_dispatch_udf_matches_the_driver_walk(spark, ed50):
    """dispatch_udf over 160,000 rows in 2 partitions (65,536-row Arrow
    batches, pending sets past KERNEL_CHUNK) equals the driver-side walk
    over the same points bit for bit: Iberian points, mid-Atlantic points
    served by the fallback, and null or NaN coordinates."""
    from pyspark.sql import functions as F

    from proj_spark.functions import dispatch_udf

    i = F.col("id")
    u = (i * 40503 % 1_000_003) / 1_000_003.0
    v = (i * 69069 + 12345) % 999_983 / 999_983.0
    atlantic = i % 10 == 9
    lon = F.when(atlantic, -40.0 + u * 10.0).otherwise(-9.5 + u * 6.0)
    lat = F.when(atlantic, 20.0 + v * 10.0).otherwise(36.0 + v * 7.8)
    df = spark.range(0, 160_000, numPartitions=2).select(
        "id",
        F.when(i % 101 == 0, F.lit(None)).otherwise(lon).alias("lon"),
        F.when(i % 103 == 0, F.lit(float("nan"))).otherwise(lat).alias("lat"))
    out = df.withColumn("s", dispatch_udf(ed50)("lon", "lat")).select(
        "id", "lon", "lat", "s.x", "s.y").toPandas()
    lon_np, lat_np = (out[c].to_numpy(dtype=np.float64) for c in ("lon", "lat"))
    x, y, _, _ = ed50.fwd_deg(lon_np, lat_np)
    assert np.array_equal(out["x"].to_numpy(), x, equal_nan=True)
    assert np.array_equal(out["y"].to_numpy(), y, equal_nan=True)
    bad = np.isnan(lon_np) | np.isnan(lat_np)
    assert bad.sum() > 2_500 and np.isnan(x[bad]).all()
    mid = (out["id"].to_numpy() % 10 == 9) & ~bad
    assert np.array_equal(x[mid], lon_np[mid])  # ballpark: no shift
    assert np.isfinite(x[~bad]).all() and (x[~bad & ~mid] != lon_np[~bad & ~mid]).all()
