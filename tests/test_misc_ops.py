"""Unit coverage for registry ops with no gie fixtures (sch), smoke
roundtrips for batch-4 additions, the op table's generic handling
(+over, I/O hooks, missing inverses, completeness against COVERAGE.md),
and the rule that every proj_spark module has a production caller."""

from __future__ import annotations

import json
import pathlib
import re

import numpy as np
import pytest

from proj_spark.plans.pipeline import _BUILDERS, _PROJECTIONS, compile_pipeline


def test_sch_peg_origin_and_roundtrip():
    p = compile_pipeline("+proj=sch +plat_0=30 +plon_0=50 +phdg_0=70 +ellps=WGS84")
    x, y, z, _ = p.fwd(np.array([np.radians(50.0)]), np.array([np.radians(30.0)]),
                       np.array([0.0]))
    # the peg point maps to (s, c) = (0, 0) at h = h0
    assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6 and abs(z[0]) < 1e-6
    lam = np.radians(np.array([49.0, 52.0, 50.5]))
    phi = np.radians(np.array([29.0, 31.5, 30.2]))
    h = np.array([100.0, 5.0, -20.0])
    X, Y, Z, _ = p.fwd(lam, phi, h.copy())
    l2, p2, h2, _ = p.inv(X, Y, Z)
    np.testing.assert_allclose(l2, lam, atol=1e-12)
    np.testing.assert_allclose(p2, phi, atol=1e-12)
    np.testing.assert_allclose(h2, h, atol=1e-6)


def test_sch_requires_peg():
    with pytest.raises(ValueError):
        compile_pipeline("+proj=sch +ellps=WGS84")


@pytest.mark.parametrize("spec,min_good", [
    ("+proj=ob_tran +o_proj=moll +o_lon_p=40 +o_lat_p=50 +lon_0=60 +R=6400000", 1.0),
    # imw_p: the reference's alternating-secant inverse can diverge far
    # outside the lat_1..lat_2 band; bipc roundtrips can break exactly on
    # the Azba branch seam (both inherited semantics, not bugs here).
    ("+proj=imw_p +lat_1=15 +lat_2=40 +ellps=GRS80", 0.95),
    ("+proj=bipc +ellps=GRS80", 0.95),
    ("+proj=qsc +lon_0=100 +ellps=GRS80", 1.0),   # right cube face
    ("+proj=qsc +lat_0=90 +ellps=GRS80", 1.0),    # top cube face
    ("+proj=rhealpix +north_square=1 +south_square=2 +R=6370997", 1.0),
    ("+proj=lsat +lsat=2 +path=12 +ellps=GRS80", 1.0),
    ("+proj=adams_ws2 +R=6370997", 1.0),
])
def test_batch4_roundtrips(spec, min_good):
    rng = np.random.default_rng(11)
    lon = rng.uniform(-25, 25, 50)
    lat = rng.uniform(-55, 55, 50)
    p = compile_pipeline(spec)
    x, y, _, _ = p.fwd_deg(lon, lat)
    lon2, lat2, _, _ = p.inv_deg(x, y)
    good = (np.isclose(lon2, lon, atol=1e-6)
            & np.isclose(lat2, lat, atol=1e-6))
    assert good.mean() >= min_good, f"{good.sum()}/{good.size} roundtrip"


# Horner self-test constants from the reference's own unit suite
# (/root/reference/test/unit/gie_self_tests.cpp:802-960): TC32 -> UTM32
# real polynomial and "System Storebaelt" complex polynomial.
TC32 = (
    "+proj=horner +ellps=intl +range=500000 "
    "+fwd_origin=877605.269066,6125810.306769 "
    "+inv_origin=877605.760036,6125811.281773 +deg=4 "
    "+fwd_v=6.1258112678e+06,9.9999971567e-01,1.5372750011e-10,5.9300860915e-15,2.2609497633e-19,4.3188227445e-05,2.8225130416e-10,7.8740007114e-16,-1.7453997279e-19,1.6877465415e-10,-1.1234649773e-14,-1.7042333358e-18,-7.9303467953e-15,-5.2906832535e-19,3.9984284847e-19 "
    "+fwd_u=8.7760574982e+05,9.9999752475e-01,2.8817299305e-10,5.5641310680e-15,-1.5544700949e-18,-4.1357045890e-05,4.2106213519e-11,2.8525551629e-14,-1.9107771273e-18,3.3615590093e-10,2.4380247154e-14,-2.0241230315e-18,1.2429019719e-15,5.3886155968e-19,-1.0167505000e-18 "
    "+inv_v=6.1258103208e+06,1.0000002826e+00,-1.5372762184e-10,-5.9304261011e-15,-2.2612705361e-19,-4.3188331419e-05,-2.8225549995e-10,-7.8529116371e-16,1.7476576773e-19,-1.6875687989e-10,1.1236475299e-14,1.7042518057e-18,7.9300735257e-15,5.2881862699e-19,-3.9990736798e-19 "
    "+inv_u=8.7760527928e+05,1.0000024735e+00,-2.8817540032e-10,-5.5627059451e-15,1.5543637570e-18,4.1357152105e-05,-4.2114813612e-11,-2.8523713454e-14,1.9109017837e-18,-3.3616407783e-10,-2.4382678126e-14,2.0245020199e-18,-1.2441377565e-15,-5.3885232238e-19,1.0167203661e-18"
)

SB = (
    "+proj=horner +ellps=intl +range=500000 "
    "+fwd_origin=4.94690026817276e+05,6.13342113183056e+06 "
    "+inv_origin=6.19480258923588e+05,6.13258568148837e+06 +deg=3 "
    "+fwd_c=6.13258562111350e+06,6.19480105709997e+05,9.99378966275206e-01,-2.82153291753490e-02,-2.27089979140026e-10,-1.77019590701470e-09,1.08522286274070e-14,2.11430298751604e-15 "
    "+inv_c=6.13342118787027e+06,4.94690181709311e+05,9.99824464710368e-01,2.82279070814774e-02,7.66123542220864e-11,1.78425334628927e-09,-1.05584823306400e-14,-3.32554258683744e-15"
)


def test_horner_tc32_roundtrip():
    p = compile_pipeline(TC32)
    u = np.array([878354.8539])
    v = np.array([6125305.4245])
    x, y, _, _ = p.fwd(u, v, None, None)
    u2, v2, _, _ = p.inv(x, y, None, None)
    assert np.hypot(u2[0] - u[0], v2[0] - v[0]) < 0.01


def test_horner_storebaelt_complex():
    p = compile_pipeline(SB)
    # utm32_ed50(620000, 6130000) = sb_ed50(495136.8544, 6130821.2945)
    x, y, _, _ = p.fwd(np.array([495136.8544]), np.array([6130821.2945]),
                       None, None)
    assert np.hypot(x[0] - 620000.0, y[0] - 6130000.0) < 0.001
    u, v, _, _ = p.inv(np.array([620000.0]), np.array([6130000.0]), None, None)
    assert np.hypot(u[0] - 495136.8544, v[0] - 6130821.2945) < 0.001


def test_horner_iterative_inverse_fwd_only():
    # the reference's fwd-only variant widens +range to 1e7: the iterative
    # inverse range-checks the RAW coordinates (gie_self_tests.cpp:898-905)
    spec = TC32.split(" +inv_v=")[0].replace(
        "+inv_origin=877605.760036,6125811.281773 ", "").replace(
        "+range=500000", "+range=10000000")
    p = compile_pipeline(spec + " ")
    u = np.array([878354.8539])
    v = np.array([6125305.4245])
    x, y, _, _ = p.fwd(u, v, None, None)
    u2, v2, _, _ = p.inv(x, y, None, None)
    assert np.hypot(u2[0] - u[0], v2[0] - v[0]) < 0.01


def test_horner_complex_iterative_inverse_fwd_only():
    spec = SB.split(" +inv_c=")[0].replace(
        "+inv_origin=6.19480258923588e+05,6.13258568148837e+06 ", "").replace(
        "+range=500000", "+range=10000000")
    p = compile_pipeline(spec)
    a_u, a_v = 495136.8544, 6130821.2945
    x, y, _, _ = p.fwd(np.array([a_u]), np.array([a_v]), None, None)
    u2, v2, _, _ = p.inv(x, y, None, None)
    assert np.hypot(u2[0] - a_u, v2[0] - a_v) < 0.01


def test_horner_hatt_to_ggrs():
    spec = ("+proj=horner +ellps=bessel +fwd_origin=0.0,0.0 +deg=2 "
            "+range=10000000 "
            "+fwd_u=370552.68,0.9997155,-1.08e-09,0.0175123,2.04e-09,1.63e-09 "
            "+fwd_v=4511927.23,0.9996979,5.60e-10,-0.0174755,-1.65e-09,-6.50e-10")
    p = compile_pipeline(spec)
    x, y, _, _ = p.fwd(np.array([-10157.950]), np.array([-21121.093]),
                       None, None)
    assert np.hypot(x[0] - 360028.794, y[0] - 4490989.862) < 0.1


def test_crs_to_crs_utm_to_webmerc():
    """4D-API gie semantics: init=epsg:26915 inverse -> epsg:3857 forward
    equals the hand-built pipeline the corpus tests."""
    import numpy as np

    from proj_spark.plans.pipeline import compile_crs_to_crs, compile_pipeline

    p = compile_crs_to_crs("EPSG:26915", "EPSG:3857")
    ref = compile_pipeline(
        "proj=pipeline step init=epsg:26915 inv step init=epsg:3857")
    x = np.array([500000.0, 482000.0])
    y = np.array([4649776.0, 4700000.0])
    X1, Y1, _, _ = p.fwd(x.copy(), y.copy(), None, None)
    X2, Y2, _, _ = ref.fwd(x.copy(), y.copy(), None, None)
    assert np.allclose(X1, X2, atol=1e-9) and np.allclose(Y1, Y2, atol=1e-9)
    # roundtrip through the reverse planner
    q = compile_crs_to_crs("EPSG:3857", "EPSG:26915")
    xb, yb, _, _ = q.fwd(X1.copy(), Y1.copy(), None, None)
    assert np.allclose(xb, x, atol=1e-6) and np.allclose(yb, y, atol=1e-6)


def test_crs_to_crs_datum_path():
    """potsdam (BETA2007 nadgrids) -> WGS84 longlat through the planner
    matches the DHDN corpus pair."""
    import numpy as np

    from proj_spark.plans.pipeline import compile_crs_to_crs

    p = compile_crs_to_crs("+proj=latlong +datum=potsdam",
                           "+proj=longlat +ellps=WGS84")
    lam, phi, _, _ = p.fwd_deg(np.array([7.483333333333]),
                               np.array([53.5]))
    assert abs(lam[0] - 7.482506019176) < 1e-8
    assert abs(phi[0] - 53.498461143331) < 1e-8


# GDAL's WKT1 for EPSG:27572: the Paris meridian in grads and a TOWGS84 hook
_NTF_LAMBERT_II = (
    'PROJCS["NTF (Paris) / Lambert zone II",GEOGCS["NTF (Paris)",'
    'DATUM["Nouvelle_Triangulation_Francaise_Paris",SPHEROID["Clarke 1880 '
    '(IGN)",6378249.2,293.466021293627,AUTHORITY["EPSG","7011"]],'
    'TOWGS84[-168,-60,320,0,0,0,0],AUTHORITY["EPSG","6807"]],'
    'PRIMEM["Paris",2.5969213,AUTHORITY["EPSG","8903"]],'
    'UNIT["grad",0.0157079632679489,AUTHORITY["EPSG","9105"]],'
    'AUTHORITY["EPSG","4807"]],PROJECTION["Lambert_Conformal_Conic_1SP"],'
    'PARAMETER["latitude_of_origin",52],PARAMETER["central_meridian",0],'
    'PARAMETER["scale_factor",0.99987742],PARAMETER["false_easting",600000],'
    'PARAMETER["false_northing",2200000],UNIT["metre",1,AUTHORITY["EPSG",'
    '"9001"]],AXIS["Easting",EAST],AXIS["Northing",NORTH],'
    'AUTHORITY["EPSG","27572"]]')


def test_prime_meridian_behind_a_datum_hook():
    """+pm reaches the projection when a datum hook runs before it: the
    WKT1 CRS gives the explicit cart -> inverse helmert -> inverse cart ->
    lcc +pm pipeline, and +towgs84=0,0,0 on GRS80 moves tmerc by far less
    than a millimetre."""
    from proj_spark.plans.pipeline import compile_crs_to_crs

    p = compile_crs_to_crs("+proj=longlat +datum=WGS84", _NTF_LAMBERT_II)
    x, y, _, _ = p.fwd_deg(np.array([2.5]), np.array([47.0]))
    assert abs(x[0] - 612_431.424) < 1e-3 and abs(y[0] - 2_222_249.759) < 1e-3
    ref = compile_pipeline(
        "+proj=pipeline +step +proj=cart +ellps=WGS84 "
        "+step +inv +proj=helmert +x=-168 +y=-60 +z=320 "
        "+convention=position_vector "
        "+step +inv +proj=cart +a=6378249.2 +rf=293.4660212936269 "
        "+step +proj=lcc +lat_1=46.8 +lat_0=46.8 +lon_0=0 +k_0=0.99987742 "
        "+x_0=600000 +y_0=2200000 +a=6378249.2 +rf=293.4660212936269 "
        "+pm=2.33722917")
    xr, yr, _, _ = ref.fwd_deg(np.array([2.5]), np.array([47.0]))
    assert abs(x[0] - xr[0]) < 1e-3 and abs(y[0] - yr[0]) < 1e-3
    lon, lat = np.array([5.0]), np.array([45.0])
    tm = "+proj=tmerc +ellps=GRS80 +pm=paris"
    a = compile_pipeline(tm + " +towgs84=0,0,0").fwd_deg(lon, lat)
    b = compile_pipeline(tm).fwd_deg(lon, lat)
    assert abs(a[0][0] - b[0][0]) < 1e-3 and abs(a[1][0] - b[1][0]) < 1e-3


@pytest.mark.parametrize("spec, inv_z", [
    ("+proj=pipeline +step +inv +proj=pop +v_3 +step +proj=set +v_3=5 "
     "+step +inv +proj=push +v_3", 3.0),
    ("+proj=pipeline +inv +step +proj=push +v_3 +step +proj=set +v_3=5 "
     "+step +proj=pop +v_3", 3.0),
    ("+proj=pipeline +step +proj=push +v_3 +omit_inv "
     "+step +proj=set +v_3=5 +step +proj=pop +v_3", None),
])
def test_push_pop_under_direction_flags(spec, inv_z):
    """push and pop bound under +inv, a pipeline-wide +inv or +omit_inv
    share the pipeline's stack: the pop restores the pushed z."""
    p = compile_pipeline(spec)
    args = [np.array([v]) for v in (2.0, 49.0, 3.0, 2020.0)]
    assert p.fwd(*args)[2][0] == 3.0
    z = p.inv(*args)[2]
    assert inv_z is None or z[0] == inv_z


def test_auto_zone_utm_keeps_the_fixed_zone_domain():
    """Auto-zone UTM rejects the points fixed-zone UTM rejects: NaN in,
    |lat| past 90 degrees and |lon| past 10 radians."""
    lon = np.array([2.0, 2.0, np.nan, 700.0, 2.0])
    lat = np.array([95.0, -91.0, 10.0, 10.0, np.nan])
    auto = compile_pipeline("+proj=utm +ellps=WGS84").fwd_deg(lon, lat)
    fixed = compile_pipeline("+proj=utm +zone=31 +ellps=WGS84").fwd_deg(lon, lat)
    for a, f in zip(auto[:2], fixed[:2]):
        assert np.array_equal(np.isnan(a), np.isnan(f))
        assert np.isnan(a).all()
WGS84_A = 6378137.0


@pytest.mark.parametrize("proj", ["merc", "webmerc"])
def test_over_keeps_longitude_past_antimeridian(proj):
    """+over skips the longitude wrap both ways for every projection."""
    lon, lat = np.array([200.0]), np.array([10.0])
    over = compile_pipeline(f"+proj={proj} +ellps=WGS84 +over")
    x, y, _, _ = over.fwd_deg(lon, lat)
    assert x[0] == pytest.approx(WGS84_A * np.radians(200.0), abs=1e-6)
    assert x[0] == pytest.approx(22_263_898.16, abs=0.01)
    lon2, lat2, _, _ = over.inv_deg(x, y)
    assert lon2[0] == pytest.approx(200.0, abs=1e-9)
    assert lat2[0] == pytest.approx(10.0, abs=1e-9)
    # without +over the longitude wraps to -160 degrees, as before
    xw, yw, _, _ = compile_pipeline(f"+proj={proj} +ellps=WGS84").fwd_deg(lon, lat)
    assert xw[0] == pytest.approx(-17_811_118.53, abs=0.01)
    assert yw[0] == y[0]


# float64 values of each I/O hook alone on an angular, a projected and a
# cartesian operation, and of the combinations the hook builder forms:
# fwd_deg of (2.5, 48.8) and of (2.5, 48.8, 100, 2020), each followed by
# inv_deg of its output. Recorded before the hooks became composed steps.
_HOOK_CASES = {
    '+proj=latlong +ellps=GRS80 +geoc': (
        (2.5, 48.99064821511069, None, None),
        (2.5, 48.8, None, None),
        (2.5, 48.99064821511069, 100.0, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=utm +zone=31 +ellps=GRS80 +geoc': (
        (463421.95521228516, 5426536.6257463265, None, None),
        (2.5000000000000004, 48.79999999999998, None, None),
        (463421.95521228516, 5426536.6257463265, 100.0, 2020.0),
        (2.5000000000000004, 48.79999999999998, 100.0, 2020.0),
    ),
    '+proj=cart +ellps=GRS80 +geoc': (
        (4189228.771255329, 182905.67821247506, 4789876.376208191, None),
        (2.5000000000000004, 48.8, -9.313225746154785e-10, None),
        (4189294.3270216757, 182908.54043904683, 4789951.8364570495, 2020.0),
        (2.4999999999999996, 48.8, 100.00000000093132, 2020.0),
    ),
    '+proj=latlong +ellps=GRS80 +pm=paris': (
        (0.16277083333333286, 48.8, None, None),
        (2.5, 48.8, None, None),
        (0.16277083333333286, 48.8, 100.0, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=utm +zone=31 +ellps=GRS80 +pm=paris': (
        (291659.4559127467, 5409105.868758789, None, None),
        (2.5000000000000004, 48.79999999999998, None, None),
        (291659.4559127467, 5409105.868758789, 100.0, 2020.0),
        (2.5000000000000004, 48.79999999999998, 100.0, 2020.0),
    ),
    '+proj=cart +ellps=GRS80 +pm=paris': (
        (4205189.134245923, 183602.5227098065, 4775937.703987054, None),
        (2.5000000000000004, 48.800000000000004, -9.313225746154785e-10, None),
        (4205254.940499294, 183605.39587287794, 4776012.945477943, 2020.0),
        (2.5000000000000004, 48.8, 100.0, 2020.0),
    ),
    '+proj=latlong +ellps=GRS80 +axis=wsu': (
        (-2.5, -48.8, None, None),
        (2.5, 48.8, None, None),
        (-2.5, -48.8, 100.0, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=utm +zone=31 +ellps=GRS80 +axis=wsu': (
        (-463282.5950068212, -5405343.663465936, None, None),
        (2.5, 48.8, None, None),
        (-463282.5950068212, -5405343.663465936, 100.0, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=cart +ellps=GRS80 +axis=wsu': (
        (-4205189.134245923, -183602.5227098065, 4775937.703987054, None),
        (2.5000000000000004, 48.800000000000004, -9.313225746154785e-10, None),
        (-4205254.940499294, -183605.39587287794, 4776012.945477943, 2020.0),
        (2.5000000000000004, 48.8, 100.0, 2020.0),
    ),
    '+proj=latlong +ellps=GRS80 +units=km': (
        (2.5, 48.8, None, None),
        (2.5, 48.8, None, None),
        (2.5, 48.8, 100.0, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=utm +zone=31 +ellps=GRS80 +units=km': (
        (463.2825950068212, 5405.343663465936, None, None),
        (2.5, 48.8, None, None),
        (463.2825950068212, 5405.343663465936, 100.0, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=cart +ellps=GRS80 +units=km': (
        (4205.189134245923, 183.60252270980652, 4775.937703987053, None),
        (2.5000000000000004, 48.800000000000004, -9.313225746154785e-10, None),
        (4205.254940499293, 183.60539587287795, 4776.012945477943, 2020.0),
        (2.5000000000000004, 48.8, 100.0, 2020.0),
    ),
    '+proj=latlong +ellps=GRS80 +vunits=ft': (
        (2.5, 48.8, None, None),
        (2.5, 48.8, None, None),
        (2.5, 48.8, 328.0839895013123, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=utm +zone=31 +ellps=GRS80 +vunits=ft': (
        (463282.5950068212, 5405343.663465936, None, None),
        (2.5, 48.8, None, None),
        (463282.5950068212, 5405343.663465936, 328.0839895013123, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=cart +ellps=GRS80 +vunits=ft': (
        (4205189.134245923, 183602.5227098065, 4775937.703987054, None),
        (2.5000000000000004, 48.800000000000004, -9.313225746154785e-10, None),
        (4205254.940499294, 183605.39587287794, 4776012.945477943, 2020.0),
        (2.5000000000000004, 48.8, 100.0, 2020.0),
    ),
    '+proj=latlong +ellps=GRS80 +geoc +pm=paris': (
        (0.16277083333333286, 48.99064821511069, None, None),
        (2.5, 48.8, None, None),
        (0.16277083333333286, 48.99064821511069, 100.0, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=geocent +ellps=GRS80 +units=km': (
        (4205.189134245923, 183.60252270980652, 4775.937703987053, None),
        (2.5000000000000004, 48.800000000000004, -9.313225746154785e-10, None),
        (4205.254940499293, 183.60539587287795, 4776.012945477943, 2020.0),
        (2.5000000000000004, 48.8, 100.0, 2020.0),
    ),
    '+proj=latlong +ellps=GRS80 +geoc +units=km +vunits=ft +axis=wsu': (
        (-2.5, -48.99064821511069, None, None),
        (2.5, 48.8, None, None),
        (-2.5, -48.99064821511069, 328.0839895013123, 2020.0),
        (2.5, 48.8, 100.0, 2020.0),
    ),
    '+proj=utm +zone=31 +ellps=GRS80 +geoc +units=km +vunits=ft +axis=wsu': (
        (-463.4219552122852, -5426.5366257463265, None, None),
        (2.5000000000000004, 48.79999999999998, None, None),
        (-463.4219552122852, -5426.5366257463265, 328.0839895013123, 2020.0),
        (2.5000000000000004, 48.79999999999998, 100.0, 2020.0),
    ),
    '+proj=cart +ellps=GRS80 +geoc +units=km +vunits=ft +axis=wsu': (
        (-4189228.771255329, -182905.67821247506, 15714817.50724472, None),
        (2.5000000000000004, 48.8, -9.313225746154785e-10, None),
        (-4189294.3270216757, -182908.54043904683, 15715065.080239661, 2020.0),
        (2.4999999999999996, 48.8, 100.00000000093132, 2020.0),
    ),
}


@pytest.mark.parametrize("op", list(_HOOK_CASES))
def test_io_hooks_keep_their_values(op):
    p = compile_pipeline(op)
    got = []
    for args in ((2.5, 48.8), (2.5, 48.8, 100.0, 2020.0)):
        f = p.fwd_deg(*[np.array([v]) for v in args])
        got += [f, p.inv_deg(*f)]
    for run, want in zip(got, _HOOK_CASES[op], strict=True):
        for lane, w in zip(run, want, strict=True):
            assert (lane is None) == (w is None)
            assert w is None or np.array_equal(lane, [w])


def test_registry_matches_coverage_table():
    """Every op marked compiling in COVERAGE.md has a builder, and no
    other op does (``pipeline`` itself is compiled specially)."""
    table = (pathlib.Path(__file__).parents[1] / "COVERAGE.md").read_text()
    marked = set(re.findall(r"`(\w+)` \| ✅ \|", table))
    assert set(_BUILDERS) == marked - {"pipeline"}
    assert len(_BUILDERS) == 183


def test_every_module_is_named_by_production_code():
    """Code that only tests reach is deleted, not kept: every module under
    proj_spark/ must be named by a production file (the graded queries,
    another proj_spark module, perfbench, tools/check_oracle.py or
    tools/submit_flagship.py).

    A text search, not an import graph, because kernel modules are
    resolved by string: a package imported as ``f"proj_spark.kernels.{m}"``
    names each of its modules by a quoted ``"<module>"``."""
    root = pathlib.Path(__file__).parents[1]
    prod = ([root / "__spark_entry__.py", root / "tools" / "check_oracle.py",
             root / "tools" / "submit_flagship.py"]
            + sorted((root / "perfbench").glob("*.py"))
            + sorted((root / "proj_spark").rglob("*.py")))
    text = {p: p.read_text() for p in prod}
    unnamed = []
    for path in sorted((root / "proj_spark").rglob("*.py")):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        if len(parts) < 2:
            continue  # the proj_spark package itself
        dotted = ".".join(parts)
        pkg, leaf = ".".join(parts[:-1]), parts[-1]
        pats = [rf"\b{re.escape(dotted)}\b",
                rf"from {re.escape(pkg)} import \(?[\w\s,]*\b{leaf}\b"]
        dynamic = any(f'"{pkg}.{{' in t for t in text.values())
        if dynamic:
            pats.append(f'"{leaf}"')
        if not any(re.search(pat, t) for p, t in text.items()
                   if p != path for pat in pats):
            unnamed.append(dotted)
    assert not unnamed, f"modules with no production caller: {unnamed}"


def _no_inverse_specs():
    extra = {"urm5": " +n=0.5", "chamb": " +lat_1=0.5 +lat_2=2"}
    specs = [f"+proj={op} +R=6400000{extra.get(op, '')}"
             for op, entry in sorted(_PROJECTIONS.items()) if entry.inv is False]
    # a bespoke builder whose inverse depends on its setup
    return specs + ["+proj=peirce_q +shape=horizontal +R=6400000"]


@pytest.mark.parametrize("spec", _no_inverse_specs())
def test_missing_inverse_raises_one_message(spec):
    op = spec.split()[0].split("=")[1]
    pipe = compile_pipeline(spec)
    x, y, _, _ = pipe.fwd_deg(np.array([10.0]), np.array([20.0]))
    assert np.isfinite(x).all() and np.isfinite(y).all()
    with pytest.raises(NotImplementedError,
                       match=rf"^{op}: no inverse \(reference has none\)$"):
        pipe.inv(x, y)


_GIE = pathlib.Path(__file__).parent / "fixtures" / "gie"


def _gie_first_points():
    ops = {}
    for f in sorted(_GIE.glob("*.json")):
        for block in json.loads(f.read_text()):
            ops.setdefault(block["operation"], block["points"][0]["accept"])
    return ops


def test_nan_coordinate_returns_or_refuses():
    """Every distinct gie operation takes a NaN lane: a 2-point batch (the
    block's first accept, then that point with a NaN latitude, a NaN
    longitude, or both) returns, or raises NotImplementedError, in each
    direction whose finite point alone runs."""
    nan = float("nan")
    failed = []
    for op, accept in _gie_first_points().items():
        pipe = compile_pipeline(op)
        for run in (pipe.fwd_deg, pipe.inv_deg):
            lanes = [np.array([v]) for v in accept]
            try:
                run(*lanes)
            except Exception:
                continue  # the finite point alone is refused
            for bad in ((accept[0], nan), (nan, accept[1]), (nan, nan)):
                batch = [np.array([v, w]) for v, w in
                         zip(accept, (*bad, *accept[2:]))]
                try:
                    run(*batch)
                except NotImplementedError:
                    pass
                except Exception as e:
                    failed.append(f"{op} {run.__name__} {bad}: {e!r}")
    assert not failed, "\n".join(failed)


_PUSH_PIPE = (
    "+proj=pipeline +step +inv +proj=lcc +lat_1=46.8 +lat_0=46.8 +lon_0=0 "
    "+k_0=0.99987742 +x_0=600000 +y_0=2200000 +ellps=clrk80ign +pm=paris "
    "+step +proj=push +v_3 +step +proj=cart +ellps=clrk80ign "
    "+step +proj=xyzgridshift +grids=tests/subset_of_gr3df97a.tif "
    "+grid_ref=output_crs +ellps=GRS80 +step +proj=cart +ellps=GRS80 +inv "
    "+step +proj=pop +v_3 +step +proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=49 "
    "+lat_2=44 +x_0=700000 +y_0=6600000 +ellps=GRS80")


@pytest.mark.parametrize("geoid", ["", " +geoidgrids=egm96_15.gtx"])
def test_push_pop_of_an_absent_lane(geoid):
    """push stores an absent z as absent and pop restores it, so a 2-D
    call runs like the 4-D call with z = 0 (gie geotiff_grids NTF ->
    RGF93 pipeline)."""
    p = compile_pipeline(_PUSH_PIPE + geoid)
    x, y = np.array([814149.529]), np.array([1887019.768])
    x2, y2, z2, _ = p.fwd_deg(x, y)
    x4, y4, z4, _ = p.fwd_deg(x, y, np.array([0.0]), np.array([0.0]))
    assert np.array_equal(x2, x4) and np.array_equal(y2, y4)
    assert x2[0] == pytest.approx(860690.804, abs=1e-3)
    assert y2[0] == pytest.approx(6319036.849, abs=1e-3)
    if geoid:
        assert z2.dtype == np.float64 and np.array_equal(z2, z4)
        assert z2[0] == pytest.approx(-50.409, abs=1e-3)
    else:
        assert z2 is None


_OB_TRAN = ("+proj=ob_tran +o_proj=moll +R=6378137 +o_lon_p=0 +o_lat_p=0 "
            "+lon_0=180")


@pytest.mark.parametrize("hook", ["+units=km", "+vunits=ft",
                                  "+towgs84=1,2,3", "+nadgrids=@null",
                                  "+geoidgrids=egm96_15.gtx"])
def test_ob_tran_hooks_wrap_the_outer_operation(hook):
    """ob_tran's inner +o_proj kernel runs raw: the I/O hook parameters
    belong to ob_tran, not to its inner step."""
    x, y = np.array([10.0]), np.array([20.0])
    bx, by, _, _ = compile_pipeline(_OB_TRAN).fwd_deg(x, y)
    hx, hy, _, _ = compile_pipeline(f"{_OB_TRAN} {hook}").fwd_deg(x, y)
    assert np.isfinite(hx).all() and np.isfinite(hy).all()
    if hook == "+nadgrids=@null":  # the zero shift, up to rounding
        np.testing.assert_allclose(hx, bx, rtol=0, atol=1e-6)
        np.testing.assert_allclose(hy, by, rtol=0, atol=1e-6)
    if hook == "+units=km":
        np.testing.assert_allclose(hx, bx / 1000.0, rtol=1e-15)
        np.testing.assert_allclose(hy, by / 1000.0, rtol=1e-15)
