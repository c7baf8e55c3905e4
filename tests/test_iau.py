"""IAU_2015 auxiliary authority (round 5): data-only iau.sql bundled
verbatim (reference data/sql/iau.sql, generated by the reference's
scripts/build_db_from_iau.py). IAU codes are small numerics that collide
with EPSG codes in every table, so the loader stores every IAU row and
every internal (IAU_2015, code) cross-reference authority-qualified as
'IAU_2015:<code>'. The planetary specifics the reference models through
its CS machinery (src/iso19111/crs.cpp:2386 geocentric-latitude ocentric
CRSs, :4646 west-positive axisswap) are expressed here with the proj4
param spellings our compiler already lowers to the same kernels:
+geoc for spherical-planetocentric coordinate systems and +axis=wnu for
west-positive axes."""

import math

import numpy as np

MARS_R = 3396190.0        # IAU_2015 ellipsoid 49900 (sphere)
MARS_A, MARS_B = 3396190.0, 3376200.0   # ellipsoid 49901


def test_iau_full_registry_resolves_and_compiles():
    """Every IAU_2015 geodetic + projected CRS in iau.sql resolves to a
    proj-string and compiles (the IAU analogue of the 505-code EPSG
    round-trip sweep)."""
    from proj_spark.plans.pipeline import compile_pipeline
    from proj_spark.sources.epsg import _load, epsg_to_proj

    db = _load()
    codes = [k for t in ("geodetic_crs", "projected_crs")
             for k in db[t] if k.startswith("IAU_2015:")]
    assert len(codes) > 2000     # 2201 in the bundled iau.sql
    for c in codes:
        compile_pipeline(epsg_to_proj(c))


def test_iau_mars_sphere_and_eqc_values():
    """Mars (2015) sphere ocentric (49900) and its Equirectangular
    projected CRS (49910): on the sphere x = R*lon, y = R*lat."""
    from proj_spark.plans.pipeline import compile_pipeline
    from proj_spark.sources.epsg import epsg_to_proj

    assert epsg_to_proj("IAU_2015:49900") == "+proj=longlat +R=3396190.0"
    p = compile_pipeline(epsg_to_proj("IAU_2015:49910"))
    x, y, _, _ = p.fwd_deg(np.array([10.0]), np.array([20.0]))
    np.testing.assert_allclose(x, [MARS_R * math.radians(10.0)], rtol=1e-14)
    np.testing.assert_allclose(y, [MARS_R * math.radians(20.0)], rtol=1e-14)
    # clon = 180 variant offsets the longitude of natural origin
    p180 = compile_pipeline(epsg_to_proj("IAU_2015:49915"))
    x2, _, _, _ = p180.fwd_deg(np.array([-170.0]), np.array([0.0]))
    np.testing.assert_allclose(x2, [MARS_R * math.radians(10.0)], rtol=1e-13)


def test_iau_ographic_west_positive_axis():
    """Mars ographic (49901) is west-positive on the retrograde-defined
    body: the PROJECTED/GEOGRAPHIC axis direction 'west' in iau.sql
    becomes the axisswap the reference emits (crs.cpp:4646), spelled
    +axis=wnu."""
    from proj_spark.plans.pipeline import compile_pipeline
    from proj_spark.sources.epsg import epsg_to_proj

    spec = epsg_to_proj("IAU_2015:49901")
    assert "+axis=wnu" in spec and f"+a={MARS_A!r}" in spec
    p = compile_pipeline(spec)
    x, y, _, _ = p.fwd_deg(np.array([10.0]), np.array([20.0]))
    np.testing.assert_allclose(x, [-10.0], atol=1e-12)
    np.testing.assert_allclose(y, [20.0], atol=1e-12)
    # round-trip
    lon, lat, _, _ = p.inv_deg(x, y)
    np.testing.assert_allclose(lon, [10.0], atol=1e-12)


def test_iau_ocentric_geocentric_latitude():
    """Mars ocentric-on-ellipsoid (49902): spherical planetocentric cs —
    coordinates carry GEOCENTRIC latitude, tan(phi') = (1-e^2) tan(phi).
    The fwd direction converts geocentric->geodetic (reference
    src/fwd.cpp:79-81 for the +geoc flag)."""
    from proj_spark.plans.pipeline import compile_pipeline
    from proj_spark.sources.epsg import epsg_to_proj

    spec = epsg_to_proj("IAU_2015:49902")
    assert "+geoc" in spec
    p = compile_pipeline(spec)
    e2 = 1.0 - (MARS_B / MARS_A) ** 2
    phi_geod = 45.0
    phi_geoc = math.degrees(
        math.atan((1.0 - e2) * math.tan(math.radians(phi_geod))))
    _, lat, _, _ = p.fwd_deg(np.array([17.0]), np.array([phi_geoc]))
    np.testing.assert_allclose(lat, [phi_geod], atol=1e-12)


def test_iau_named_proj_methods_and_spherical_mercator():
    """iau.sql conversions using PROJ-authority named methods
    (SINUSOIDAL / MOLLWEIDE / ROBINSON, reference parammappings.cpp) and
    EPSG 1026 Mercator (Spherical) -> merc +R_C (conformal sphere radius
    == R on a sphere)."""
    from proj_spark.plans.pipeline import compile_pipeline
    from proj_spark.sources.epsg import epsg_to_proj

    assert "+proj=sinu" in epsg_to_proj("IAU_2015:49920")
    assert "+proj=moll" in epsg_to_proj("IAU_2015:49940")
    assert "+proj=robin" in epsg_to_proj("IAU_2015:49950")
    spec = epsg_to_proj("IAU_2015:49990")
    assert "+proj=merc" in spec and "+R_C" in spec
    p = compile_pipeline(spec)
    x, y, _, _ = p.fwd_deg(np.array([10.0]), np.array([0.0]))
    np.testing.assert_allclose(x, [MARS_R * math.radians(10.0)], rtol=1e-14)
    np.testing.assert_allclose(y, [0.0], atol=1e-9)
    # sinusoidal equator check: x = R*lon at lat 0
    ps = compile_pipeline(epsg_to_proj("IAU_2015:49920"))
    xs, _, _, _ = ps.fwd_deg(np.array([10.0]), np.array([0.0]))
    np.testing.assert_allclose(xs, [MARS_R * math.radians(10.0)], rtol=1e-14)


def test_iau_codes_do_not_shadow_epsg():
    """IAU reuses EPSG-colliding numerics (conversion 10.., crs 1000..):
    the qualified keys must leave the EPSG rows untouched."""
    from proj_spark.sources.epsg import _load

    db = _load()
    assert db["geodetic_crs"]["4326"][0] == "EPSG"
    assert "IAU_2015:49900" in db["geodetic_crs"]
    # EPSG ellipsoid 7030 (WGS84) vs IAU ellipsoid small codes
    assert db["ellipsoid"]["7030"][0] == "EPSG"
    assert db["ellipsoid"]["IAU_2015:49900"][0] == "IAU_2015"
    # IAU prime meridians are qualified too
    assert db["prime_meridian"]["8901"][0] == "EPSG"


def test_iau_crs_to_crs_and_urn():
    """IAU codes through the crs_to_crs surface and the OGC URN
    spelling: ographic->ocentric on the Mars sphere pair is axis-only."""
    from proj_spark.plans.pipeline import compile_crs_to_crs

    p = compile_crs_to_crs("IAU_2015:49900", "IAU_2015:49910")
    x, _, _, _ = p.fwd_deg(np.array([10.0]), np.array([0.0]))
    np.testing.assert_allclose(x, [MARS_R * math.radians(10.0)], rtol=1e-13)
    u = compile_crs_to_crs("urn:ogc:def:crs:IAU_2015::49900",
                           "urn:ogc:def:crs:IAU_2015::49910")
    xu, _, _, _ = u.fwd_deg(np.array([10.0]), np.array([0.0]))
    np.testing.assert_allclose(xu, x, rtol=0)


def test_iau_projinfo_cli(capsys):
    from proj_spark.cli import main

    assert main(["projinfo", "IAU_2015:30100"]) == 0
    out = capsys.readouterr().out
    assert "+proj=longlat" in out and "1737400.0" in out


def test_cross_body_transform_refused():
    """crs_to_crs between different celestial bodies raises (reference
    coordinateoperationfactory.cpp createOperationsGeodToGeod: semi-major
    axes differing by > REL_ERROR_FOR_SAME_CELESTIAL_BODY = 0.007
    relative; same PROJ_IGNORE_CELESTIAL_BODY override, and the body
    names come from the bundled celestial_body rows)."""
    import os

    import pytest

    from proj_spark.plans.pipeline import compile_crs_to_crs

    with pytest.raises(ValueError, match="Mars vs Moon"):
        compile_crs_to_crs("IAU_2015:49900", "IAU_2015:30100")
    with pytest.raises(ValueError, match="Earth vs Mars"):
        compile_crs_to_crs("EPSG:4326", "IAU_2015:49910")
    os.environ["PROJ_IGNORE_CELESTIAL_BODY"] = "YES"
    try:
        compile_crs_to_crs("IAU_2015:49900", "IAU_2015:30100")
    finally:
        del os.environ["PROJ_IGNORE_CELESTIAL_BODY"]
    # same body, any surface: fine
    compile_crs_to_crs("IAU_2015:49902", "IAU_2015:49901")
    compile_crs_to_crs("EPSG:4326", "EPSG:3857")


def test_dispatch_path_iau_and_geoc_ballpark():
    """candidate_operations accepts authority-qualified IAU codes,
    refuses cross-body pairs, and its ballpark for an ocentric side runs
    the geoc conversion instead of a silent noop copy (the reference
    composes the Geographic/Geocentric-latitude conversion,
    createOperationsFromSphericalPlanetocentric)."""
    import pytest

    from proj_spark.cli import main
    from proj_spark.sources.epsg_ops import candidate_operations

    with pytest.raises(ValueError,
                       match="celestial body.*PROJ_IGNORE_CELESTIAL_BODY"):
        candidate_operations("IAU_2015:49900", "IAU_2015:30100")

    c = candidate_operations("IAU_2015:49900", "IAU_2015:49902")
    bp = c[-1]
    assert bp.name == "ballpark"
    e2 = 1.0 - (MARS_B / MARS_A) ** 2
    want = math.degrees(math.atan((1.0 - e2) * math.tan(math.radians(45.0))))
    _, lat, _, _ = bp.pipeline.fwd_deg(np.array([10.0]), np.array([45.0]))
    np.testing.assert_allclose(lat, [want], atol=1e-12)

    # the CLI surfaces the cross-body refusal as an error, not a traceback
    assert main(["projinfo", "-s", "EPSG:4326", "-t", "IAU_2015:49900"]) == 1
