"""NTv2 grid-shift tests: reference-fixture values, roundtrip property,
and the Spark batch path (grid broadcast by closure capture)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from proj_spark.plans.pipeline import compile_pipeline

GRIDS = os.path.join(os.path.dirname(__file__), "fixtures", "grids", "tests")
NTF = os.path.join(GRIDS, "ntf_r93.gsb")
BETA = os.path.join(GRIDS, "BETA2007.gsb")

pytestmark = pytest.mark.skipif(
    not (os.path.exists(NTF) and os.path.exists(BETA)),
    reason="bundled test grids not available",
)

# DHDN -> ETRS89 fixture pairs from the reference's own regression suite
# (/root/reference/test/gie/DHDN_ETRS89.gie:9-40, tolerance 1 mm); the gie
# block runs through cs2cs datum emulation — these exercise the identical
# grid via the explicit +proj=hgridshift path.
DHDN_PAIRS = [
    ((7.483333333333, 53.500000000000), (7.482506019176, 53.498461143331)),
    ((10.333333333333, 48.833333333333), (10.332117283303, 48.832327188640)),
    ((8.000000000000, 50.083333333333), (7.999097344043, 50.082172046476)),
    ((10.016666666667, 51.033333333333), (10.015460839103, 51.032075951188)),
    ((10.466666666667, 54.333333333333), (10.465373788153, 54.331696254077)),
    ((13.466666666667, 53.766666666667), (13.464877774631, 53.765109112396)),
]


def _err_m(lon1, lat1, lon2, lat2):
    return float(np.hypot(
        (lon1 - lon2) * 111194.9 * np.cos(np.radians(lat1)),
        (lat1 - lat2) * 111194.9,
    ))


def test_hgridshift_ntf_fixture():
    p = compile_pipeline("+proj=hgridshift +grids=ntf_r93.gsb +ellps=GRS80")
    lam, phi, _, _ = p.fwd_deg(np.array([2.250704350387]), np.array([46.500051597273]))
    assert _err_m(lam[0], phi[0], 2.25, 46.5) < 1e-3
    lam2, phi2, _, _ = p.inv_deg(np.array([2.25]), np.array([46.5]))
    assert _err_m(lam2[0], phi2[0], 2.250704350387, 46.500051597273) < 1e-3


def test_hgridshift_dhdn_pairs():
    p = compile_pipeline("+proj=hgridshift +grids=BETA2007.gsb +ellps=bessel")
    src = np.array([a for a, _ in DHDN_PAIRS])
    dst = np.array([b for _, b in DHDN_PAIRS])
    lam, phi, _, _ = p.fwd_deg(src[:, 0], src[:, 1])
    for i in range(len(DHDN_PAIRS)):
        assert _err_m(lam[i], phi[i], dst[i, 0], dst[i, 1]) < 1e-3, i


def test_hgridshift_roundtrip_and_outside():
    p = compile_pipeline("+proj=hgridshift +grids=BETA2007.gsb +ellps=bessel")
    rng = np.random.default_rng(11)
    lon = rng.uniform(6.5, 14.5, 500)
    lat = rng.uniform(47.5, 54.5, 500)
    lam, phi, _, _ = p.fwd_deg(lon, lat)
    lon2, lat2, _, _ = p.inv_deg(lam, phi)
    assert np.nanmax(np.abs(lon2 - lon)) < 1e-9
    assert np.nanmax(np.abs(lat2 - lat)) < 1e-9
    # outside every subgrid -> error-in-band NaN
    lam3, phi3, _, _ = p.fwd_deg(np.array([100.0]), np.array([0.0]))
    assert np.isnan(lam3[0]) and np.isnan(phi3[0])


def test_hgridshift_spark_batch(spark):
    from pyspark.sql import functions as F

    from proj_spark.functions import transform_udf

    df = spark.range(200).select(
        (6.5 + (F.col("id") % 80) / 10.0).alias("lon"),
        (47.5 + (F.col("id") % 70) / 10.0).alias("lat"),
    )
    udf = transform_udf("+proj=hgridshift +grids=BETA2007.gsb +ellps=bessel")
    out = df.withColumn("s", udf(F.col("lon"), F.col("lat"))).select(
        "lon", "lat", "s.x", "s.y"
    ).toPandas()
    p = compile_pipeline("+proj=hgridshift +grids=BETA2007.gsb +ellps=bessel")
    lam, phi, _, _ = p.fwd_deg(out["lon"].to_numpy(), out["lat"].to_numpy())
    np.testing.assert_array_equal(out["x"].to_numpy(), lam)  # bit-identical
    np.testing.assert_array_equal(out["y"].to_numpy(), phi)


def test_vgridshift_egm96_fixture():
    """gie vgridshift fixture (more_builtins.gie): fwd z 0 -> -36.394090697
    at (12.5, 55.5), 1 cm tolerance; + roundtrip."""
    p = compile_pipeline("+proj=vgridshift +grids=egm96_15.gtx +ellps=GRS80")
    lam, phi, z, _ = p.fwd_deg(np.array([12.5]), np.array([55.5]), np.array([0.0]))
    assert abs(z[0] - (-36.394090697)) < 0.01
    _, _, z2, _ = p.inv_deg(lam, phi, z)
    assert abs(z2[0]) < 1e-9
    # lon wrap (gie tests -180.1 passes through the wrap path)
    _, _, z3, _ = p.fwd_deg(np.array([-180.1]), np.array([0.0]), np.array([0.0]))
    assert np.isfinite(z3[0])


def _flat_grid(name, w, s, res, n, val, parent="NONE"):
    from proj_spark.sources.ntv2 import ShiftGrid

    d2r = np.pi / 180.0
    shape = (n, n)
    return ShiftGrid(
        name, w * d2r, s * d2r, res * d2r, res * d2r, n, n,
        np.full(shape, val * d2r, dtype=np.float32),
        np.full(shape, val * d2r, dtype=np.float32),
        parent=parent,
    )


def test_nested_subgrid_child_wins(tmp_path):
    """Multi-subgrid .gsb files list the coarse parent first; the reference
    (grids.cpp gridAt :2751-2775) descends via PARENT records so the most-
    detailed containing subgrid wins. Divergent parent/child values written
    to a real two-level .gsb and read back: the child value must win inside
    its extent (first-containing file order would return parent values)."""
    from proj_spark.kernels.gridshift import hgridshift_fwd
    from proj_spark.sources.ntv2 import parse_gsb, write_gsb

    d2r = np.pi / 180.0
    # float32-exact flat shifts so the value identifies the grid that won
    parent = _flat_grid("COARSE", 0.0, 0.0, 1.0, 11, 0.001)   # [0,10]^2
    child = _flat_grid("FINE", 2.0, 2.0, 0.25, 9, 0.005,
                       parent="COARSE")                        # [2,4]^2
    path = str(tmp_path / "two_level.gsb")
    write_gsb(path, [parent, child])
    grids = parse_gsb(path)
    assert [g.parent for g in grids] == ["NONE", "COARSE"]

    lam = np.array([3.0, 7.0]) * d2r
    phi = np.array([3.0, 7.0]) * d2r
    out_l, out_p = hgridshift_fwd(lam, phi, grids)
    # (3,3) inside the child -> child shift; (7,7) only in parent
    np.testing.assert_allclose(out_l[0] / d2r, 3.005, atol=1e-6)
    np.testing.assert_allclose(out_l[1] / d2r, 7.001, atol=1e-6)
    np.testing.assert_allclose(out_p[0] / d2r, 3.005, atol=1e-6)


def test_three_level_descent_and_toplevel_file_order():
    """Grandchild wins through two descent levels; unrelated overlapping
    TOP-LEVEL grids resolve by file order (reference findGrid semantics),
    not by extent area."""
    from proj_spark.kernels.gridshift import hgridshift_fwd

    d2r = np.pi / 180.0
    g1 = _flat_grid("L1", 0.0, 0.0, 1.0, 11, 0.001)
    g2 = _flat_grid("L2", 2.0, 2.0, 0.25, 9, 0.003, parent="L1")
    g3 = _flat_grid("L3", 2.5, 2.5, 0.125, 9, 0.007, parent="L2")
    lam = np.array([3.0, 2.1, 8.0]) * d2r
    phi = np.array([3.0, 2.1, 8.0]) * d2r
    out_l, _ = hgridshift_fwd(lam, phi, [g1, g2, g3])
    np.testing.assert_allclose(out_l[0] / d2r, 3.007, atol=1e-9)  # grandchild
    np.testing.assert_allclose(out_l[1] / d2r, 2.103, atol=1e-9)  # child only
    np.testing.assert_allclose(out_l[2] / d2r, 8.001, atol=1e-9)  # parent only

    # two top-level grids, big listed first: file order wins inside overlap
    a = _flat_grid("A", 0.0, 0.0, 1.0, 11, 0.001)
    b = _flat_grid("B", 2.0, 2.0, 0.25, 9, 0.005)
    out_l2, _ = hgridshift_fwd(np.array([3.0]) * d2r, np.array([3.0]) * d2r,
                               [a, b])
    np.testing.assert_allclose(out_l2[0] / d2r, 3.001, atol=1e-9)


def test_null_hgrid_is_the_identity():
    """``null`` is the world-covering zero-shift grid for horizontal grids
    too (grids.cpp NullHorizontalShiftGrid), under +grids and +nadgrids."""
    lon = np.array([-179.5, -80.0, 0.0, 10.0, 179.5])
    lat = np.array([-89.0, 50.0, 0.0, -20.0, 89.0])
    for spec in ("+proj=hgridshift +grids=null",
                 "+proj=hgridshift +grids=@missing.gsb,@null"):
        p = compile_pipeline(spec)
        lam, phi, _, _ = p.fwd_deg(lon, lat)
        np.testing.assert_allclose(lam, lon, rtol=0, atol=1e-12)
        np.testing.assert_allclose(phi, lat, rtol=0, atol=1e-12)
        lam, phi, _, _ = p.inv_deg(lon, lat)
        np.testing.assert_allclose(lam, lon, rtol=0, atol=1e-12)
        np.testing.assert_allclose(phi, lat, rtol=0, atol=1e-12)


# GDAL's EPSG:3857 WKT1: the PROJ4 extension carries +nadgrids=@null
WKT_3857 = (
    'PROJCS["WGS 84 / Pseudo-Mercator",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563,AUTHORITY["EPSG","7030"]],'
    'AUTHORITY["EPSG","6326"]],PRIMEM["Greenwich",0,AUTHORITY["EPSG","8901"]],'
    'UNIT["degree",0.0174532925199433,AUTHORITY["EPSG","9122"]],'
    'AUTHORITY["EPSG","4326"]],PROJECTION["Mercator_1SP"],'
    'PARAMETER["central_meridian",0],PARAMETER["scale_factor",1],'
    'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
    'UNIT["metre",1,AUTHORITY["EPSG","9001"]],AXIS["Easting",EAST],'
    'AXIS["Northing",NORTH],EXTENSION["PROJ4","+proj=merc +a=6378137 '
    '+b=6378137 +lat_ts=0.0 +lon_0=0.0 +x_0=0.0 +y_0=0 +k=1.0 +units=m '
    '+nadgrids=@null +wktext +no_defs"],AUTHORITY["EPSG","3857"]]')


def test_epsg_3857_wkt_with_null_nadgrids():
    from proj_spark.plans.pipeline import compile_crs_to_crs

    lon = np.array([2.0, 151.2, 0.0, -122.4])
    lat = np.array([49.0, -33.9, 0.0, 37.8])
    X, Y, _, _ = compile_crs_to_crs("EPSG:4326", WKT_3857).fwd_deg(lon, lat)
    Xr, Yr, _, _ = compile_crs_to_crs("EPSG:4326", "EPSG:3857").fwd_deg(
        lon, lat)
    assert np.isfinite(X).all() and np.isfinite(Y).all()
    np.testing.assert_allclose(X, Xr, rtol=0, atol=1e-3)
    np.testing.assert_allclose(Y, Yr, rtol=0, atol=1e-3)


def test_ntv1_grid_reads():
    """NTv1 (.dat) grids read and shift (more_builtins' NAD27 datum lists
    ntv1_can.dat)."""
    p = compile_pipeline("+proj=hgridshift +grids=ntv1_can.dat")
    lam, phi, _, _ = p.fwd_deg(np.array([-80.0]), np.array([50.0]))
    assert 0 < _err_m(lam[0], phi[0], -80.0, 50.0) < 100.0
    lon2, lat2, _, _ = p.inv_deg(lam, phi)
    assert _err_m(lon2[0], lat2[0], -80.0, 50.0) < 1e-6


_DEF = ("+proj=pipeline +step +proj=cart +ellps=GRS80 +step +proj=deformation "
        "+xy_grids={xy} +z_grids=tests/nkgrf03vel_realigned_z_extract.gtx "
        "+ellps=GRS80 +dt=1 +step +proj=cart +ellps=GRS80 +inv")
_CT2 = "tests/nkgrf03vel_realigned_xy_extract.ct2"


@pytest.mark.parametrize("xy", [f"{_CT2},@missing.ct2", f"@missing.ct2,{_CT2}"])
def test_deformation_optional_grid_per_name(xy):
    """``@`` marks one name of +xy_grids optional, not the whole list:
    either order gives the single-grid output at the gie point."""
    args = (np.array([21.5]), np.array([63.0]), np.array([0.0]))
    want = compile_pipeline(_DEF.format(xy=_CT2)).fwd_deg(*args)[:3]
    got = compile_pipeline(_DEF.format(xy=xy)).fwd_deg(*args)[:3]
    assert np.isfinite(want).all()
    np.testing.assert_array_equal(got, want)


def test_gtx_nodata_rule_skips_geotiff_vgrids():
    """|value * multiplier| > 1000 marks nodata only in GTX grids
    (GTXVerticalShiftGrid::isNodata); a GeoTIFF grid keeps its value."""
    p = compile_pipeline(
        "+proj=vgridshift +grids=tests/test_vgrid_float64.tif +multiplier=100")
    _, _, z, _ = p.fwd_deg(np.array([7.0]), np.array([52.0]), np.array([0.0]))
    assert z[0] == pytest.approx(1600.0, abs=1e-9)


_G = "tests/us_noaa_nadcon5_nad83_2007_nad83_2011_conus_extract.tif"


@pytest.mark.parametrize("first", ["hgridshift", "vgridshift"])
def test_one_file_as_horizontal_and_vertical_grid(first, monkeypatch):
    """The grid cache is keyed by reader, so one file serves hgridshift and
    vgridshift in one process whichever is read first."""
    from proj_spark.sources import grids

    monkeypatch.setattr(grids, "_CACHE", {})
    h = f"+step +proj=hgridshift +grids={_G}"
    v = f"+step +proj=vgridshift +grids={_G} +multiplier=1"
    steps = (h, v) if first == "hgridshift" else (v, h)
    for s in steps:
        compile_pipeline(f"+proj=pipeline {s}")
    p = compile_pipeline(f"+proj=pipeline {h} {v}")
    lam, phi, z, _ = p.fwd_deg(np.array([-95.5]), np.array([37.0]),
                               np.array([0.0]))
    assert lam[0] == pytest.approx(-95.49999982191925, abs=1e-12)
    assert phi[0] == pytest.approx(37.00000001472325, abs=1e-12)
    assert np.isfinite(z[0])


def _lon_diff(a, b):
    return (np.asarray(a) - np.asarray(b) + 180.0) % 360.0 - 180.0


def test_hgridshift_tests_longitude_plus_minus_360():
    """A grid holds a longitude past its edge at +-360 degrees (grids.cpp
    isPointInExtent), for hgridshift as for gridshift and vgridshift:
    alaska spans -194..-128 degrees, so 190 degrees is -170."""
    p = compile_pipeline("+proj=hgridshift +grids=alaska")
    for run in (p.fwd_deg, p.inv_deg):
        lam, phi, _, _ = run(np.array([190.0]), np.array([60.0]))
        lam0, phi0, _, _ = run(np.array([-170.0]), np.array([60.0]))
        assert np.isfinite(lam).all() and np.isfinite(phi).all()
        np.testing.assert_allclose(_lon_diff(lam, lam0), 0.0, atol=1e-9)
        np.testing.assert_allclose(phi, phi0, rtol=0, atol=1e-9)


def test_nad27_east_of_the_antimeridian():
    """+datum=NAD27's +nadgrids list reaches 178E through alaska's
    -182 degrees."""
    from proj_spark.plans.pipeline import compile_crs_to_crs

    p = compile_crs_to_crs("+proj=longlat +datum=NAD27",
                           "+proj=longlat +datum=WGS84")
    lam, phi, _, _ = p.fwd_deg(np.array([178.0]), np.array([52.0]))
    lam0, phi0, _, _ = p.fwd_deg(np.array([-182.0]), np.array([52.0]))
    assert np.isfinite(lam).all() and np.isfinite(phi).all()
    np.testing.assert_allclose(_lon_diff(lam, lam0), 0.0, atol=1e-9)
    np.testing.assert_allclose(phi, phi0, rtol=0, atol=1e-9)


_SUBGRID = "tests/test_hgrid_with_subgrid.tif"


def test_gridshift_and_hgridshift_pick_one_subgrid():
    """ONtronto names CAeast as its parent but reaches 0.042 degrees west
    of it, so it is a top-level grid (insertIntoHierarchy) for gridshift
    as for hgridshift: inside CAeast both take CAeast."""
    g = compile_pipeline(f"+proj=gridshift +grids={_SUBGRID}")
    h = compile_pipeline(f"+proj=hgridshift +grids={_SUBGRID}")
    args = (np.array([-80.48]), np.array([44.55]))
    for a, b in zip(g.fwd_deg(*args)[:2], h.fwd_deg(*args)[:2]):
        np.testing.assert_allclose(a, b, rtol=0, atol=1e-9)
    # the gie Toronto point lies in ONtronto's strip west of CAeast
    lam, phi, _, _ = g.fwd_deg(np.array([-80.5041667]),
                               np.array([44.5458333]))
    assert lam[0] == pytest.approx(-80.50401615833, abs=1e-9)
    assert phi[0] == pytest.approx(44.5458827236, abs=1e-9)


def test_vgrid_list_resolves_in_list_order():
    """The first grid of a +grids list that holds a point serves it
    (read_vgrid_value), not the smallest one."""
    def z(grids):
        p = compile_pipeline(f"+proj=vgridshift +multiplier=1 +grids={grids}")
        return p.fwd_deg(np.array([21.3]), np.array([63.0]),
                         np.array([0.0]))[2][0]

    nkg = "tests/nkgrf03vel_realigned_z_extract.gtx"
    alone = z("egm96_15.gtx")
    assert alone == pytest.approx(18.959, abs=1e-3)
    assert z(f"egm96_15.gtx,{nkg}") == alone
    assert z(f"{nkg},egm96_15.gtx") == pytest.approx(8.377, abs=1e-3)


_RAGTBT = "tests/fr_ign_RAGTBT2016.tif"


@pytest.mark.parametrize("spec", [
    f"+proj=xyzgridshift +grids={_RAGTBT}",
    f"+proj=deformation +grids={_RAGTBT} +dt=1",
])
def test_grid_with_too_few_samples_fails_at_compile(spec):
    """A 1-sample geoid grid has no second or third channel: the channel
    resolver refuses it when the step compiles, naming the file, instead
    of an IndexError at the first point inside it."""
    with pytest.raises(ValueError, match="fr_ign_RAGTBT2016.tif"):
        compile_pipeline(spec)


def test_null_grid_returns_the_point_unchanged():
    """A point the ``null`` grid serves leaves hgridshift as it came, in
    both directions (grids.cpp isNullGrid). Coordinates span eight decades
    of magnitude: (x - west) + west drops the low bits of a small x."""
    from proj_spark.plans.pipeline import HgridshiftStep

    rng = np.random.default_rng(0)
    lam = rng.uniform(-1, 1, 10_001) * 10 ** rng.uniform(-8, 0.49, 10_001)
    phi = rng.uniform(-1, 1, 10_001) * 10 ** rng.uniform(-8, 0.19, 10_001)
    step = HgridshiftStep({"grids": "null"})
    for run in (step.fwd, step.inv):
        out_l, out_p, _, _ = run(lam, phi, None, None)
        assert (out_l == lam).all() and (out_p == phi).all()


def test_deformation_xy_grids_reads_ntv2():
    """+xy_grids reads every horizontal grid format, velocities as stored:
    the NTv2 longitude plane is the datum-shift reading's negation."""
    from proj_spark.sources import grids

    path = grids.find("ntv2_0_downsampled.gsb")
    for vel, shift in zip(grids.read_velocities(path),
                          grids.read_hgrids(path)):
        np.testing.assert_array_equal(vel.lon_shift, -shift.lon_shift)
        np.testing.assert_array_equal(vel.lat_shift, shift.lat_shift)
    p = compile_pipeline(_DEF.format(xy="ntv2_0_downsampled.gsb").replace(
        "tests/nkgrf03vel_realigned_z_extract.gtx", "egm96_15.gtx"))
    out = p.fwd_deg(np.array([-80.0]), np.array([50.0]), np.array([0.0]))
    assert np.isfinite(out[:3]).all()


def test_positive_value_rule_keeps_each_reading():
    """The named positive_value rule of the channel resolver: outside its
    subgrid, the first grid of test_hgrid_with_subgrid_no_grid_name.tif
    says positive_value=west. hgridshift's open path honours the tag;
    gridshift reads the sample as stored."""
    f = "tests/test_hgrid_with_subgrid_no_grid_name.tif"
    args = (np.array([-115.7]), np.array([51.6]))
    for op, arcsec in (("hgridshift", 3.886), ("gridshift", -3.886)):
        lam = compile_pipeline(f"+proj={op} +grids={f}").fwd_deg(*args)[0]
        assert (lam[0] + 115.7) * 3600 == pytest.approx(arcsec, abs=1e-3)


@pytest.mark.parametrize("op", ["hgridshift", "gridshift"])
def test_inverse_switches_grid_when_an_iterate_leaves(op):
    """Near CAeast's west edge the inverse iterate leaves CAeast; the grid
    holding it takes over (pj_hgrid_apply_internal's grid-switch
    fallback), so fwd(inv(x)) == x within 1e-6 m on the whole lattice."""
    p = compile_pipeline(f"+proj={op} +grids={_SUBGRID}")
    lon, lat = (a.ravel() for a in np.meshgrid(np.linspace(-80.56, -80.44, 121),
                                               np.linspace(44.50, 44.59, 91)))
    ilon, ilat, _, _ = p.inv_deg(lon, lat)
    flon, flat, _, _ = p.fwd_deg(ilon, ilat)
    err = np.hypot((flon - lon) * np.cos(np.radians(lat)), flat - lat)
    held = np.isfinite(err)  # the lattice's south-west is in no grid
    assert held.sum() == 8610
    assert err[held].max() * np.pi / 180 * 6378137.0 < 1e-6


_SWEEP_STEPS = {
    "tif": ("hgridshift", "vgridshift", "gridshift", "xyzgridshift",
            "deformation +grids", "deformation +xy_grids"),
    "gtx": ("vgridshift",),
    "other": ("hgridshift", "deformation +xy_grids"),
}


def _sweep_cases():
    for f in sorted(os.listdir(GRIDS)):
        if f.endswith(".json"):
            continue
        kind = f.rsplit(".", 1)[-1] if "." in f else "other"
        for op in _SWEEP_STEPS.get(kind, _SWEEP_STEPS["other"]):
            yield f, op


def _sweep_one(f, op):
    """None when ``op`` over ``f`` refuses at compile naming the file, or
    runs fwd and inv to finite-or-NaN output on a lattice over the grid's
    extent +- 2 cells; else what went wrong."""
    from proj_spark.kernels import cart as k_cart

    name, extra = f"tests/{f}", " +dt=1"
    if op == "deformation +grids":
        spec = f"+proj=deformation +grids={name}"
    elif op == "deformation +xy_grids":
        spec = f"+proj=deformation +xy_grids={name} +z_grids=egm96_15.gtx"
    else:
        spec, extra = f"+proj={op} +grids={name}", ""
    try:
        step = compile_pipeline(spec + extra).steps[0]
    except (ValueError, FileNotFoundError) as e:
        return None if f in str(e) else f"refused without naming it: {e}"
    gs = next(v for v in (getattr(step, "hgrids", None),
                          getattr(step, "grids", None),
                          getattr(getattr(step, "t", None), "grids", None))
              if v is not None)
    g0 = gs[0]
    xs = np.linspace(min(g.west for g in gs) - 2 * g0.resx,
                     max(g.east for g in gs) + 2 * g0.resx, 15)
    ys = np.linspace(min(g.south for g in gs) - 2 * g0.resy,
                     max(g.north for g in gs) + 2 * g0.resy, 15)
    x, y = (a.ravel() for a in np.meshgrid(xs, ys))
    z = np.zeros_like(x)
    if step.left == "cart":
        x, y, z = k_cart.cart_fwd(x, np.clip(y, -np.pi / 2, np.pi / 2), z,
                                  step.ell)
    for run in (step.fwd, step.inv):
        out = run(x, y, z, None)[:3]
        if any(np.isinf(np.asarray(o, dtype=float)).any() for o in out):
            return f"{run.__name__} gave an infinite value"
    return None


def test_every_bundled_grid_in_every_step():
    """Every bundled grid file through every grid step that takes its
    format either refuses at compile with an error naming the file or
    runs both directions to finite-or-NaN output."""
    bad = {c: r for c in _sweep_cases() if (r := _sweep_one(*c)) is not None}
    assert not bad


@pytest.mark.filterwarnings("error::RuntimeWarning")
@pytest.mark.parametrize("spec", [
    "+proj=hgridshift +grids=BETA2007.gsb +ellps=bessel",
    "+proj=vgridshift +grids=egm96_15.gtx +multiplier=1",
])
def test_nan_points_return_nan_without_a_cast(spec):
    """A NaN coordinate reaches no grid cell: both directions return NaN
    for it without casting NaN to an index (numpy warns on that cast), and
    the finite point beside it keeps the output it has alone."""
    p = compile_pipeline(spec)
    lon = np.array([np.nan, 10.0, np.nan, 10.0])
    lat = np.array([50.0, np.nan, np.nan, 50.0])
    for run in (p.fwd_deg, p.inv_deg):
        got = run(lon, lat, np.zeros(4))[:3]
        alone = run(lon[3:], lat[3:], np.zeros(1))[:3]
        assert np.isnan(got[0][:3]).all() and np.isnan(got[1][:3]).all()
        assert [g[3] for g in got] == [a[0] for a in alone]
