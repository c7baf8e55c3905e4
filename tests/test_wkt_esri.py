"""ESRI WKT1 (.prj) dialect (sources.wkt ESRI tables) — ESRI spellings
of already-supported projections parse to the same pipelines as their
OGC spellings (reference src/iso19111/operation/esriparammappings.cpp
used as the mapping spec)."""

import numpy as np

from proj_spark.plans.pipeline import compile_pipeline
from proj_spark.sources.wkt import wkt_to_proj

GCS_WGS84 = ('GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
             'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
             'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]')

GCS_NAD83 = ('GEOGCS["GCS_North_American_1983",'
             'DATUM["D_North_American_1983",'
             'SPHEROID["GRS_1980",6378137.0,298.257222101]],'
             'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]')


def _match(esri_wkt: str, proj_str: str, lon, lat, atol=1e-6):
    got = compile_pipeline(wkt_to_proj(esri_wkt))
    want = compile_pipeline(proj_str)
    lon = np.asarray(lon, dtype=float)
    lat = np.asarray(lat, dtype=float)
    gx, gy, _, _ = got.fwd_deg(lon.copy(), lat.copy())
    wx, wy, _, _ = want.fwd_deg(lon.copy(), lat.copy())
    np.testing.assert_allclose(gx, wx, atol=atol)
    np.testing.assert_allclose(gy, wy, atol=atol)


def test_esri_lcc_2sp():
    # no 1SP/2SP suffix in the name: 2SP inferred from Standard_Parallel_2
    wkt = (f'PROJCS["NAD_1983_Texas_Centric",{GCS_NAD83},'
           'PROJECTION["Lambert_Conformal_Conic"],'
           'PARAMETER["False_Easting",1500000.0],'
           'PARAMETER["False_Northing",5000000.0],'
           'PARAMETER["Central_Meridian",-100.0],'
           'PARAMETER["Standard_Parallel_1",27.5],'
           'PARAMETER["Standard_Parallel_2",35.0],'
           'PARAMETER["Latitude_Of_Origin",18.0],'
           'UNIT["Meter",1.0]]')
    _match(wkt,
           "+proj=lcc +lat_0=18 +lon_0=-100 +lat_1=27.5 +lat_2=35 "
           "+x_0=1500000 +y_0=5000000 +ellps=GRS80",
           [-103.0, -98.0], [29.0, 33.5])


def test_esri_lcc_1sp_scale_factor():
    wkt = (f'PROJCS["LCC_1SP",{GCS_WGS84},'
           'PROJECTION["Lambert_Conformal_Conic"],'
           'PARAMETER["False_Easting",0.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",5.0],'
           'PARAMETER["Standard_Parallel_1",46.0],'
           'PARAMETER["Scale_Factor",0.99],'
           'PARAMETER["Latitude_Of_Origin",46.0],'
           'UNIT["Meter",1.0]]')
    _match(wkt,
           "+proj=lcc +lat_1=46 +lat_0=46 +lon_0=5 +k_0=0.99 "
           "+x_0=0 +y_0=0 +ellps=WGS84",
           [3.0, 7.5], [44.0, 48.0])


def test_esri_gauss_kruger_and_transverse_mercator():
    for pname in ("Gauss_Kruger", "Transverse_Mercator"):
        wkt = (f'PROJCS["TM",{GCS_WGS84},'
               f'PROJECTION["{pname}"],'
               'PARAMETER["False_Easting",500000.0],'
               'PARAMETER["False_Northing",0.0],'
               'PARAMETER["Central_Meridian",9.0],'
               'PARAMETER["Scale_Factor",0.9996],'
               'PARAMETER["Latitude_Of_Origin",0.0],'
               'UNIT["Meter",1.0]]')
        _match(wkt,
               "+proj=tmerc +lat_0=0 +lon_0=9 +k_0=0.9996 "
               "+x_0=500000 +y_0=0 +ellps=WGS84",
               [5.0, 12.0], [-35.0, 52.0])


def test_esri_web_mercator():
    wkt = (f'PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",{GCS_WGS84},'
           'PROJECTION["Mercator_Auxiliary_Sphere"],'
           'PARAMETER["False_Easting",0.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",0.0],'
           'PARAMETER["Standard_Parallel_1",0.0],'
           'PARAMETER["Auxiliary_Sphere_Type",0.0],'
           'UNIT["Meter",1.0]]')
    _match(wkt, "+proj=webmerc +ellps=WGS84",
           [-122.4, 2.35, 151.2], [37.8, 48.85, -33.9])


def test_esri_mercator_is_variant_b():
    wkt = (f'PROJCS["World_Mercator",{GCS_WGS84},'
           'PROJECTION["Mercator"],'
           'PARAMETER["False_Easting",0.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",0.0],'
           'PARAMETER["Standard_Parallel_1",20.0],'
           'UNIT["Meter",1.0]]')
    _match(wkt, "+proj=merc +lat_ts=20 +lon_0=0 +ellps=WGS84",
           [10.0, -45.0], [30.0, -10.0])


def test_esri_polar_stereographic_poles():
    wkt = (f'PROJCS["NSIDC-ish",{GCS_WGS84},'
           'PROJECTION["Stereographic_North_Pole"],'
           'PARAMETER["False_Easting",0.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",-45.0],'
           'PARAMETER["Standard_Parallel_1",70.0],'
           'UNIT["Meter",1.0]]')
    _match(wkt,
           "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +ellps=WGS84",
           [-100.0, 20.0], [75.0, 82.0])
    wkt_s = wkt.replace("North_Pole", "South_Pole").replace(
        '"Standard_Parallel_1",70.0', '"Standard_Parallel_1",-71.0')
    _match(wkt_s,
           "+proj=stere +lat_0=-90 +lat_ts=-71 +lon_0=-45 +ellps=WGS84",
           [-100.0, 20.0], [-75.0, -82.0])


def test_esri_double_stereographic():
    # RD New-style oblique (double) stereographic
    wkt = (f'PROJCS["RD-ish",{GCS_WGS84},'
           'PROJECTION["Double_Stereographic"],'
           'PARAMETER["False_Easting",155000.0],'
           'PARAMETER["False_Northing",463000.0],'
           'PARAMETER["Central_Meridian",5.38763888888889],'
           'PARAMETER["Scale_Factor",0.9999079],'
           'PARAMETER["Latitude_Of_Origin",52.1561605555556],'
           'UNIT["Meter",1.0]]')
    _match(wkt,
           "+proj=sterea +lat_0=52.1561605555556 +lon_0=5.38763888888889 "
           "+k_0=0.9999079 +x_0=155000 +y_0=463000 +ellps=WGS84",
           [4.9, 6.1], [51.8, 52.5])


def test_esri_hom_azimuth_center():
    wkt = (f'PROJCS["HOM_center",{GCS_WGS84},'
           'PROJECTION["Hotine_Oblique_Mercator_Azimuth_Center"],'
           'PARAMETER["False_Easting",400000.0],'
           'PARAMETER["False_Northing",100000.0],'
           'PARAMETER["Scale_Factor",0.99984],'
           'PARAMETER["Azimuth",53.0],'
           'PARAMETER["Longitude_Of_Center",-80.0],'
           'PARAMETER["Latitude_Of_Center",40.0],'
           'UNIT["Meter",1.0]]')
    _match(wkt,
           "+proj=omerc +lat_0=40 +lonc=-80 +alpha=53 +gamma=53 "
           "+k_0=0.99984 +x_0=400000 +y_0=100000 +ellps=WGS84",
           [-82.0, -78.5], [39.0, 41.5])


def test_esri_robinson_simple():
    wkt = (f'PROJCS["World_Robinson",{GCS_WGS84},'
           'PROJECTION["Robinson"],'
           'PARAMETER["False_Easting",0.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",10.0],'
           'UNIT["Meter",1.0]]')
    _match(wkt, "+proj=robin +lon_0=10 +ellps=WGS84",
           [-120.0, 60.0], [35.0, -50.0])


def test_esri_us_foot_unit():
    ftus = 0.30480060960121924
    wkt = (f'PROJCS["StatePlane_ft",{GCS_NAD83},'
           'PROJECTION["Transverse_Mercator"],'
           'PARAMETER["False_Easting",984250.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",-71.5],'
           'PARAMETER["Scale_Factor",0.9999],'
           'PARAMETER["Latitude_Of_Origin",41.0],'
           f'UNIT["Foot_US",{ftus!r}]]')
    spec = wkt_to_proj(wkt)
    assert f"+to_meter={ftus!r}" in spec
    # ESRI false easting is in the PROJCS unit
    _match(wkt,
           f"+proj=tmerc +lat_0=41 +lon_0=-71.5 +k_0=0.9999 "
           f"+x_0={984250.0 * ftus!r} +y_0=0 +ellps=GRS80 "
           f"+to_meter={ftus!r}",
           [-71.0, -72.0], [41.5, 42.3], atol=1e-5)


def test_esri_azimuthal_equidistant_direct():
    wkt = (f'PROJCS["World_AEQD",{GCS_WGS84},'
           'PROJECTION["Azimuthal_Equidistant"],'
           'PARAMETER["False_Easting",0.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",30.0],'
           'PARAMETER["Latitude_Of_Origin",45.0],'
           'UNIT["Meter",1.0]]')
    _match(wkt, "+proj=aeqd +lat_0=45 +lon_0=30 +ellps=WGS84",
           [25.0, 40.0], [40.0, 55.0])


def test_non_esri_wkt1_unaffected():
    """OGC WKT1 spellings still route through the standard tables."""
    from tests.test_wkt import WKT1_PROJCS_FEET

    assert "+proj=lcc" in wkt_to_proj(WKT1_PROJCS_FEET)


def test_crs_epsg_code_identification():
    """Late-binding identification (reference io.cpp + esri.sql
    alias_name): explicit ID/AUTHORITY nodes win; a bare ESRI GEOGCS
    resolves through the bundled alias extract."""
    from proj_spark.sources.wkt import crs_epsg_code

    # explicit WKT2 ID node
    from tests.test_wkt import WGS84_GEOG, UTM32N as UTM32N_WKT
    assert crs_epsg_code(WGS84_GEOG) == "4326"
    assert crs_epsg_code(UTM32N_WKT) == "32632"
    # WKT1 AUTHORITY["EPSG","4267"] string spelling
    wkt1 = ('GEOGCS["NAD27",DATUM["North_American_Datum_1927",'
            'SPHEROID["Clarke 1866",6378206.4,294.978698213898]],'
            'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433],'
            'AUTHORITY["EPSG","4267"]]')
    assert crs_epsg_code(wkt1) == "4267"
    # bare ESRI .prj: name-alias lookup
    esri = ('GEOGCS["GCS_European_1950",DATUM["D_European_1950",'
            'SPHEROID["International_1924",6378388.0,297.0]],'
            'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]')
    assert crs_epsg_code(esri) == "4230"
    assert crs_epsg_code(GCS_WGS84) == "4326"
    # unknown name -> None
    assert crs_epsg_code('GEOGCS["GCS_No_Such_Thing",'
                         'DATUM["D_X",SPHEROID["s",6378137,298.25]],'
                         'PRIMEM["Greenwich",0],UNIT["Degree",0.017]]'
                         ) is None


def test_geocentric_crs_is_not_identified_by_its_ensemble():
    """A Cartesian CRS whose datum is an ensemble identifies as no
    geographic CRS: EPSG:4978 without its top-level id (WKT2 and
    PROJJSON) and the IGNF:WGS84 export, whose id is IGNF's."""
    import json

    import pytest

    from proj_spark.plans.pipeline import crs_input, crs_registry_code
    from proj_spark.sources.epsg_ops import candidate_operations
    from proj_spark.sources.wkt_out import epsg_to_projjson, epsg_to_wkt2

    w = epsg_to_wkt2("4978")
    w = w[:w.rindex(',ID["EPSG",4978]')] + "]"
    j = json.loads(epsg_to_projjson("4978"))
    del j["id"]
    for text in (w, json.dumps(j), epsg_to_wkt2("WGS84")):
        assert crs_registry_code(crs_input(text)) is None
    with pytest.raises(ValueError):
        candidate_operations(w, "EPSG:4258")


def test_registry_dispatch_accepts_esri_prj():
    """A bare ESRI ED50 .prj drives the SAME registry candidate list as
    EPSG:4230 — late-binding identification feeding operation dispatch."""
    from proj_spark.sources.epsg_ops import candidate_operations

    esri = ('GEOGCS["GCS_European_1950",DATUM["D_European_1950",'
            'SPHEROID["International_1924",6378388.0,297.0]],'
            'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]')
    a = candidate_operations(esri, "EPSG:4326")
    b = candidate_operations("EPSG:4230", "EPSG:4326")
    assert [c.name for c in a] == [c.name for c in b]


def test_registry_dispatch_accepts_projjson_id():
    import json

    from proj_spark.sources.epsg_ops import candidate_operations
    from proj_spark.sources.projjson import crs_epsg_code
    from tests.test_projjson import WGS84_GEOG as PJ_WGS84

    assert crs_epsg_code(json.dumps(PJ_WGS84)) == "4326"
    a = candidate_operations("EPSG:4230", json.dumps(PJ_WGS84))
    b = candidate_operations("EPSG:4230", "EPSG:4326")
    assert [c.name for c in a] == [c.name for c in b]


def test_esri_authority_codes():
    """ESRI:NNNNN codes resolve from the bundled esri.sql WKT-embedded
    rows through the ESRI dialect (ESRI:102100 == EPSG web mercator,
    ESRI:54008 == world sinusoidal)."""
    import numpy as np

    from proj_spark.plans.pipeline import compile_crs_to_crs
    from proj_spark.sources.esri import esri_to_proj

    assert "+proj=webmerc" in esri_to_proj("ESRI:102100")
    assert "+proj=sinu" in esri_to_proj("54008")
    p = compile_crs_to_crs("EPSG:4326", "ESRI:102100")
    q = compile_crs_to_crs("EPSG:4326", "+proj=webmerc +ellps=WGS84")
    lon = np.array([-122.4, 151.2])
    lat = np.array([37.8, -33.9])
    px, py, _, _ = p.fwd_deg(lon.copy(), lat.copy())
    qx, qy, _, _ = q.fwd_deg(lon.copy(), lat.copy())
    np.testing.assert_allclose(px, qx, atol=1e-6)
    np.testing.assert_allclose(py, qy, atol=1e-6)
    import pytest as _pytest
    with _pytest.raises(KeyError):
        esri_to_proj("ESRI:99999999")
