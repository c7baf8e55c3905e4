"""WKT2:2019 / PROJJSON export (sources/wkt_out.py) — round-trip oracles.

The writers are validated against this repo's own INDEPENDENT readers
(sources/wkt.py, sources/projjson.py — both reference-parity tested on
external fixtures): for a sweep of registry codes, the exported text must
lower to a pipeline numerically identical to the direct
``epsg_to_proj(code)`` lowering. This catches wrong parameter names/units,
missing axes, and datum mixups without trusting the writer's own
vocabulary.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pytest

CODES = [
    # geographic
    "4326", "4258", "4277", "4269", "4230", "4807",  # 4807 = NTF (Paris pm, grads)
    # geocentric
    "4919", "7789",
    # projected: tmerc/utm, webmerc, lcc 1sp/2sp, laea, aea, sterea,
    # stere polar, omerc, cass, krovak, nzmg
    "25832", "32733", "27700", "3857", "2154", "3035", "5070",
    "28992", "3413", "3031", "29873", "5514", "27200", "2056",
    # US state plane in survey feet (axis-unit to_meter semantics)
    "2229",
]


def _pt(spec_or_pipe):
    from proj_spark.plans.pipeline import compile_pipeline

    p = (spec_or_pipe if not isinstance(spec_or_pipe, str)
         else compile_pipeline(spec_or_pipe))
    x = np.array([math.radians(6.5)])
    y = np.array([math.radians(51.2)])
    X, Y, _, _ = p.fwd(x, y, np.array([120.0]), None)
    return float(X[0]), float(Y[0])


@pytest.mark.parametrize("code", CODES)
def test_wkt2_roundtrip(code):
    from proj_spark.sources.epsg import epsg_to_proj
    from proj_spark.sources.wkt import wkt_to_proj
    from proj_spark.sources.wkt_out import epsg_to_wkt2

    wkt = epsg_to_wkt2(code)
    assert wkt.startswith(("GEOGCRS[", "GEODCRS[", "PROJCRS["))
    assert f'ID["EPSG",{code}]' in wkt
    got = _pt(wkt_to_proj(wkt))
    want = _pt(epsg_to_proj(code))
    assert got == pytest.approx(want, abs=1e-6), (code, got, want)


@pytest.mark.parametrize("code", CODES)
def test_wkt2_2015_roundtrip(code):
    """WKT2:2015 convention (round 5): geographic CRSs are spelled
    GEODCRS and projected bases BASEGEODCRS (ISO 19162:2015 has no
    GEOGCRS keyword — the reference's WKTFormatter switches exactly
    these keywords, src/iso19111/crs.cpp:2166 / :4417). The reader
    already accepts both spellings, so the 2015 text must lower to
    the identical pipeline."""
    from proj_spark.sources.epsg import epsg_to_proj
    from proj_spark.sources.wkt import wkt_to_proj
    from proj_spark.sources.wkt_out import epsg_to_wkt2

    wkt = epsg_to_wkt2(code, version="2015")
    assert "GEOGCRS[" not in wkt and "BASEGEOGCRS[" not in wkt
    assert wkt.startswith(("GEODCRS[", "PROJCRS["))
    if wkt.startswith("PROJCRS["):
        assert "BASEGEODCRS[" in wkt
    got = _pt(wkt_to_proj(wkt))
    want = _pt(epsg_to_proj(code))
    assert got == pytest.approx(want, abs=1e-6), (code, got, want)


@pytest.mark.parametrize("code", CODES)
def test_projjson_roundtrip(code):
    from proj_spark.sources.epsg import epsg_to_proj
    from proj_spark.sources.projjson import projjson_to_proj
    from proj_spark.sources.wkt_out import epsg_to_projjson

    txt = epsg_to_projjson(code)
    obj = json.loads(txt)
    assert obj["id"] == {"authority": "EPSG", "code": int(code)}
    assert obj["type"] in ("GeographicCRS", "GeodeticCRS", "ProjectedCRS")
    got = _pt(projjson_to_proj(txt))
    want = _pt(epsg_to_proj(code))
    assert got == pytest.approx(want, abs=1e-6), (code, got, want)


def test_registry_sweep_wkt2():
    """Every projected and geodetic CRS the registry lowers must export
    WKT2 that round-trips numerically, and its WKT2:2019, WKT2:2015 and
    PROJJSON exports must lower to the same proj-string (sampled: every
    11th key of each table for runtime)."""
    from proj_spark.sources.epsg import _load, epsg_to_proj
    from proj_spark.sources.projjson import projjson_to_proj
    from proj_spark.sources.wkt import wkt_to_proj
    from proj_spark.sources.wkt_out import epsg_to_projjson, epsg_to_wkt2

    db = _load()
    codes = sorted(db["projected_crs"])[::11] + sorted(db["geodetic_crs"])[::11]
    checked = failures = 0
    for code in codes:
        try:
            direct = epsg_to_proj(code)
        except Exception:
            continue  # method out of lowering scope — not a writer issue
        checked += 1
        want = _pt(direct)
        lowered = set()
        for ver in ("2019", "2015"):
            try:
                spec = wkt_to_proj(epsg_to_wkt2(code, version=ver))
                lowered.add(spec)
                got = _pt(spec)
            except Exception as e:
                failures += 1
                if failures <= 3:
                    print(f"{code} wkt2:{ver}: {e!r}")
                continue
            both_nan = all(math.isnan(v) for v in got + want)
            if not both_nan and got != pytest.approx(want, abs=1e-5):
                failures += 1
                if failures <= 3:
                    print(f"{code} wkt2:{ver}: {got} != {want}")
        try:
            lowered.add(projjson_to_proj(epsg_to_projjson(code)))
        except Exception as e:
            lowered.add(repr(e))
        if len(lowered) != 1:
            failures += 1
            if failures <= 3:
                print(f"{code} lowerings differ: {sorted(lowered)}")
    assert checked > 300
    assert failures == 0, f"{failures}/{checked} sweep round-trips failed"


def test_projinfo_output_formats(capsys):
    from proj_spark.cli import main

    assert main(["projinfo", "-o", "all", "EPSG:25832"]) == 0
    out = capsys.readouterr().out
    assert "PROJ string:" in out and "+proj=tmerc" in out
    assert "WKT2:2019 string:" in out and 'PROJCRS["ETRS89 / UTM zone 32N"' in out
    assert "WKT2:2015 string:" in out and "BASEGEODCRS[" in out
    assert "PROJJSON:" in out and '"ProjectedCRS"' in out


def test_projinfo_wkt2_2015_format(capsys):
    from proj_spark.cli import main

    assert main(["projinfo", "-o", "WKT2:2015", "EPSG:4326"]) == 0
    out = capsys.readouterr().out
    assert "WKT2:2015 string:" in out
    assert out.count("GEODCRS[") == 1 and "GEOGCRS[" not in out


@pytest.mark.parametrize("code", [c for c in CODES
                                  if c not in ("4919", "7789")])
@pytest.mark.parametrize("dialect", ["GDAL", "ESRI"])
def test_wkt1_roundtrip(code, dialect):
    """WKT1-GDAL and WKT1-ESRI export (round 5) round-trip numerically
    through the repo's OWN readers (the WKT1 path / the ESRI dialect) —
    the same oracle contract as WKT2/PROJJSON. Methods with no WKT1
    spelling in a dialect are an explicit NotImplementedError (the
    reference's WKTFormatter also throws for inexpressible methods)."""
    from proj_spark.sources.epsg import epsg_to_proj
    from proj_spark.sources.wkt import wkt_to_proj
    from proj_spark.sources.wkt_out import epsg_to_wkt1

    try:
        wkt = epsg_to_wkt1(code, dialect)
    except NotImplementedError:
        pytest.skip(f"{code} not expressible in WKT1-{dialect}")
    assert wkt.startswith(("GEOGCS[", "PROJCS["))
    got = _pt(wkt_to_proj(wkt))
    want = _pt(epsg_to_proj(code))
    assert got == pytest.approx(want, abs=1e-5), (code, got, want)


def test_registry_sweep_wkt1():
    """Registry sweep for both WKT1 dialects: every projected and
    geodetic CRS the registry lowers must either export WKT1 that
    round-trips numerically or refuse with an explicit
    NotImplementedError; silent wrong output is the failure mode under
    test."""
    from proj_spark.sources.epsg import _load, epsg_to_proj
    from proj_spark.sources.wkt import wkt_to_proj
    from proj_spark.sources.wkt_out import epsg_to_wkt1

    db = _load()
    codes = (sorted(c for c in db["projected_crs"] if c.isdigit())[::11]
             + sorted(db["geodetic_crs"])[::11])
    checked = failures = refused = 0
    for code in codes:
        try:
            direct = epsg_to_proj(code)
        except Exception:
            continue
        for dialect in ("GDAL", "ESRI"):
            try:
                wkt = epsg_to_wkt1(code, dialect)
            except NotImplementedError:
                refused += 1
                continue
            checked += 1
            try:
                got = _pt(wkt_to_proj(wkt))
                want = _pt(direct)
            except Exception as e:
                failures += 1
                if failures <= 3:
                    print(f"{code} {dialect}: {e!r}")
                continue
            both_nan = all(math.isnan(v) for v in got + want)
            if not both_nan and got != pytest.approx(want, abs=1e-5):
                failures += 1
                if failures <= 3:
                    print(f"{code} {dialect}: {got} != {want}")
    assert checked > 500, (checked, refused)
    assert failures == 0, f"{failures}/{checked} WKT1 round-trips failed"


def test_projinfo_wkt1_formats(capsys):
    from proj_spark.cli import main

    assert main(["projinfo", "-o", "WKT1_GDAL,WKT1_ESRI",
                 "EPSG:32631"]) == 0
    out = capsys.readouterr().out
    assert 'WKT1:GDAL string:' in out
    assert 'PROJCS["WGS 84 / UTM zone 31N"' in out
    assert 'WKT1:ESRI string:' in out
    assert 'PROJCS["WGS_84_UTM_zone_31N"' in out
    assert 'PROJECTION["Transverse_Mercator"]' in out


def test_wkt2_2019_ensemble_node():
    """EPSG:4326 exports its datum as a WKT2:2019 ENSEMBLE (members with
    ids + ELLIPSOID + ENSEMBLEACCURACY, reference io.cpp WKTFormatter);
    the 2015 edition has no ENSEMBLE keyword and keeps DATUM. The repo's
    own readers identify the ensemble by member-id set and the spec
    still round-trips."""
    from proj_spark.sources.wkt import crs_epsg_code, wkt_to_proj
    from proj_spark.sources.wkt_out import epsg_to_wkt2

    w = epsg_to_wkt2("4326", version="2019")
    assert 'ENSEMBLE["World Geodetic System 1984 ensemble"' in w
    assert 'MEMBER["World Geodetic System 1984 (G1762)",ID["EPSG",1156]]' \
        in w
    assert "ENSEMBLEACCURACY[2]" in w
    assert "+proj=longlat" in wkt_to_proj(w)
    assert crs_epsg_code(w) == "4326"
    w15 = epsg_to_wkt2("4326", version="2015")
    assert "ENSEMBLE[" not in w15 and 'DATUM["World Geodetic System' in w15


def test_wkt2_2019_usage_nodes():
    """USAGE[SCOPE,AREA,BBOX] attributes (2019 only) from the bundled
    usage/scope/extent rows; readers ignore them."""
    from proj_spark.sources.wkt import wkt_to_proj
    from proj_spark.sources.wkt_out import epsg_to_wkt2

    w = epsg_to_wkt2("32632", version="2019")
    assert 'USAGE[SCOPE["Navigation and medium accuracy spatial ' \
           'referencing."],AREA["World - N hemisphere - 6°E to 12°E ' \
           '- by country"],BBOX[0,6,84,12]]' in w
    assert "+proj=tmerc" in wkt_to_proj(w)
    assert "USAGE[" not in epsg_to_wkt2("32632", version="2015")


def test_projjson_ensemble_and_usage():
    from proj_spark.sources.projjson import projjson_to_proj
    from proj_spark.sources.wkt_out import epsg_to_projjson

    j = json.loads(epsg_to_projjson("4326"))
    assert j["datum_ensemble"]["accuracy"] == "2.0"
    assert {m["id"]["code"] for m in j["datum_ensemble"]["members"]} >= \
        {1166, 1152, 1156}
    assert j["bbox"]["south_latitude"] == -90
    assert j["scope"].startswith("Horizontal component")
    assert "+proj=longlat" in projjson_to_proj(json.dumps(j))
