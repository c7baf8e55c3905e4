"""IGNF auxiliary authority (round 5): data-only ignf.sql bundled
verbatim (reference data/sql/ignf.sql), served by the same registry
readers — IGNF codes are alphanumeric so they share the code-keyed
tables with EPSG; IGNF extent codes are small integers and are stored
authority-qualified ('IGNF:<code>')."""

import numpy as np


def test_ignf_lamb93_parity_with_epsg_2154():
    """IGNF:LAMB93 (RGF93 Lambert 93) must project identically to its
    published EPSG equivalent 2154 (the 2SP parallels are listed in the
    opposite order; LCC 2SP is symmetric in them)."""
    from proj_spark.plans.pipeline import compile_crs_to_crs

    a = compile_crs_to_crs("IGNF:RGF93G", "IGNF:LAMB93")
    b = compile_crs_to_crs("EPSG:4171", "EPSG:2154")
    lon = np.array([2.35, -1.55, 5.4, 7.0])
    lat = np.array([48.85, 47.22, 43.3, 49.0])
    ax, ay, _, _ = a.fwd_deg(lon, lat)
    bx, by, _, _ = b.fwd_deg(lon, lat)
    np.testing.assert_allclose(ax, bx, atol=1e-7)
    np.testing.assert_allclose(ay, by, atol=1e-7)
    # round-trip through the IGNF spelling
    rx, ry, _, _ = a.inv_deg(ax, ay)
    np.testing.assert_allclose(rx, lon, atol=1e-10)
    np.testing.assert_allclose(ry, lat, atol=1e-10)


def test_ignf_geographic_codes_resolve():
    from proj_spark.sources.epsg import epsg_to_proj

    assert epsg_to_proj("RGF93G") == epsg_to_proj("4171")
    # NTF (Paris meridian family): NTFP carries +pm
    ntfp = epsg_to_proj("NTFP")
    assert "+pm=" in ntfp and "+proj=longlat" in ntfp


def test_ignf_operation_by_code_and_urn():
    """IGNF coordinate operations resolve by code (method 1031 geocentric
    translations — added to the Helmert lowering set this round) and via
    the OGC URN surface."""
    from proj_spark.plans.pipeline import compile_pipeline
    from proj_spark.sources.epsg_ops import operation_by_urn

    spec, op = operation_by_urn("TSG682")
    assert op["kind"] == "helmert" and op["auth"] == "IGNF"
    assert (op["tx"], op["ty"], op["tz"]) == (1286.0, 83.0, -254.0)
    pipe = compile_pipeline(
        "+proj=pipeline "
        "+step urn:ogc:def:coordinateOperation:IGNF::TSG682".replace(
            "+step urn:ogc:def:coordinateOperation:IGNF::TSG682", "") +
        spec.split("pipeline ", 1)[1])
    X, Y, Z, _ = pipe.fwd_deg(np.array([4200000.0]), np.array([178000.0]),
                              np.array([4780000.0]))
    np.testing.assert_allclose(X, [4201286.0])
    np.testing.assert_allclose(Y, [178083.0])
    np.testing.assert_allclose(Z, [4779746.0])


def test_ignf_extent_keys_do_not_collide_with_epsg():
    """IGNF extent '1' must NOT shadow EPSG extent 1 (world): both
    resolve, and an IGNF op's area of use comes from the IGNF table."""
    from proj_spark.sources.epsg import _load
    from proj_spark.sources.epsg_ops import candidate_operations

    db = _load()
    assert "IGNF:1" in db["extent"]
    assert db["extent"]["IGNF:1"][0] == "IGNF"
    # numeric EPSG extent keys stay unqualified (e.g. 1275 Netherlands,
    # used by the Amersfoort ops) — no IGNF small-integer shadowing
    assert db["extent"]["1275"][0] == "EPSG"
    # NTF -> RGF93: the IGNF grid op carries the IGNF France extent
    c = candidate_operations("4275", "4171")
    ign = [x for x in c if x.name.startswith("IGNF:")]
    assert ign and ign[0].src_bbox == (-5.5, 41.0, 10.0, 52.0)


def test_ignf_projinfo_cli(capsys):
    from proj_spark.cli import main

    assert main(["projinfo", "IGNF:LAMB93"]) == 0
    out = capsys.readouterr().out
    assert "+proj=lcc" in out and "+x_0=700000.0" in out


def test_ignf_export_names_its_authority():
    """WKT2, WKT1 and PROJJSON ids take the authority of the registry
    row: an IGNF CRS and its IGNF base are IGNF, an EPSG one is EPSG."""
    import json

    from proj_spark.sources.wkt_out import (epsg_to_projjson, epsg_to_wkt1,
                                            epsg_to_wkt2)

    for ver in ("2019", "2015"):
        w = epsg_to_wkt2("LAMB93", version=ver)
        assert w.endswith('ID["IGNF","LAMB93"]]')
        assert 'ID["IGNF","RGF93G"]' in w and '"EPSG","LAMB93"' not in w
    assert 'AUTHORITY["IGNF","LAMB93"]' in epsg_to_wkt1("LAMB93")
    j = json.loads(epsg_to_projjson("LAMB93"))
    assert j["id"] == {"authority": "IGNF", "code": "LAMB93"}
    assert j["base_crs"]["id"] == {"authority": "IGNF", "code": "RGF93G"}
    assert epsg_to_wkt2("2154").endswith('ID["EPSG",2154]]')
