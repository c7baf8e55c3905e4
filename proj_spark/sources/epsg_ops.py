"""Registry-driven candidate-operation lists — the proj_create_crs_to_crs
planner path over the bundled EPSG dataset.

The reference resolves a CRS pair to a RANKED LIST of coordinate
operations from the EPSG registry (reference
src/iso19111/coordinateoperation.cpp createOperations + the proj.db
helmert_transformation / grid_transformation / usage / extent tables) and
dispatches per point at transform time (4D_api.cpp).  This module builds
the same candidate lists from the bundled data-only EPSG extract:

* direct Helmert ops (geocentric translations 9603, position vector
  9606, coordinate frame 9607 — geog2D domain) lowered onto the
  engine's pipeline surface (cart -> helmert -> cart^-1);
* direct grid ops (NTv2 9615, NTv1 9614, NADCON 9613) — kept only when
  the grid file actually loads, mirroring skipNonInstantiable;
* reverse rows (registry stores one direction; inverse is exact);
* one-level composition via the WGS84 hub (EPSG:4326) when no direct
  op exists — the registry's A->hub + hub->B chaining, accuracies
  summed, areas intersected;
* a ballpark (no datum change) candidate appended last, accuracy
  unknown — the reference's ballpark transformation
  (4D_api.cpp:2262-2312) so out-of-area points degrade instead of
  erroring.

Area of use comes from each op's usage -> extent row; accuracy from the
op row.  The result plugs straight into plans.dispatch.CandidateDispatch.
"""

from __future__ import annotations

from proj_spark.sources import epsg as E

_HELMERT_METHODS = {
    # static geog2D domain
    "9603", "9606", "9607",
    # Molodensky-Badekas (pivot point; CF geog2D / PV variants)
    "9636", "1061", "1062", "1063",
    # static geocentric domain (datum-bridged to the geog2D pair)
    "1031", "1032", "1033",
    # time-dependent (rate columns + reference epoch;
    # reference src/iso19111/operation/transformation.cpp:740)
    "1053", "1054", "1055", "1056", "1057", "1058",
    # time-specific (params valid at the stated epoch, no rates;
    # lowered as static Helmert like the reference's proj-string output)
    "1065", "1066",
}
_TIME_DEP_METHODS = {"1053", "1054", "1055", "1056", "1057", "1058"}
_GRID_METHODS = {"9613", "9614", "9615"}
# other_transformation methods lowered onto geogoffset (reference
# src/iso19111/operation/transformation.cpp: longitude rotation 9601,
# geographic2D offsets 9619, geographic2D with height offsets 9618,
# vertical offset 9616)
_OFFSET_METHODS = {"9601", "9619", "9618", "9616"}

# "per year" uom factors convert to SI per SECOND; multiply by the
# registry's year (uom 1029) to get the per-year rates proj-strings use
_YEAR_S = 31556925.445


def _conv_of(method_name: str) -> str:
    nm = method_name.lower()
    if "position vector" in nm or "(pv" in nm:
        return "position_vector"
    return "coordinate_frame"


def _rate(value, uom_code, to: str) -> float:
    """Registry rate column -> per-year value in proj-string units
    (m/yr, arcsec/yr, or ppm/yr)."""
    if value is None:
        return 0.0
    factor = E._uom(uom_code).factor
    si_per_year = float(value) * factor * _YEAR_S
    if to == "m":
        return si_per_year
    if to == "arcsec":
        import math
        return si_per_year * (180.0 / math.pi) * 3600.0
    if to == "ppm":
        return si_per_year * 1e6
    raise ValueError(to)


_op_index = None


def _ops_by_crs():
    """{(src_code, dst_code): [op_row_dict, ...]} over helmert + grid."""
    global _op_index
    if _op_index is not None:
        return _op_index
    db = E._load()
    # usage: auth, code, object_table, obj_auth, obj_code, ext_auth,
    # ext_code, scope_auth, scope_code -> {(table, obj_code): extent_code}
    # an op can carry SEVERAL usage/extent rows (multiple areas of use);
    # keep them all and use the union bbox for eligibility — last-row-wins
    # would shrink/shift the area tested per point
    ext_of: dict[tuple[str, str], list[str]] = {}
    for u in db["usage"].values():
        ext_of.setdefault((str(u[2]), str(u[4])), []).append(str(u[6]))
    idx: dict[tuple[str, str], list[dict]] = {}
    by_code: dict[str, dict] = {}   # step lookup for concatenated ops

    # datum bridge: geocentric/geog3D-domain ops (e.g. the time-dependent
    # ITRF rows, published between geocentric CRSs) apply to the geographic
    # pair of the SAME datums — the cart steps of the lowering do the
    # geog<->geocentric conversion. Canonicalize every op's src/dst to the
    # datum's geographic 2D CRS and index under that, as the reference's
    # createOperations does via datum matching.
    crs_datum: dict[str, str] = {}
    geog2d_of_datum: dict[str, str] = {}
    for ccode, r in db["geodetic_crs"].items():
        if r[-1]:  # deprecated
            continue
        datum = str(r[8])
        crs_datum[ccode] = datum
        if r[4] == "geographic 2D":
            # lowest NUMERIC code wins (EPSG); alphanumeric auxiliary
            # codes (IGNF) sort after and alphabetically among themselves
            def _ck(c):
                return (0, int(c), "") if c.isdigit() else (1, 0, c)
            cur = geog2d_of_datum.get(datum)
            if cur is None or _ck(ccode) < _ck(cur):
                geog2d_of_datum[datum] = ccode

    def canon(code: str) -> str:
        d = crs_datum.get(code)
        return geog2d_of_datum.get(d, code) if d is not None else code

    # datum ensembles (reference data/sql/geodetic_datum_ensemble_member
    # .sql; factory.cpp createDatumEnsemble): a member realization is
    # equivalent to its ensemble within the PUBLISHED ensemble accuracy
    # (geodetic_datum.ensemble_accuracy — WGS84 2.0 m, ETRS89 0.1 m), so
    # a null transformation member<->ensemble joins the candidate index
    # at that accuracy. This is what lets NAD27 -> "WGS 84 (G1762)"
    # resolve as 'NAD27 to WGS 84 (33) + WGS 84 to WGS 84 (G1762)'
    # (reference test_operationfactory.cpp NAD27_to_WGS84_G1762), while a
    # direct member-to-member Helmert (EPSG:7667, accuracy 0.01) still
    # outranks the 2 m ensemble path.
    for ens_datum, members in db["geodetic_datum_ensemble_member"].items():
        ens_row = db["geodetic_datum"].get(ens_datum)
        ens_crs = geog2d_of_datum.get(ens_datum)
        if ens_row is None or ens_row[-1] or ens_crs is None:
            continue
        acc = float(ens_row[10]) if ens_row[10] is not None else -1.0
        ens_name = str(db["geodetic_crs"][ens_crs][2])
        for _seq, mem in sorted(members):
            mem_crs = geog2d_of_datum.get(mem)
            if mem_crs is None:
                continue
            mem_name = str(db["geodetic_crs"][mem_crs][2])
            op = {
                # the code is synthetic, so it is not labelled EPSG
                # (the reference's DERIVED_FROM(EPSG) convention)
                "kind": "ensemble_null", "auth": "DERIVED_FROM(EPSG)",
                "code": f"{ens_datum}-member-{mem}",
                "name": f"{ens_name} to {mem_name}",
                "method": "ensemble", "method_name": "datum ensemble member",
                "src": ens_crs, "dst": mem_crs, "accuracy": acc,
                "bbox": None,
            }
            idx.setdefault((ens_crs, mem_crs), []).append(op)
            by_code[op["code"]] = op

    def bbox_for(table, code):
        boxes = []
        for ec in ext_of.get((table, code), []):
            ext = db["extent"].get(ec)
            if ext is None:
                continue
            # extent: auth, code, name, desc, south, north, west, east, depr
            s, n, w, e = (float(ext[4]), float(ext[5]),
                          float(ext[6]), float(ext[7]))
            boxes.append((w, s, e, n))
        if not boxes:
            return None
        if len(boxes) == 1:
            return boxes[0]
        # union of the areas of use; antimeridian-crossing components
        # (w > e) can't participate in a flat min/max union — skip them
        # (dispatch drops w > e candidates anyway, reference 4D_api.cpp:1740)
        flat = [b for b in boxes if b[0] <= b[2]]
        if not flat:
            return boxes[0]
        return (min(b[0] for b in flat), min(b[1] for b in flat),
                max(b[2] for b in flat), max(b[3] for b in flat))

    for code, row in db["helmert_transformation"].items():
        if row[-1]:  # deprecated
            continue
        method = str(row[5])
        if method not in _HELMERT_METHODS:
            continue
        op = {
            "kind": "helmert", "code": code, "name": row[2], "auth": str(row[0]),
            "method": method, "method_name": str(row[6]),
            "src": str(row[8]), "dst": str(row[10]),
            "accuracy": float(row[11]) if row[11] is not None else -1.0,
            "tx": E._length_m(row[12], row[16]),
            "ty": E._length_m(row[13], row[16]),
            "tz": E._length_m(row[14], row[16]),
            "bbox": bbox_for("helmert_transformation", code),
        }
        if row[17] is not None:
            # rotations -> arcsec, scale difference -> ppm
            op["rx"] = E._angle_deg(row[17], row[21]) * 3600.0
            op["ry"] = E._angle_deg(row[18], row[21]) * 3600.0
            op["rz"] = E._angle_deg(row[19], row[21]) * 3600.0
            ds = row[22]
            if ds is not None:
                factor = E._uom(row[24]).factor
                op["ds"] = float(ds) * (factor if factor else 1e-6) / 1e-6
            else:
                op["ds"] = 0.0
        # rate columns (time-dependent methods 1053-1058): tx/ty/tz rates
        # at 25-27 (uom 29), rx/ry/rz rates at 30-32 (uom 34), scale rate
        # at 35 (uom 37); reference epoch at 38 (uom 40, year number)
        if method in _TIME_DEP_METHODS and row[38] is not None:
            op["dtx"] = _rate(row[25], row[29], "m")
            op["dty"] = _rate(row[26], row[29], "m")
            op["dtz"] = _rate(row[27], row[29], "m")
            op["drx"] = _rate(row[30], row[34], "arcsec")
            op["dry"] = _rate(row[31], row[34], "arcsec")
            op["drz"] = _rate(row[32], row[34], "arcsec")
            op["dds"] = _rate(row[35], row[37], "ppm")
            op["t_epoch"] = float(row[38])
        # Molodensky-Badekas pivot at 41-43 (uom 45)
        if row[41] is not None:
            op["px"] = E._length_m(row[41], row[45])
            op["py"] = E._length_m(row[42], row[45])
            op["pz"] = E._length_m(row[43], row[45])
        idx.setdefault((canon(op["src"]), canon(op["dst"])), []).append(op)
        by_code[code] = op

    for code, row in db["grid_transformation"].items():
        if row[-1]:
            continue
        method = str(row[5])
        if method not in _GRID_METHODS:
            continue
        op = {
            "kind": "grid", "code": code, "name": row[2], "auth": str(row[0]),
            "method": method,
            "src": str(row[8]), "dst": str(row[10]),
            "accuracy": float(row[11]) if row[11] is not None else -1.0,
            "grid": str(row[15]),
            "bbox": bbox_for("grid_transformation", code),
        }
        idx.setdefault((canon(op["src"]), canon(op["dst"])), []).append(op)
        by_code[code] = op

    # other_transformation offset ops (params in 6-wide blocks from col
    # 12: p_auth, p_code, p_name, value, uom_auth, uom_code)
    for code, row in db["other_transformation"].items():
        if row[-1]:
            continue
        method = str(row[5])
        if method not in _OFFSET_METHODS:
            continue
        p = {}
        for k in range(7):
            off = 12 + k * 6
            if off + 5 >= len(row) or row[off + 1] is None:
                break
            p[str(row[off + 1])] = (row[off + 3], row[off + 5])
        op = {
            "kind": "offset", "code": code, "name": row[2], "auth": str(row[0]),
            "method": method, "method_name": str(row[6]),
            "src": str(row[8]), "dst": str(row[10]),
            "accuracy": float(row[11]) if row[11] is not None else -1.0,
            # 8601 lat offset, 8602 lon offset (-> arcsec); 8603 vertical
            # offset, 8604 geoid undulation (-> m)
            "dlat": (E._angle_deg(*p["8601"]) * 3600.0
                     if "8601" in p else 0.0),
            "dlon": (E._angle_deg(*p["8602"]) * 3600.0
                     if "8602" in p else 0.0),
            "dh": (E._length_m(*p["8603"]) if "8603" in p
                   else E._length_m(*p["8604"]) if "8604" in p else 0.0),
            "bbox": bbox_for("other_transformation", code),
        }
        if method != "9616":   # vertical-only ops aren't geographic pairs
            idx.setdefault((canon(op["src"]), canon(op["dst"])),
                           []).append(op)
        by_code[code] = op

    # PROJ-string operations (auxiliary authorities — NKG's deformation-
    # model and epoch-propagation steps are published directly as proj
    # strings, method PROJ:PROJString): the executable spec IS the row.
    # by_code only (steps of concatenated operations + the URN surface);
    # they don't join the geographic-pair candidate index.
    for code, row in db["other_transformation"].items():
        if row[-1] or str(row[5]) != "PROJString":
            continue
        by_code[code] = {
            "kind": "projstring", "code": code, "name": row[2], "auth": str(row[0]),
            "method": "PROJString", "method_name": "PROJ-based operation",
            "spec": str(row[6]),
            "src": str(row[8]), "dst": str(row[10]),
            "accuracy": float(row[11]) if row[11] is not None else -1.0,
            "bbox": bbox_for("other_transformation", code),
        }

    # concatenated operations: explicit multi-step published paths
    # (reference data/sql/concatenated_operation(_step).sql;
    # coordinateoperationfactory.cpp createOperations walks the steps,
    # inferring each step's direction from CRS chaining)
    for code, row in db["concatenated_operation"].items():
        if row[-1]:
            continue
        src, dst = str(row[5]), str(row[7])
        steps = sorted(db["concatenated_operation_step"].get(code, []))
        if not steps:
            continue
        chain = []
        cur = src
        ok = True
        for _n, sc in steps:
            sop = by_code.get(sc)
            if sop is None:
                ok = False
                break
            if canon(sop["src"]) == canon(cur):
                chain.append((sop, False))
                cur = sop["dst"]
            elif canon(sop["dst"]) == canon(cur):
                chain.append((sop, True))
                cur = sop["src"]
            else:
                ok = False
                break
        if not ok or canon(cur) != canon(dst):
            continue
        acc = float(row[8]) if row[8] is not None else (
            sum(s["accuracy"] for s, _ in chain)
            if all(s["accuracy"] >= 0 for s, _ in chain) else -1.0)
        op = {
            "kind": "concat", "code": code, "name": row[2], "auth": str(row[0]),
            "method": "concat", "method_name": "concatenated operation",
            "src": src, "dst": dst, "accuracy": acc,
            "steps": chain,
            "bbox": bbox_for("concatenated_operation", code),
        }
        idx.setdefault((canon(src), canon(dst)), []).append(op)
        by_code[code] = op

    crs_type = {c: str(r[4]) for c, r in db["geodetic_crs"].items()
                if not r[-1]}
    # directed adjacency over canonical codes for the intermediate-pivot
    # search (reference coordinateoperationfactory.cpp:1986
    # findsOpsInRegistryWithIntermediate): nbr[A][B] = [(op, inverse)]
    # applying A -> B with one registry row
    nbr: dict[str, dict[str, list]] = {}
    for (a, b), ops in idx.items():
        for op in ops:
            nbr.setdefault(a, {}).setdefault(b, []).append((op, False))
            nbr.setdefault(b, {}).setdefault(a, []).append((op, True))
    _op_index = {"idx": idx, "canon": canon, "by_code": by_code,
                 "crs_type": crs_type, "nbr": nbr}
    return _op_index


# registry table holding each op kind (supersession rows match on it)
_TABLE_OF_KIND = {
    "helmert": "helmert_transformation",
    "grid": "grid_transformation",
    "offset": "other_transformation",
    "projstring": "other_transformation",
    "concat": "concatenated_operation",
}


def _discard_superseded(cands: list) -> list:
    """Drop candidates superseded by another candidate IN THE SAME LIST —
    the reference's discardSuperseded pass (factory.cpp
    createFromCRSCodesWithIntermediates / getTransformationsForGridName
    callers, SQL at factory.cpp:6849): a supersession row applies only
    when same_source_target_crs=1 and the replacement is in the same
    table; the 'replacement uses an unknown grid' guard falls out
    naturally here because a non-instantiable grid replacement never
    enters the candidate list, so its superseded op survives."""
    sup = E._load()["supersession"]
    present = {(_TABLE_OF_KIND.get(c.meta.get("kind"), ""),
                str(c.meta.get("code")))
               for c in cands if getattr(c, "meta", None)}
    out = []
    for c in cands:
        meta = getattr(c, "meta", None) or {}
        table = _TABLE_OF_KIND.get(meta.get("kind"), "")
        rows = sup.get((table, str(meta.get("code"))), [])
        superseded = any(
            str(r[7]) == "1" and str(r[3]) == table
            and (str(r[3]), str(r[5])) in present
            for r in rows)
        if not superseded:
            out.append(c)
    return out


def _check_same_body(src_spec: str, dst_spec: str) -> None:
    """Cross-celestial-body guard for the dispatch path (reference
    coordinateoperationfactory.cpp createOperationsGeodToGeod:
    REL_ERROR_FOR_SAME_CELESTIAL_BODY = 0.007 relative on the semi-major
    axes, PROJ_IGNORE_CELESTIAL_BODY override)."""
    import os

    from proj_spark.crs import resolve_ellipsoid
    from proj_spark.plans.pipeline import parse_params, tokenize

    a1 = resolve_ellipsoid(parse_params(tokenize(src_spec))).a
    a2 = resolve_ellipsoid(parse_params(tokenize(dst_spec))).a
    if abs(a1 - a2) <= 0.007 * a2:
        return
    env = os.environ.get("PROJ_IGNORE_CELESTIAL_BODY")
    if env is not None and env.upper() not in ("NO", "FALSE", "OFF"):
        return
    from proj_spark.sources.epsg import guess_body_name

    raise ValueError(
        "Source and target ellipsoid do not belong to the same celestial "
        f"body ({guess_body_name(a1)} vs {guess_body_name(a2)}).")


def _geog_only(code: str) -> str:
    """+proj=longlat spec (ellipsoid + pm) for a geographic 2D CRS."""
    spec = E.epsg_to_proj(code)
    if not spec.startswith("+proj=longlat"):
        raise NotImplementedError(
            f"registry CRS {code} is not a geographic 2D CRS "
            f"(got {spec.split()[0]})")
    return spec


def _ell_of(spec: str) -> str:
    return " ".join(p for p in spec.split()
                    if p.startswith(("+a=", "+b=", "+rf=", "+R=")))


def _helmert_params(op: dict) -> str:
    par = f"+x={op['tx']!r} +y={op['ty']!r} +z={op['tz']!r}"
    if "rx" in op:
        par += (f" +rx={op['rx']!r} +ry={op['ry']!r} +rz={op['rz']!r}"
                f" +s={op['ds']!r}")
        par += f" +convention={_conv_of(op['method_name'])}"
    if "t_epoch" in op:
        # time-dependent 14-param: rates per year, params propagated
        # to the coordinate epoch (kernel _params_at)
        par += (f" +dx={op['dtx']!r} +dy={op['dty']!r} +dz={op['dtz']!r}"
                f" +drx={op['drx']!r} +dry={op['dry']!r}"
                f" +drz={op['drz']!r} +ds={op['dds']!r}"
                f" +t_epoch={op['t_epoch']!r}")
    if "px" in op:
        # Molodensky-Badekas pivot (kernel folds it per helmert.cpp)
        par += f" +px={op['px']!r} +py={op['py']!r} +pz={op['pz']!r}"
    return par


def _op_step_fragments(op: dict, src_spec: str, dst_spec: str,
                       inverse: bool) -> list[str] | None:
    """Lower one registry op row to '+step ...' pipeline fragments.
    ``inverse``: the row maps dst->src, run it backwards; src_spec /
    dst_spec are the specs of the CRSs the op is applied between IN
    QUERY ORDER (already swapped for inverse rows by the caller)."""

    def has_pm(*specs):
        # non-Greenwich PM inside a cart/helmert or grid step: out of
        # scope (a concat chain handles the PM via its 9601 step instead)
        return any(p.startswith("+pm=")
                   for s in specs for p in s.split())

    if op["kind"] == "helmert":
        if has_pm(src_spec, dst_spec):
            return None
        helm = f"+proj=helmert {_helmert_params(op)}"
        if inverse:
            helm = f"+inv {helm}"
        return [f"+step +proj=cart {_ell_of(src_spec)}",
                f"+step {helm}",
                f"+step +inv +proj=cart {_ell_of(dst_spec)}"]
    if op["kind"] == "ensemble_null":
        # member <-> ensemble: identity within the ensemble accuracy
        return ["+step +proj=noop"]
    if op["kind"] == "offset":
        g = (f"+proj=geogoffset +dlon={op['dlon']!r} "
             f"+dlat={op['dlat']!r} +dh={op['dh']!r}")
        if inverse:
            g = f"+inv {g}"
        return [f"+step {g}"]
    if op["kind"] == "concat":
        frags: list[str] = []
        steps = op["steps"] if not inverse else [
            (s, not i) for s, i in reversed(op["steps"])]
        for sop, sinv in steps:
            try:
                s_spec = _geog_only(_canon_code(sop["src"]))
                d_spec = _geog_only(_canon_code(sop["dst"]))
            except Exception:
                return None   # step between non-geographic CRSs
            if sinv:
                s_spec, d_spec = d_spec, s_spec
            sub = _op_step_fragments(sop, s_spec, d_spec, sinv)
            if sub is None:
                return None
            frags.extend(sub)
        return frags
    # grid op: hgridshift fwd maps src->dst as stored
    if has_pm(src_spec, dst_spec):
        return None
    g = f"+proj=hgridshift +grids={op['grid']}"
    if inverse:
        g = f"+inv {g}"
    return [f"+step {g}"]


def _canon_code(code: str) -> str:
    return _ops_by_crs()["canon"](code)


def _op_pipeline_spec(op: dict, src_spec: str, dst_spec: str,
                      inverse: bool) -> str | None:
    frags = _op_step_fragments(op, src_spec, dst_spec, inverse)
    if frags is None:
        return None
    return "+proj=pipeline " + " ".join(frags)


def _native_fragments(op: dict, inverse: bool = False) -> list[str]:
    """'+step ...' fragments applying a registry operation in its
    PUBLISHED domain — the URN execution surface (reference
    createCoordinateOperations by code): a geocentric-domain Helmert stays
    in XYZ (no cart wrapping), geographic-domain rows get the usual
    cart/geogoffset lowering, PROJ-string rows splice their spec
    verbatim, concatenated operations splice their steps with the stored
    per-step direction."""
    info = _ops_by_crs()
    ctype = info["crs_type"]
    kind = op["kind"]
    if kind == "projstring":
        toks = op["spec"].split()
        if toks and toks[0] in ("+proj=pipeline", "proj=pipeline"):
            raise NotImplementedError(
                "nested pipeline PROJString operation")
        return ["+step " + ("+inv " if inverse else "") + " ".join(toks)]
    if kind == "concat":
        steps = op["steps"] if not inverse else [
            (s, not i) for s, i in reversed(op["steps"])]
        out: list[str] = []
        for sop, sinv in steps:
            out.extend(_native_fragments(sop, sinv))
        return out
    if kind == "helmert" and (
            ctype.get(str(op["src"])) == "geocentric"
            or ctype.get(str(op["dst"])) == "geocentric"):
        h = f"+proj=helmert {_helmert_params(op)}"
        return ["+step " + ("+inv " if inverse else "") + h]
    # geographic-domain rows reuse the pair lowering
    s_code, d_code = op["src"], op["dst"]
    if inverse:
        s_code, d_code = d_code, s_code
    frags = _op_step_fragments(op, _geog_only(_canon_code(s_code)),
                               _geog_only(_canon_code(d_code)), inverse)
    if frags is None:
        raise NotImplementedError(
            f"operation {op['code']} not loweable in its native domain")
    return frags


def operation_by_urn(code: str) -> tuple[str, dict]:
    """(pipeline spec, op row) for a coordinate operation BY CODE — the
    ``urn:ogc:def:coordinateOperation:AUTH::CODE`` input surface (also
    plain EPSG operation codes). Raises KeyError when the code is not in
    the bundled registry extract."""
    op = _ops_by_crs()["by_code"].get(str(code))
    if op is None:
        raise KeyError(
            f"coordinate operation {code!r} not in the bundled registry")
    return "+proj=pipeline " + " ".join(_native_fragments(op)), op


def _build_candidate(op: dict, s_spec: str, d_spec: str, inverse: bool):
    """Candidate for one registry op between the given specs, or None when
    the op can't lower / instantiate (reference skipNonInstantiable)."""
    from proj_spark.plans.dispatch import Candidate
    from proj_spark.plans.pipeline import compile_pipeline

    spec = _op_pipeline_spec(op, s_spec, d_spec, inverse)
    if spec is None:
        return None
    try:
        pipe = compile_pipeline(spec)
        if op["kind"] == "grid":
            # instantiate eagerly: missing grid file -> skip the
            # candidate (reference skipNonInstantiable)
            import numpy as np
            pipe.fwd_deg(np.array([0.0]), np.array([0.0]))
    except Exception:
        return None
    return Candidate(pipe, src_bbox=op["bbox"], dst_bbox=op["bbox"],
                     accuracy=op["accuracy"],
                     needs_grids=op["kind"] == "grid",
                     name=f"{op.get('auth', 'EPSG')}:{op['code']} {op['name']}",
                     meta={**op, "inverse": inverse})


def candidate_operations(src: str, dst: str, *, hub: str = "4326",
                         max_candidates: int = 24) -> list:
    """Ranked plans.dispatch.Candidate list for a geographic CRS pair
    given as bare registry keys ('4230'), or in any spelling with a
    registry code (plans.pipeline.crs_registry_code: 'EPSG:4230', a crs
    URN, IGNF/NKG/IAU codes, or WKT/PROJJSON text identified to a code by
    its ID node, the ESRI name alias table or its datum ensemble —
    io.cpp's late-binding identification)."""
    from proj_spark.plans.dispatch import Candidate
    from proj_spark.plans.pipeline import crs_input, crs_registry_code

    def norm(c: str) -> str:
        key = crs_registry_code(crs_input(c))
        if key is None:
            raise ValueError(
                f"{c!r} has no registry CRS code: registry dispatch needs "
                "an identified CRS")
        return key

    src, dst = norm(src), norm(dst)
    src_spec = _geog_only(src)
    dst_spec = _geog_only(dst)
    _check_same_body(src_spec, dst_spec)
    ix = _ops_by_crs()
    idx, canon = ix["idx"], ix["canon"]
    # ops are indexed under the datum's canonical geog2D code (the
    # datum bridge) — canonicalize the lookup the same way
    ksrc, kdst = canon(src), canon(dst)

    out = []
    for op in idx.get((ksrc, kdst), []):
        c = _build_candidate(op, src_spec, dst_spec, inverse=False)
        if c is not None:
            out.append(c)
    for op in idx.get((kdst, ksrc), []):
        c = _build_candidate(op, src_spec, dst_spec, inverse=True)
        if c is not None:
            out.append(c)
    # supersession-aware ranking: a transformation superseded by another
    # candidate in this same result set is dropped (factory.cpp
    # discardSuperseded; chains resolve transitively — A superseded by B
    # superseded by C leaves only C)
    out = _discard_superseded(out)

    if not out and src != dst:
        # one-level composition through an intermediate pivot CRS — the
        # WGS84 hub plus arbitrary registry pivots (reference
        # findsOpsInRegistryWithIntermediate / createOperationsWithDatumPivot,
        # coordinateoperationfactory.cpp:1986, :761)
        out.extend(_pivot_candidates(src, dst, src_spec, dst_spec,
                                     max_candidates, hub))

    # ballpark: no datum change (reference 4D_api.cpp:2262-2312) — ranked
    # last by unknown accuracy, and the gridless fallback of the dispatch
    from proj_spark.plans.pipeline import compile_pipeline as _cp
    import math as _math
    # cap keeps the best-ranked candidates (accuracy, then finer area),
    # not whatever the registry listed first
    out.sort(key=lambda c: (c.accuracy if c.accuracy >= 0 else _math.inf,
                            c.pseudo_area))
    out = out[:max_candidates]
    # geocentric-latitude sides (IAU ocentric CRSs, +geoc in the lowered
    # spec): the ballpark must still run the geoc conversions — a plain
    # noop would silently copy geocentric latitude as geodetic (the
    # reference composes the Geographic/Geocentric-latitude conversion
    # around its ballpark, createOperationsFromSphericalPlanetocentric)
    bp = "+proj=noop"
    src_geoc = " +geoc" in src_spec
    dst_geoc = " +geoc" in dst_spec
    if src_geoc or dst_geoc:
        steps = []
        if src_geoc:
            ell = _ell_of(src_spec)
            steps.append(f"+step +inv +proj=geoc {ell}")
        if dst_geoc:
            ell = _ell_of(dst_spec)
            steps.append(f"+step +proj=geoc {ell}")
        bp = "+proj=pipeline " + " ".join(steps)
    out.append(Candidate(_cp(bp), accuracy=-1.0,
                         needs_grids=False, name="ballpark"))
    return out


def _pivot_candidates(src, dst, src_spec, dst_spec, cap, hub):
    """One-intermediate-pivot compositions: every CRS P with direct
    registry ops src->P AND P->dst (either stored direction) is a pivot;
    leg accuracies sum, leg areas intersect, each leg passes the
    supersession filter. Pivots are ranked by best-case summed accuracy
    (the WGS84 hub keeps priority on ties) and capped, so a hub-connected
    pair behaves exactly as the old hub-only composition while regional
    pairs (e.g. ETRF89 -> DHDN through the ETRS89 ensemble) now resolve
    through their published pivot (reference
    findsOpsInRegistryWithIntermediate)."""
    import math as _math

    from proj_spark.plans.dispatch import Candidate
    from proj_spark.plans.pipeline import Pipeline

    ix = _ops_by_crs()
    canon, nbr = ix["canon"], ix["nbr"]
    ksrc, kdst = canon(src), canon(dst)
    legs1_all = nbr.get(ksrc, {})
    pivots = [p for p in legs1_all
              if p not in (ksrc, kdst) and kdst in nbr.get(p, {})]
    if not pivots:
        return []

    def best_acc(ops):
        accs = [o["accuracy"] for o, _ in ops if o["accuracy"] >= 0]
        return min(accs) if accs else _math.inf

    khub = canon(hub)
    pivots.sort(key=lambda p: (
        best_acc(legs1_all[p]) + best_acc(nbr[p].get(kdst, [])),
        0 if p == khub else 1, p))
    out = []
    for p in pivots[:8]:
        try:
            p_spec = _geog_only(p)
        except Exception:
            continue   # pivot not lowerable as a geographic CRS
        a = [c for c in (_build_candidate(op, src_spec, p_spec, inv)
                         for op, inv in legs1_all[p]) if c is not None]
        b = [c for c in (_build_candidate(op, p_spec, dst_spec, inv)
                         for op, inv in nbr[p].get(kdst, []))
             if c is not None]
        a = _discard_superseded(a)
        b = _discard_superseded(b)
        for ca in a:
            for cb in b:
                bbox = _bbox_intersect(ca.src_bbox, cb.src_bbox)
                if bbox is not None and (bbox[0] >= bbox[2]
                                         or bbox[1] >= bbox[3]):
                    continue
                acc = (ca.accuracy + cb.accuracy
                       if ca.accuracy >= 0 and cb.accuracy >= 0 else -1.0)
                pipe = Pipeline(
                    list(ca.pipeline.steps) + list(cb.pipeline.steps),
                    f"{ca.name} + {cb.name}")
                out.append(Candidate(
                    pipe, src_bbox=bbox, dst_bbox=bbox, accuracy=acc,
                    needs_grids=ca.needs_grids or cb.needs_grids,
                    name=f"{ca.name} + {cb.name}"))
                if len(out) >= 4 * cap:
                    return out
    return out


def _bbox_intersect(a, b):
    if a is None:
        return b
    if b is None:
        return a
    return (max(a[0], b[0]), max(a[1], b[1]),
            min(a[2], b[2]), min(a[3], b[3]))


def crs_to_crs_epsg_dispatch(src: str, dst: str):
    """CandidateDispatch for an EPSG geographic pair — the
    proj_create_crs_to_crs analogue with per-point operation selection."""
    from proj_spark.plans.dispatch import CandidateDispatch

    return CandidateDispatch(candidate_operations(src, dst))
