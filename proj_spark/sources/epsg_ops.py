"""Registry-driven candidate-operation lists — the proj_create_crs_to_crs
planner path over the bundled EPSG dataset.

The reference resolves a CRS pair to a RANKED LIST of coordinate
operations from the EPSG registry (reference
src/iso19111/coordinateoperation.cpp createOperations) and dispatches per
point at transform time (4D_api.cpp). This module plans over the op
records `sources.epsg.operations` reads — Helmert (static geographic and
geocentric, Molodensky-Badekas, time-dependent, time-specific),
NADCON/NTv1/NTv2 grid, offset, PROJ-string and concatenated operations —
and reads no registry row itself:

* the records are indexed under their canonical CRS pair
  (`epsg.canonical_crs`), with a null operation between each datum
  ensemble and its members at the ensemble accuracy; concatenated
  operations are chained, each step's direction inferred from the CRS
  it starts at;
* direct candidates run in both directions (the registry stores one),
  grid candidates only when the grid loads (skipNonInstantiable), and
  superseded candidates are dropped;
* with no direct op, one-level composition through any pivot CRS with
  ops to both ends: accuracies summed, areas intersected, pivots ranked
  by best summed accuracy with the WGS84 hub winning ties;
* a ballpark (no datum change) candidate comes last, accuracy unknown
  (4D_api.cpp:2262-2312), so out-of-area points degrade instead of
  erroring.

Each candidate lowers to `+step` pipeline fragments, and the list plugs
straight into plans.dispatch.CandidateDispatch.
"""

from __future__ import annotations

from proj_spark.sources import epsg as E


def _conv_of(method_name: str) -> str:
    nm = method_name.lower()
    if "position vector" in nm or "(pv" in nm:
        return "position_vector"
    return "coordinate_frame"


_op_index = None


def _chain(op: dict, by_code: dict) -> dict | None:
    """A concatenated op record with its steps resolved to [(step op,
    inverse)], each step's direction inferred from CRS chaining
    (reference coordinateoperationfactory.cpp createOperations); None
    when a step is unknown or the chain does not connect."""
    canon = E.canonical_crs
    chain = []
    cur = op["src"]
    for sc in op["steps"]:
        sop = by_code.get(sc)
        if sop is None:
            return None
        if canon(sop["src"]) == canon(cur):
            chain.append((sop, False))
            cur = sop["dst"]
        elif canon(sop["dst"]) == canon(cur):
            chain.append((sop, True))
            cur = sop["src"]
        else:
            return None
    if canon(cur) != canon(op["dst"]):
        return None
    acc = op["accuracy"]
    if acc < 0 and all(s["accuracy"] >= 0 for s, _ in chain):
        acc = sum(s["accuracy"] for s, _ in chain)
    return {**op, "accuracy": acc, "steps": chain}


def _ops_by_crs():
    """{"idx": {(canonical src, canonical dst): [op, ...]}, "by_code":
    {code: op}, "nbr": directed adjacency over canonical codes}."""
    global _op_index
    if _op_index is not None:
        return _op_index
    canon = E.canonical_crs
    idx: dict[tuple[str, str], list[dict]] = {}
    by_code: dict[str, dict] = {}   # step lookup for concatenated ops

    def add(op: dict, indexed: bool = True) -> None:
        by_code[op["code"]] = op
        if indexed:
            idx.setdefault((canon(op["src"]), canon(op["dst"])),
                           []).append(op)

    # datum ensembles (reference data/sql/geodetic_datum_ensemble_member
    # .sql; factory.cpp createDatumEnsemble): a member realization is
    # equivalent to its ensemble within the PUBLISHED ensemble accuracy
    # (WGS84 2.0 m, ETRS89 0.1 m), so a null transformation
    # member<->ensemble joins the candidate index at that accuracy. This
    # is what lets NAD27 -> "WGS 84 (G1762)" resolve as 'NAD27 to WGS 84
    # (33) + WGS 84 to WGS 84 (G1762)' (reference test_operationfactory.cpp
    # NAD27_to_WGS84_G1762), while a direct member-to-member Helmert
    # (EPSG:7667, accuracy 0.01) still outranks the 2 m ensemble path.
    for ens in E.ensembles():
        ens_crs = E.datum_crs(ens.code)
        if ens_crs is None:
            continue
        ens_name = E.crs_record(ens_crs).name
        for _auth, mem, _name in ens.members:
            mem_crs = E.datum_crs(mem)
            if mem_crs is None:
                continue
            add({
                # the code is synthetic, so it is not labelled EPSG
                # (the reference's DERIVED_FROM(EPSG) convention)
                "kind": "ensemble_null", "auth": "DERIVED_FROM(EPSG)",
                "code": f"{ens.code}-member-{mem}",
                "name": f"{ens_name} to {E.crs_record(mem_crs).name}",
                "method": "ensemble", "method_name": "datum ensemble member",
                "src": ens_crs, "dst": mem_crs, "accuracy": ens.accuracy,
                "bbox": None,
            })

    for op in E.operations():
        kind = op["kind"]
        if kind == "concat":
            op = _chain(op, by_code)
            if op is not None:
                add(op)
        elif kind != "geoid":
            # PROJ-string steps serve concatenated ops and the URN
            # surface; vertical-only offsets are not geographic pairs
            add(op, kind != "projstring" and op["method"] != "9616")

    # directed adjacency over canonical codes for the intermediate-pivot
    # search (reference coordinateoperationfactory.cpp:1986
    # findsOpsInRegistryWithIntermediate): nbr[A][B] = [(op, inverse)]
    # applying A -> B with one registry row
    nbr: dict[str, dict[str, list]] = {}
    for (a, b), ops in idx.items():
        for op in ops:
            nbr.setdefault(a, {}).setdefault(b, []).append((op, False))
            nbr.setdefault(b, {}).setdefault(a, []).append((op, True))
    _op_index = {"idx": idx, "by_code": by_code, "nbr": nbr}
    return _op_index


def _discard_superseded(cands: list) -> list:
    """Drop candidates superseded (`epsg.supersessors`) by another
    candidate IN THE SAME LIST — the reference's discardSuperseded pass.
    A replacement whose grid does not load never enters the list, so its
    superseded op survives (the reference's unknown-grid guard)."""
    metas = [getattr(c, "meta", None) or {} for c in cands]
    present = {E.op_key(m.get("kind"), m.get("code")) for m in metas}
    return [c for c, m in zip(cands, metas)
            if present.isdisjoint(E.supersessors(m.get("kind"),
                                                 m.get("code")))]


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


def _steps(op: dict, inverse: bool) -> list:
    """A concatenated op's [(step op, inverse)] in the order applied."""
    return op["steps"] if not inverse else [
        (s, not i) for s, i in reversed(op["steps"])]


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
        for sop, sinv in _steps(op, inverse):
            try:
                s_spec = _geog_only(E.canonical_crs(sop["src"]))
                d_spec = _geog_only(E.canonical_crs(sop["dst"]))
            except Exception:
                return None   # step between non-geographic CRSs
            if sinv:
                s_spec, d_spec = d_spec, s_spec
            sub = _op_step_fragments(sop, s_spec, d_spec, sinv)
            if sub is None:
                return None
            frags.extend(sub)
        return frags
    if op["kind"] == "grid":
        # hgridshift fwd maps src->dst as stored
        if has_pm(src_spec, dst_spec):
            return None
        g = f"+proj=hgridshift +grids={op['grid']}"
        if inverse:
            g = f"+inv {g}"
        return [f"+step {g}"]
    return None   # e.g. a PROJ-string step: not loweable between specs


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
    kind = op["kind"]
    if kind == "projstring":
        toks = op["spec"].split()
        if toks and toks[0] in ("+proj=pipeline", "proj=pipeline"):
            raise NotImplementedError(
                "nested pipeline PROJString operation")
        return ["+step " + ("+inv " if inverse else "") + " ".join(toks)]
    if kind == "concat":
        return [f for sop, sinv in _steps(op, inverse)
                for f in _native_fragments(sop, sinv)]
    if kind == "helmert" and "geocentric" in (E.crs_type(op["src"]),
                                              E.crs_type(op["dst"])):
        h = f"+proj=helmert {_helmert_params(op)}"
        return ["+step " + ("+inv " if inverse else "") + h]
    # geographic-domain rows reuse the pair lowering
    s_code, d_code = op["src"], op["dst"]
    if inverse:
        s_code, d_code = d_code, s_code
    frags = _op_step_fragments(op, _geog_only(E.canonical_crs(s_code)),
                               _geog_only(E.canonical_crs(d_code)), inverse)
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
    from proj_spark.crs import resolve_ellipsoid
    from proj_spark.plans.dispatch import Candidate
    from proj_spark.plans.pipeline import (crs_input, crs_registry_code,
                                           parse_params, tokenize)

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
    E.check_same_body(*(resolve_ellipsoid(parse_params(tokenize(s))).a
                        for s in (src_spec, dst_spec)))
    idx = _ops_by_crs()["idx"]
    # ops are indexed under the datum's canonical geog2D code (the
    # datum bridge) — canonicalize the lookup the same way
    ksrc, kdst = E.canonical_crs(src), E.canonical_crs(dst)

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

    nbr = _ops_by_crs()["nbr"]
    ksrc, kdst = E.canonical_crs(src), E.canonical_crs(dst)
    legs1_all = nbr.get(ksrc, {})
    pivots = [p for p in legs1_all
              if p not in (ksrc, kdst) and kdst in nbr.get(p, {})]
    if not pivots:
        return []

    def best_acc(ops):
        accs = [o["accuracy"] for o, _ in ops if o["accuracy"] >= 0]
        return min(accs) if accs else _math.inf

    khub = E.canonical_crs(hub)
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
