"""Per-point candidate-operation dispatch — the proj_trans alternative-
operation machinery, vectorized.

When a CRS pair admits several coordinate operations (different grids,
Helmert variants, ballpark fallbacks) the reference does not compile one
pipeline: it keeps a RANKED LIST and selects per point at transform time
(reference src/4D_api.cpp proj_trans :421-535 +
pj_get_suggested_operation :217-360):

* a candidate is eligible for a point when its source-side bbox contains
  it (longitude normalized into [-180, 180]);
* among eligible candidates the best accuracy wins, ties broken by the
  smallest pseudo-area (finer regional ops beat continental ones);
* if the chosen operation returns an invalid coordinate (e.g. the point
  is inside the grid's bbox but outside every subgrid — the reference's
  ntv2_0.gsb Montana example, 4D_api.cpp:431-437) the candidate is
  EXCLUDED for that point and the next-best is tried, up to
  N_MAX_RETRY=2 exclusions (3 attempts);
* points matching no bbox (or exhausting retries) fall back to the first
  listed operation that needs no grids (:493-530), else error-in-band.

Vectorization: the selection order (accuracy, pseudo-area, list order) is
a static total order over candidates, so "per-point best with exclusion
of failures" is exactly "walk candidates in sorted order; each candidate
processes the still-unresolved points inside its bbox with fewer than 3
attempts". One walk serves a whole Arrow batch; each candidate tests only
the points still pending and runs one pipeline call on those it takes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from proj_spark.plans.pipeline import Pipeline, compile_pipeline

_N_MAX_RETRY = 2  # reference 4D_api.cpp:423


def _normalize_lon(x: np.ndarray) -> np.ndarray:
    """reference 4D_api.cpp:223-234."""
    out = np.where(x > 180.0, x - 360.0, x)
    out = np.where(out < -180.0, out + 360.0, out)
    big = np.abs(out) > 180.0
    if big.any():
        out = np.where(big, np.fmod(out + 180.0, 360.0) - 180.0, out)
    return out


def _in_bbox(bbox, lon: np.ndarray, lat: np.ndarray, norm: np.ndarray) -> np.ndarray:
    """Points inside (west, south, east, north) by raw or normalized
    longitude; ``norm`` is ``_normalize_lon(lon)``, computed once by the
    caller for every candidate it tests."""
    if bbox is None:
        return np.ones(lon.shape, dtype=bool)
    w, s, e, n = bbox
    lat_ok = (lat >= s) & (lat <= n)
    raw = (lon >= w) & (lon <= e)
    return lat_ok & (raw | ((norm >= w) & (norm <= e)))


@dataclass
class Candidate:
    """One alternative operation.

    ``src_bbox`` / ``dst_bbox``: (west, south, east, north) in degrees —
    the area-of-use window tested against the input point (src for fwd,
    dst for inv). None means world.
    ``accuracy``: metres, smaller is better; negative = unknown (ranked
    after every known accuracy, matching the reference's
    ``alt.accuracy >= 0 && alt.accuracy < bestAccuracy`` guard).
    ``needs_grids``: excluded from the no-bbox-match fallback pass.
    """

    pipeline: Pipeline
    src_bbox: tuple[float, float, float, float] | None = None
    dst_bbox: tuple[float, float, float, float] | None = None
    accuracy: float = -1.0
    needs_grids: bool = False
    name: str = ""
    meta: dict | None = None  # builder-specific payload (e.g. registry row)
    pseudo_area: float = field(init=False)

    def __post_init__(self):
        b = self.src_bbox or (-180.0, -90.0, 180.0, 90.0)
        w, s, e, n = b
        # reference pseudoArea (4D_api.cpp add_coord_op_to_list ~:1710-1718):
        # (east-west) * (sin(north)-sin(south)) in radians, with east += 360
        # when the extent crosses the antimeridian (west > east) — a
        # spherical-cap-slice proxy so high-latitude boxes rank smaller than
        # same-degree-span equatorial ones, exactly as the reference ranks.
        if w > e:
            e += 360.0
        self.pseudo_area = (
            max(math.radians(e - w), 0.0)
            * max(math.sin(math.radians(n)) - math.sin(math.radians(s)), 0.0)
        )

    def matches_src(self, lon, lat):
        return _in_bbox(self.src_bbox, lon, lat, _normalize_lon(lon))


def candidate(spec: str, src_bbox=None, dst_bbox=None, accuracy: float = -1.0,
              name: str = "") -> Candidate:
    """Build a Candidate from a proj-string; needs_grids inferred from the
    spec (any grid-consuming op in the chain)."""
    needs = any(k in spec for k in
                ("nadgrids", "+grids", "geoidgrids", "geoid_crs"))
    return Candidate(compile_pipeline(spec), src_bbox, dst_bbox, accuracy,
                     needs_grids=needs, name=name or spec)


class CandidateDispatch:
    """Drop-in for Pipeline (fwd_deg/inv_deg) that dispatches per point."""

    def __init__(self, candidates: list[Candidate]):
        # The reference drops operations whose extent crosses the
        # antimeridian (west > east) from the per-point list entirely
        # (minxSrc <= maxxSrc guard, 4D_api.cpp:1740) — ~45 such extents in
        # the bundled EPSG extract (Fiji/NZ/Aleutians). Keeping them would
        # let an op the reference never runs consume selection slots and
        # serve as the gridless fallback.
        def _crosses(b):
            return b is not None and b[0] > b[2]

        candidates = [c for c in candidates
                      if not _crosses(c.src_bbox) and not _crosses(c.dst_bbox)]
        if not candidates:
            raise ValueError("dispatch needs at least one candidate "
                             "(after dropping antimeridian-crossing extents)")
        self.candidates = list(candidates)  # file order (fallback pass)
        # static selection order: accuracy (unknown last), then pseudo-area,
        # then list order (stable sort) — the reference's pairwise
        # "best accuracy, tie -> smallest area" criterion (:325-339)
        self.order = sorted(
            range(len(candidates)),
            key=lambda i: (
                candidates[i].accuracy if candidates[i].accuracy >= 0.0
                else math.inf,
                candidates[i].pseudo_area,
            ),
        )

    def _run(self, lon, lat, z, t, direction: str):
        shape, n = np.shape(lon), np.size(lon)
        lon, lat = (np.asarray(v, dtype=np.float64).ravel() for v in (lon, lat))
        # z/t: None, one value for every point, or one value per point
        zs, ts = (None if v is None else np.asarray(v, dtype=np.float64).reshape(
            -1 if np.shape(v) == shape else np.shape(v)) for v in (z, t))
        out_x, out_y = np.full((2, n), np.nan)
        out_z = None if z is None else np.full(n, np.nan)

        def apply(c: Candidate, idx: np.ndarray):
            zi, ti = (v if v is None or v.ndim == 0 else v[idx] for v in (zs, ts))
            run = c.pipeline.fwd_deg if direction == "fwd" else c.pipeline.inv_deg
            x, y, zz, _ = run(lon[idx], lat[idx], zi, ti)
            ok = np.isfinite(x) & np.isfinite(y)
            out_x[idx[ok]] = x[ok]
            out_y[idx[ok]] = y[ok]
            if out_z is not None and zz is not None:
                out_z[idx[ok]] = np.broadcast_to(zz, x.shape)[ok]
            return ok

        # the pending points: indices, their lon/lat/normalized lon and
        # attempts so far, compacted whenever points leave
        pend, plon, plat, pnorm = np.arange(n), lon, lat, _normalize_lon(lon)
        tries = np.zeros(n, dtype=np.int8)
        for i in self.order:
            if not pend.size:
                break
            c = self.candidates[i]
            take = np.flatnonzero(_in_bbox(
                c.src_bbox if direction == "fwd" else c.dst_bbox,
                plon, plat, pnorm))
            if not take.size:
                continue
            ok = apply(c, pend[take])
            tries[take] += 1
            keep = tries <= _N_MAX_RETRY
            keep[take[ok]] = False
            keep = np.flatnonzero(keep)
            pend, plon, plat, pnorm, tries = (
                v.take(keep) for v in (pend, plon, plat, pnorm, tries))

        # no-bbox-match / retries-exhausted fallback (a point is unresolved
        # while its x is NaN): first FILE-ORDER operation that needs no
        # grids, applied regardless of bbox (reference :493-530)
        rest = np.flatnonzero(np.isnan(out_x))
        fallback = next((c for c in self.candidates if not c.needs_grids), None)
        if rest.size and fallback is not None:
            apply(fallback, rest)
        return (out_x.reshape(shape), out_y.reshape(shape),
                None if out_z is None else out_z.reshape(shape), t)

    def fwd_deg(self, lon_deg, lat_deg, z=None, t=None):
        return self._run(lon_deg, lat_deg, z, t, "fwd")

    def inv_deg(self, x, y, z=None, t=None):
        return self._run(x, y, z, t, "inv")
