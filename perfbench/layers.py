"""Driver-side layer measurements and reference answers.

Everything here calls public functions of ``proj_spark`` from outside:
kernel Steps through ``compile_pipeline(...).fwd_deg``, S2 encoding
through ``cells.s2_cell_id``, dispatch through ``CandidateDispatch`` and
``Candidate.matches_src``, covers through ``polygon_cover``. The
point-in-polygon reference is the benchmark's own brute force (bbox
prefilter, then the even-odd ray cast) and uses no cell cover.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

REPS = 5


def _ns_per_point(fn, n: int, chunk: int) -> float:
    """Median over REPS of the time to run ``fn(slice)`` over n points in
    ``chunk``-sized slices, in ns per point."""
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        for i in range(0, n, chunk):
            fn(slice(i, min(i + chunk, n)))
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n * 1e9


def kernel_steps(phash: np.ndarray, level: int = 10) -> dict[str, float]:
    """ns/point of each Step of the flagship kernel chain, run in
    ``KERNEL_CHUNK`` slices as the kernel UDF runs them."""
    from proj_spark import cells
    from proj_spark.functions import (GDA_DATUM_SPEC, KERNEL_CHUNK,
                                      LCC_CONUS_SPEC, compile_pipeline)
    from proj_spark.sources.synth import lonlat_from_phash

    datum = compile_pipeline(GDA_DATUM_SPEC)
    utm = compile_pipeline("+proj=utm +ellps=WGS84")
    lcc = compile_pipeline(LCC_CONUS_SPEC)
    lon, lat = lonlat_from_phash(phash)
    lon2, lat2, _, _ = datum.fwd_deg(lon, lat, np.zeros_like(lon))
    n, c = len(phash), KERNEL_CHUNK
    return {
        "kernels.phash_ns_pt": _ns_per_point(lambda s: lonlat_from_phash(phash[s]), n, c),
        "kernels.datum_ns_pt": _ns_per_point(
            lambda s: datum.fwd_deg(lon[s], lat[s], np.zeros(s.stop - s.start)), n, c),
        "kernels.utm_ns_pt": _ns_per_point(lambda s: utm.fwd_deg(lon2[s], lat2[s]), n, c),
        "kernels.lcc_ns_pt": _ns_per_point(lambda s: lcc.fwd_deg(lon2[s], lat2[s]), n, c),
        "cells.s2_ns_pt": _ns_per_point(
            lambda s: cells.s2_cell_id(lon2[s], lat2[s], level), n, c),
    }


def dispatch_layers(disp, lon: np.ndarray, lat: np.ndarray) -> dict[str, float]:
    """Candidate count, ns/point, mean eligible candidates per point and the
    share of points inside no candidate's area of use (served by the
    world-extent fallback)."""
    from proj_spark.functions import KERNEL_CHUNK

    hits = np.zeros(len(lon), dtype=np.int64)
    regional = np.zeros(len(lon), dtype=bool)
    for c in disp.candidates:
        m = c.matches_src(lon, lat)
        hits += m
        if c.src_bbox is not None:
            regional |= m
    return {
        "dispatch.candidates": float(len(disp.candidates)),
        "dispatch.ns_pt": _ns_per_point(
            lambda s: disp.fwd_deg(lon[s], lat[s]), len(lon), KERNEL_CHUNK),
        "dispatch.eligible_per_pt": float(hits.mean()),
        "dispatch.fallback_frac": float((~regional).mean()),
    }


def cover_layers(polys, level: int):
    """(median build time and row count of ``polygon_cover``, the cover
    frame)."""
    from proj_spark.operators.spatial_join import polygon_cover

    times, cover = [], None
    for _ in range(3):
        t0 = time.perf_counter()
        cover = polygon_cover(polys, level)
        times.append(time.perf_counter() - t0)
    return {"build_s": statistics.median(times), "rows": float(len(cover))}, cover


def candidate_pairs(cover, point_cells: np.ndarray) -> int:
    """Number of (point, polygon) pairs the cell cover proposes."""
    cc = np.sort(cover["cell"].to_numpy(np.int64))
    return int((np.searchsorted(cc, point_cells, "right")
                - np.searchsorted(cc, point_cells, "left")).sum())


def _ray_parity(px, py, ring) -> np.ndarray:
    xs, ys = ring[0::2], ring[1::2]
    x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
    odd = np.zeros(len(px), dtype=bool)
    for k in range(len(xs)):
        crosses = (ys[k] > py) != (y2[k] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2[k] - xs[k]) * (py - ys[k]) / (y2[k] - ys[k]) + xs[k]
        odd ^= crosses & (px < xint)
    return odd


def brute_force_pip(lon: np.ndarray, lat: np.ndarray, polys) -> tuple[np.ndarray, np.ndarray]:
    """(point index, polygon index) of every point inside every polygon.

    No cell cover: each polygon's bbox is the only prefilter, rings may
    use continuous longitudes past +180 (points are also tested at
    lon+360), and caps are great-circle discs.
    """
    pts, pls = [], []
    for k, p in enumerate(polys):
        if p.kind == "cap":
            clon, clat, radius = p.cap
            d = np.degrees(np.arccos(np.clip(
                np.sin(np.radians(clat)) * np.sin(np.radians(lat))
                + np.cos(np.radians(clat)) * np.cos(np.radians(lat))
                * np.cos(np.radians(lon - clon)), -1.0, 1.0)))
            idx = np.flatnonzero(d <= radius)
        else:
            w, s, e, n = p.bbox
            in_lat = (lat >= s) & (lat <= n)
            cand = np.flatnonzero(in_lat & (((lon >= w) & (lon <= e))
                                            | ((lon + 360.0 >= w) & (lon + 360.0 <= e))))
            x, y = lon[cand], lat[cand]
            inside = _ray_parity(x, y, p.ring) | _ray_parity(x + 360.0, y, p.ring)
            idx = cand[inside]
        pts.append(idx)
        pls.append(np.full(len(idx), k, dtype=np.int64))
    return np.concatenate(pts), np.concatenate(pls)
