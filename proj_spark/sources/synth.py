"""Deterministic synthetic inputs (no external data, no wall-clock RNG).

1. ``images_df`` — the north-star input table with schema fixed by the task
   spec: (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash long). Rows derive arithmetically from the row
   index via splitmix64, so any slice of any scale is reproducible on any
   executor independently — generation is ``spark.range`` + ``mapInPandas``,
   fully distributed, zero driver materialization.

2. ``lonlat_from_phash`` — the canonical derived coordinates: lon uniform,
   lat area-uniform on the sphere (asin of uniform z), all from phash bits.

3. ``make_polygons`` — jittered n-gons on a fixed grid (+ one skew-hotspot
   polygon, one antimeridian crosser, one polar cap) for spatial-join tests.

4. Tiny PNG codec (filter-0, RGB8) for test-scale pixel-fidelity checks;
   the bench path uses fmt='raw' gradient blobs so image bytes never gate
   throughput. PSNR checks live in pytest, not in the join path.
"""

from __future__ import annotations

import math
import struct
import zlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)

_ADJ = ("misty", "amber", "quiet", "vivid", "rustic", "solar", "velvet", "iron")
_NOUN = ("harbor", "ridge", "meadow", "canyon", "lagoon", "plateau", "grove",
         "steppe", "dune", "fjord", "atoll", "mesa", "tundra")


# --------------------------------------------------------------------------
# deterministic bit mixing
# --------------------------------------------------------------------------

def splitmix64(x) -> np.ndarray:
    """Vectorized splitmix64 (public-domain mixing constants)."""
    z = np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def lonlat_from_phash(phash) -> tuple[np.ndarray, np.ndarray]:
    """Area-uniform sphere coordinates from the 64 phash bits."""
    h = np.asarray(phash, dtype=np.int64).view(np.uint64)
    lo = (h & np.uint64(0xFFFFFFFF)).astype(np.float64)
    hi = (h >> np.uint64(32)).astype(np.float64)
    lon = -180.0 + lo / 2.0**32 * 360.0
    lat = np.degrees(np.arcsin(np.clip(2.0 * (hi / 2.0**32) - 1.0, -1.0, 1.0)))
    return lon, lat


# --------------------------------------------------------------------------
# tiny PNG codec (RGB8, filter 0) — for tests only
# --------------------------------------------------------------------------

def _gradient_pixels(phash: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 gradient patch seeded by phash."""
    r0 = phash & 0xFF
    g0 = (phash >> 8) & 0xFF
    b0 = (phash >> 16) & 0xFF
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.empty((h, w, 3), dtype=np.uint8)
    px[..., 0] = (r0 + xx * 3 + yy) % 256
    px[..., 1] = (g0 + xx + yy * 5) % 256
    px[..., 2] = (b0 + xx * 2 + yy * 7) % 256
    return px


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal RGB8 PNG (no interlace, filter 0 per scanline)."""
    h, w, _ = pixels.shape

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[row].tobytes() for row in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode the subset encode_png produces (RGB8, filter 0)."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            assert depth == 8 and ctype == 2, "unsupported PNG subtype"
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w * 3 + 1
    rows = []
    for r in range(h):
        line = raw[r * stride : (r + 1) * stride]
        assert line[0] == 0, "only filter 0 supported"
        rows.append(np.frombuffer(line[1:], dtype=np.uint8).reshape(w, 3))
    return np.stack(rows)


def make_image_row(i: int, real_png: bool = False) -> dict:
    """One deterministic row (driver-side helper for unit tests)."""
    phash = int(splitmix64(np.array([i], dtype=np.uint64))[0])
    w = 16 + (i % 5) * 16
    h = 16 + (i % 7) * 16
    fmt = "png" if (i % 2 == 0 and real_png) else "raw"
    px = _gradient_pixels(phash, w, h)
    blob = encode_png(px) if fmt == "png" else px.tobytes()
    return {
        "image_id": f"img{i:012d}",
        "bytes": blob,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": f"caption for image {i}: {_ADJ[i % len(_ADJ)]} {_NOUN[i % len(_NOUN)]}",
        "phash": np.int64(np.uint64(phash).astype(np.int64)),
    }


def images_df(spark, n: int, real_png: bool = False, partitions: int | None = None):
    """Distributed deterministic image+caption table of ``n`` rows."""
    import pandas as pd

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            ph = splitmix64(ids.astype(np.uint64)).view(np.int64)
            w = (16 + (ids % 5) * 16).astype(np.int32)
            h = (16 + (ids % 7) * 16).astype(np.int32)
            out = {
                "image_id": [f"img{i:012d}" for i in ids],
                "bytes": [],
                "w": w,
                "h": h,
                "fmt": [],
                "caption": [
                    f"caption for image {i}: {_ADJ[i % len(_ADJ)]} {_NOUN[i % len(_NOUN)]}"
                    for i in ids
                ],
                "phash": ph,
            }
            blobs = []
            fmts = []
            for k, i in enumerate(ids):
                if real_png and i % 2 == 0:
                    blobs.append(encode_png(_gradient_pixels(int(np.uint64(ph[k])), int(w[k]), int(h[k]))))
                    fmts.append("png")
                else:
                    # cheap deterministic blob: 64-byte gradient signature
                    blobs.append(np.uint64(ph[k]).tobytes() * 8)
                    fmts.append("raw")
            out["bytes"] = blobs
            out["fmt"] = fmts
            yield pd.DataFrame(out)

    return (
        spark.range(0, n, numPartitions=partitions)
        .mapInPandas(gen, schema=IMAGE_SCHEMA)
    )


# --------------------------------------------------------------------------
# polygons
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Polygon:
    polygon_id: str
    kind: str                      # "poly" | "cap"
    ring: np.ndarray               # packed [x0, y0, x1, y1, ...] (poly)
    bbox: tuple[float, float, float, float]  # min_lon, min_lat, max_lon, max_lat
    cap: tuple[float, float, float] | None = None  # lon, lat, radius_deg


def _ngon(cx: float, cy: float, r: float, n: int, phase: float) -> np.ndarray:
    ang = phase + np.arange(n) * (2 * math.pi / n)
    # jittered radius, deterministic in the vertex index
    rr = r * (0.75 + 0.25 * np.cos(3 * ang + phase))
    xs = cx + rr * np.cos(ang) / max(math.cos(math.radians(min(abs(cy), 80.0))), 0.2)
    ys = np.clip(cy + rr * np.sin(ang), -89.5, 89.5)
    ring = np.empty(2 * n)
    ring[0::2] = xs
    ring[1::2] = ys
    return ring


def make_polygons(count: int = 64, seed: int = 42) -> list[Polygon]:
    """Deterministic polygon set: grid n-gons + hotspot + antimeridian + cap."""
    polys: list[Polygon] = []
    rng = np.random.default_rng(seed)
    grid = int(math.ceil(math.sqrt(max(count - 3, 1))))
    k = 0
    for gy in range(grid):
        for gx in range(grid):
            if k >= count - 3:
                break
            cx = -170.0 + (gx + 0.5) * (340.0 / grid)
            cy = -75.0 + (gy + 0.5) * (150.0 / grid)
            n = 3 + (k % 10)
            r = 2.0 + float(rng.uniform(0.0, 3.0))
            ring = _ngon(cx, cy, r, n, phase=0.37 * k)
            xs, ys = ring[0::2], ring[1::2]
            polys.append(
                Polygon(
                    f"poly{k:06d}", "poly", ring,
                    (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())),
                )
            )
            k += 1
    # skew hotspot: large polygon over a dense equatorial region
    ring = _ngon(12.0, 2.0, 14.0, 12, phase=0.1)
    xs, ys = ring[0::2], ring[1::2]
    polys.append(Polygon("poly_hotspot", "poly", ring,
                         (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))))
    # antimeridian crosser: continuous lon coordinates beyond +180
    ring = _ngon(179.0, -10.0, 6.0, 8, phase=0.5)
    ring[0::2] += 4.0  # center ~183 => spans 176..190
    xs, ys = ring[0::2], ring[1::2]
    polys.append(Polygon("poly_antimeridian", "poly", ring,
                         (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))))
    # polar cap around the north pole
    polys.append(Polygon("poly_polarcap", "cap", np.empty(0),
                         (-180.0, 86.0, 180.0, 90.0), cap=(0.0, 90.0, 4.0)))
    return polys
