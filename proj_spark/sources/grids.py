"""Grid files for every grid-consuming step: one lookup, one cache and one
edge-clamped bilinear sampler.

* ``find`` walks ``_GRID_SEARCH_PATHS`` for a name (``egm96_15.gtx`` falls
  back to the bundled ``egm96_15_downsampled.gtx`` extract).
* ``load`` reads a comma list of names through one reader. ``@name``
  marks a grid that may be missing or unreadable (the reference's
  pj_hgrid_init/pj_vgrid_init canFail path), and ``null`` is the
  world-covering zero-shift grid of the horizontal and vertical readers
  (grids.cpp NullHorizontalShiftGrid / NullVerticalShiftGrid).
* ``read`` caches a file's grids per (path, reader), so one file can serve
  as a horizontal and a vertical grid in the same process.
* ``cell`` + ``bilinear`` are the edge-tolerant bilinear sample shared by
  hgridshift (grids.cpp pj_hgrid_interpolate :3314-3397) and gridshift
  (gridshift.cpp grid_interpolate :381-408).

Grids are small numpy arrays; they reach Spark executors by closure
capture of the compiled steps.
"""

from __future__ import annotations

import math
import os

import numpy as np

from proj_spark.sources.geotiff import load_hgrids_tiff, load_vgrids_tiff
from proj_spark.sources.gtx import VGrid, parse_gtx
from proj_spark.sources.ntv2 import (ShiftGrid, parse_ct2, parse_gsb,
                                     parse_ntv1)

_FIXTURE_GRIDS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "tests", "fixtures", "grids")

_GRID_SEARCH_PATHS = [
    ".",
    "data",
    # user-configured grid directory (PROJ_DATA-style)
    *([os.environ["PROJ_SPARK_GRID_DIR"]]
      if os.environ.get("PROJ_SPARK_GRID_DIR") else []),
    # deployed data dir (PROJ_DATA analogue; see sources/epsg.py) for
    # --py-files cluster runs where grids ship separately from code
    *([os.path.join(os.environ["PROJ_SPARK_DATA"], "grids", "tests"),
       os.path.join(os.environ["PROJ_SPARK_DATA"], "grids"),
       os.environ["PROJ_SPARK_DATA"]]
      if os.environ.get("PROJ_SPARK_DATA") else []),
    # bundled micro test grids (copied from the reference's public test
    # data) — the engine runs standalone
    os.path.join(_FIXTURE_GRIDS, "tests"),
    _FIXTURE_GRIDS,                # "tests/xxx.tif"-style gie references
]
# the reference's gie fixtures name egm96_15.gtx; only the downsampled
# extract ships in its test data
_ALIASES = {"egm96_15.gtx": "egm96_15_downsampled.gtx"}
_CACHE: dict = {}

_REL_TOL = 1e-5  # REL_TOLERANCE_HGRIDSHIFT


def find(name: str) -> str | None:
    """The first search-path entry holding ``name`` (or its alias)."""
    for n in filter(None, (name, _ALIASES.get(name))):
        for d in _GRID_SEARCH_PATHS:
            cand = os.path.join(d, n)
            if os.path.exists(cand):
                return cand
    return None


def require(name: str, what: str = "grid") -> str:
    path = find(name)
    if path is None:
        raise FileNotFoundError(f"{what} {name!r} not found")
    return path


def read(path: str, reader):
    """``reader(path)``, read once per process."""
    key = (path, reader)
    if key not in _CACHE:
        _CACHE[key] = reader(path)
    return _CACHE[key]


def read_hgrids(path: str) -> list[ShiftGrid]:
    """Horizontal shift grids (east-positive radians) from GeoTIFF,
    CTable2, NTv1 or NTv2; datum-shift use compensates the NT
    west-positive convention (grids.cpp valueAt compensate=true)."""
    if path.lower().endswith((".tif", ".tiff")):
        return load_hgrids_tiff(path)
    with open(path, "rb") as fh:
        magic = fh.read(9)
    if magic.startswith(b"CTABLE V2"):
        return parse_ct2(path, negate_lon=True)
    if magic.startswith(b"HEADER"):
        return parse_ntv1(path)
    return parse_gsb(path)


def read_velocity_ct2(path: str) -> list[ShiftGrid]:
    """CTable2 velocities read verbatim (pj_hgrid_value, compensate=false)."""
    return parse_ct2(path)


def read_vgrids(path: str) -> list[VGrid]:
    """Vertical shift grids (metres) from GeoTIFF or GTX."""
    if path.lower().endswith((".tif", ".tiff")):
        return load_vgrids_tiff(path)
    return parse_gtx(path)


_ZEROS = np.zeros((3, 3), dtype=np.float32)
_NULL = {read_hgrids: ShiftGrid("null", -math.pi, -math.pi / 2, math.pi,
                                math.pi / 2, 3, 3, _ZEROS, _ZEROS),
         read_vgrids: VGrid(-math.pi, -math.pi / 2, math.pi, math.pi / 2,
                            3, 3, _ZEROS)}


def load(spec: str, reader) -> list:
    """The grids of a ``+grids=`` style comma list, in list order."""
    grids = []
    for name in spec.split(","):
        optional = name.startswith("@")
        name = name.lstrip("@")
        if name == "null" and reader in _NULL:
            grids.append(_NULL[reader])
            continue
        try:
            grids.extend(read(require(name), reader))
        except Exception:
            if optional:
                continue
            raise
    if not grids:
        raise FileNotFoundError(f"no usable grid in +grids={spec!r}")
    return grids


def cell(g, dx, dy):
    """(ix, iy, fx, fy, valid): the cell and in-cell fractions of offsets
    (dx, dy) from g's south-west node, in g's units. A point within
    10 * REL_TOL cells outside an edge is clamped onto it; ``valid``
    marks points whose cell lies inside g."""
    tx = dx / g.resx
    ty = dy / g.resy
    ix = np.floor(tx).astype(np.int64)
    iy = np.floor(ty).astype(np.int64)
    fx = tx - ix
    fy = ty - iy
    low = (ix == -1) & (fx > 1 - 10 * _REL_TOL)
    ix = np.where(low, 0, ix)
    fx = np.where(low, 0.0, fx)
    high = (ix + 1 == g.width) & (fx < 10 * _REL_TOL)
    ix = np.where(high, ix - 1, ix)
    fx = np.where(high, 1.0, fx)
    low = (iy == -1) & (fy > 1 - 10 * _REL_TOL)
    iy = np.where(low, 0, iy)
    fy = np.where(low, 0.0, fy)
    high = (iy + 1 == g.height) & (fy < 10 * _REL_TOL)
    iy = np.where(high, iy - 1, iy)
    fy = np.where(high, 1.0, fy)
    valid = (ix >= 0) & (ix + 1 < g.width) & (iy >= 0) & (iy + 1 < g.height)
    return ix, iy, fx, fy, valid


def bilinear(v: np.ndarray, ix, iy, fx, fy) -> np.ndarray:
    """Bilinear blend of the (rows, cols) array v at a ``cell`` result.
    Invalid cells read a clamped node; mask them with ``valid``."""
    h, w = v.shape
    ix = np.clip(ix, 0, w - 2)
    iy = np.clip(iy, 0, h - 2)
    m10 = fx * (1.0 - fy)
    m11 = fx * fy
    m01 = (1.0 - fx) * fy
    m00 = (1.0 - fx) * (1.0 - fy)
    return (m00 * v[iy, ix] + m10 * v[iy, ix + 1]
            + m01 * v[iy + 1, ix] + m11 * v[iy + 1, ix + 1])
