"""Grid files for every grid-consuming step: one lookup, one cache, one
grid tree, one selection and one edge-clamped bilinear sampler.

* ``find`` walks ``_GRID_SEARCH_PATHS`` for a name (``egm96_15.gtx`` falls
  back to the bundled ``egm96_15_downsampled.gtx`` extract).
* ``load`` reads a comma list of names through one reader. ``@name``
  marks a grid that may be missing or unreadable (the reference's
  pj_hgrid_init/pj_vgrid_init canFail path), and ``null`` is the
  world-covering zero-shift grid of the horizontal and vertical readers
  (grids.cpp NullHorizontalShiftGrid / NullVerticalShiftGrid).
* ``read`` caches a file's grids per (path, reader), so one file can serve
  as a horizontal and a vertical grid in the same process.
* One tree: every reader returns a file's grids in file order, each with a
  ``name`` and the ``parent`` it nests in (``"NONE"`` at the top). NTv2
  takes its links from PARENT records, every GeoTIFF reader goes through
  ``_tiff_tree`` (grids.cpp insertIntoHierarchy), and CTable2, NTv1, GTX
  and ``null`` are one top-level grid.
* One selection: ``select`` picks each point's grid the way grids.cpp
  gridAt does, for hgridshift, vgridshift, gridshift, xyzgridshift,
  deformation and defmodel alike.
* ``cell`` + ``bilinear`` sample under kernels.gridshift ``interpolate``,
  the sampler of the one horizontal kernel ``hgrid_apply``; the one
  channel resolver is ``geotiff.channels``.

Grids are small numpy arrays; they reach Spark executors by closure
capture of the compiled steps.
"""

from __future__ import annotations

import math
import os
from dataclasses import replace
from functools import partial

import numpy as np

from proj_spark.sources.geotiff import (channels, load_hgrids_tiff,
                                        load_vgrids_tiff, parse_geotiff)
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
_WRAP_SLACK = 1e-12  # radians


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


def read_hgrids(path: str, negate_lon: bool = True) -> list[ShiftGrid]:
    """Horizontal shift grids (east-positive radians) from GeoTIFF,
    CTable2, NTv1 or NTv2; ``negate_lon`` compensates the NT formats'
    west-positive longitudes (grids.cpp valueAt compensateNTConvention)."""
    if path.lower().endswith((".tif", ".tiff")):
        return _tiff_tree(path, load_hgrids_tiff(path))
    with open(path, "rb") as fh:
        magic = fh.read(9)
    if magic.startswith(b"CTABLE V2"):
        return parse_ct2(path, negate_lon)
    if magic.startswith(b"HEADER"):
        return parse_ntv1(path, negate_lon)
    return parse_gsb(path, negate_lon)


# deformation's +xy_grids velocities (pj_hgrid_value: compensate=false)
read_velocities = partial(read_hgrids, negate_lon=False)


def read_vgrids(path: str) -> list[VGrid]:
    """Vertical shift grids (metres) from GeoTIFF or GTX."""
    if path.lower().endswith((".tif", ".tiff")):
        return _tiff_tree(path, load_vgrids_tiff(path))
    return parse_gtx(path)


def read_generic(path: str):
    """GeoTIFF grids as stored, for gridshift, xyzgridshift and
    deformation +grids. A grid takes the metadata it lacks from the file's
    first grid (grids.cpp GTiffGenericGrid::metadataItem :2866-2870)."""
    tiffs = [g for g in parse_geotiff(path) if g.subfile_type in (0, 2)]
    for g in tiffs[1:]:
        for k, v in tiffs[0].metadata.items():
            g.metadata.setdefault(k, v)
        for k, v in tiffs[0].sample_meta.items():
            g.sample_meta.setdefault(k, v)
    return _tiff_tree(path, [(g, g) for g in tiffs])


def _tiff_tree(path: str, pairs) -> list:
    """The grids of ``(tiff, grid)`` pairs (a GeoTIFF's IFDs in file order
    and the grid read from each), named and linked to their parents the
    way grids.cpp insertIntoHierarchy (:1371-1430) builds its tree:

    * a parent_grid_name attaches the grid only if that parent's extent
      contains the grid's extent; otherwise the grid falls through to the
      bounding-box method (a child poking outside its named parent);
    * a grid with a grid_name but no parent_grid_name is top-level;
    * the bounding-box method walks the top-level grids of the grid's own
      TYPE (any, when it has none) in file order and descends into the
      first containing child recursively (insertGrid), else the grid is
      top-level.

    An unnamed grid is named ``path#index``.
    """
    def contains(p, c):  # ExtentAndRes::contains (grids.cpp:94)
        p, c = pairs[p][1], pairs[c][1]
        return (c.west >= p.west and c.east <= p.east
                and c.south >= p.south and c.north <= p.north)

    by_name: dict[str, int] = {}
    top: list[int] = []
    children: dict[int, list[int]] = {}
    parent: dict[int, int] = {}

    def insert_bbox(p, i):
        for c in children.get(p, []):
            if contains(c, i):
                insert_bbox(c, i)
                return
        children.setdefault(p, []).append(i)
        parent[i] = p

    for i, (t, _) in enumerate(pairs):
        gname = t.metadata_item("grid_name")
        pname = t.metadata_item("parent_grid_name")
        if gname:
            by_name[gname] = i
        if pname:
            p = by_name.get(pname)
            if p is not None and contains(p, i):
                children.setdefault(p, []).append(i)
                parent[i] = p
                continue
        elif gname:
            top.append(i)
            continue
        gtype = t.metadata_item("TYPE")
        for p in top:
            if (not gtype or pairs[p][0].metadata_item("TYPE") == gtype) \
                    and contains(p, i):
                insert_bbox(p, i)
                break
        else:
            top.append(i)

    names = [t.metadata_item("grid_name") or f"{path}#{i}"
             for i, (t, _) in enumerate(pairs)]
    return [replace(g, name=names[i],
                    parent=names[parent[i]] if i in parent else "NONE")
            for i, (_, g) in enumerate(pairs)]


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


def load_channels(spec: str, names: tuple, default: tuple) -> list:
    """``load(spec, read_generic)``, each grid checked to hold ``names``."""
    grids = load(spec, read_generic)
    for g in grids:
        channels(g, names, default)
    return grids


def full_world(g) -> bool:
    """A geographic grid spanning every longitude
    (ExtentAndRes::fullWorldLongitude)."""
    return g.is_geographic and g.east - g.west + g.resx >= 2 * math.pi - 1e-10


def select(grids: list, x, y, eps):
    """Yield ``(grid, mask, xg)``: the points of ``mask`` take ``grid``,
    picked the way grids.cpp gridAt does (:2751-2775). A point takes the
    first top-level grid, in list order, that holds it, then the first
    child of that grid that holds it, recursively. ``xg`` are the masked
    points' x as the grid holds them. A child is a grid whose ``parent``
    names a grid listed before it (NTv2GridSet::open :2310-2318).

    A grid holds a point within ``eps * (resx + resy)`` of its extent
    (isPointInExtent :1679). A geographic grid tests x, or x +- 2 pi past
    an edge, and one spanning the full world holds every x. With ``eps``
    None a grid holds the points ``cell`` clamps into it at x, else at x
    +- 2 pi past an edge by ``_REL_TOL`` (gridshift.cpp normalizeX), and
    a full-world grid every x whose y ``cell`` takes."""
    seen: set[str] = set()
    children: dict[str, list] = {}
    top = []
    for g in grids:
        if g.parent != "NONE" and g.parent in seen:
            children.setdefault(g.parent, []).append(g)
        else:
            top.append(g)
        if g.name:
            seen.add(g.name)

    def holds(g, m):
        tol = (g.resx + g.resy) * (_REL_TOL if eps is None else eps)
        xg = wrap(g, x, tol)
        if eps is None:
            held = cell(g, x - g.west, y - g.south)[4]
            if g.is_geographic:
                xg = np.where(held, x, xg)
                dx = 0.0 * x if full_world(g) else xg - g.west
                held |= cell(g, dx, y - g.south)[4]
            return m & held, xg
        m = m & (y >= g.south - tol) & (y <= g.north + tol)
        if not full_world(g):
            # _WRAP_SLACK: x +- 2 pi rounds past an edge it lands on
            m &= ((xg >= g.west - tol - _WRAP_SLACK)
                  & (xg <= g.east + tol + _WRAP_SLACK))
        return m, xg

    def descend(g, m, xg, depth=0):
        if depth < 16:  # cycle guard; real files nest 2-3 deep
            for c in children.get(g.name, []):
                mc, xc = holds(c, m)
                if mc.any():
                    yield from descend(c, mc, xc, depth + 1)
                    m = m & ~mc
        if m.any():
            yield g, m, xg[m]

    left = np.ones(np.shape(x), dtype=bool)
    for g in top:
        m, xg = holds(g, left)
        if m.any():
            left &= ~m
            yield from descend(g, m, xg)


def wrap(g, x, tol):
    """x as geographic grid g holds it: x +- 2 pi past an edge by more than
    ``tol``, else x (grids.cpp isPointInExtent)."""
    if not g.is_geographic:
        return x
    return np.where(x < g.west - tol, x + 2 * math.pi,
                    np.where(x > g.east + tol, x - 2 * math.pi, x))


def floor_index(t) -> np.ndarray:
    """floor(t) as int64. Only offsets an int64 holds are cast (NaN would
    become int64 min); NaN and far-off ones get -2, outside every grid."""
    return np.floor(np.where(np.abs(t) < 2.0 ** 62, t, -2.0)).astype(np.int64)


def cell(g, dx, dy):
    """(ix, iy, fx, fy, valid): the cell and in-cell fractions of offsets
    (dx, dy) from g's south-west node, in g's units. A point within
    10 * REL_TOL cells outside an edge is clamped onto it; ``valid``
    marks points whose cell lies inside g."""
    tx = dx / g.resx
    ty = dy / g.resy
    ix = floor_index(tx)
    iy = floor_index(ty)
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
