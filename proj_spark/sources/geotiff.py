"""Minimal GeoTIFF reader for PROJ-style correction grids.

Parses exactly the subset PROJ's grid files use (reference
/root/reference/src/grids.cpp GTiffGrid :439-1200): little/big-endian
classic TIFF, strips or tiles, compression none(1) or DEFLATE(8, zlib) with
optional horizontal-differencing predictor(2), sample formats int/uint/
float 16/32/64-bit, contiguous or separate planar config, and the GDAL
sidecar tags — ModelPixelScale(33550) + ModelTiepoint(33922) for
georeferencing, GDAL_METADATA(42112) XML for TYPE / per-sample DESCRIPTION
/ UNITTYPE / grid_name / parent_grid_name / interpolation_method, and
GDAL_NODATA(42113). No external TIFF library — numpy + zlib only.

Each IFD becomes one ``GeoTiffGrid``; ``parse_geotiff`` returns them in file
order, and sources/grids.py links them into a tree (grids.cpp
insertIntoHierarchy). ``channels`` is the one channel resolver: every grid
step picks an IFD's samples through it.
"""

from __future__ import annotations

import math
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

from proj_spark.sources.gtx import VGrid
from proj_spark.sources.ntv2 import ShiftGrid

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 6: 1, 8: 2, 9: 4, 11: 4, 12: 8, 16: 8, 17: 8}


@dataclass
class GeoTiffGrid:
    width: int
    height: int
    samples: int
    data: np.ndarray            # (height, width, samples) float64
    west: float                 # georef in the file's CRS units (deg or m);
    south: float                # node-centered like PROJ's ExtentAndRes
    resx: float
    resy: float
    is_geographic: bool
    metadata: dict = field(default_factory=dict)        # name -> value
    sample_meta: dict = field(default_factory=dict)     # (name, sample) -> value
    nodata: float | None = None
    subfile_type: int = 0       # TIFF NewSubfileType: 1 = overview (skip)
    name: str = ""              # tree links, set by sources.grids
    parent: str = "NONE"
    path: str = ""              # the file, named by every error

    @property
    def east(self) -> float:
        return self.west + (self.width - 1) * self.resx

    @property
    def north(self) -> float:
        return self.south + (self.height - 1) * self.resy

    def metadata_item(self, key: str, sample: int = -1) -> str:
        if sample >= 0:
            return self.sample_meta.get((key, sample), "")
        return self.metadata.get(key, "")


def _read_ifd(data: bytes, bo: str, off: int, big: bool = False):
    if big:
        # BigTIFF: u64 entry count, 20-byte entries (u64 count + 8-byte
        # inline value/offset), u64 next-IFD pointer
        n, = struct.unpack(bo + "Q", data[off:off + 8])
        tags = {}
        base = off + 8
        for i in range(n):
            e = data[base + 20 * i: base + 20 * (i + 1)]
            tag, typ, cnt = struct.unpack(bo + "HHQ", e[:12])
            size = _TYPE_SIZES.get(typ, 1) * cnt
            if size <= 8:
                raw = e[12:12 + max(size, 8)]
            else:
                ptr, = struct.unpack(bo + "Q", e[12:20])
                raw = data[ptr:ptr + size]
            tags[tag] = (typ, cnt, raw)
        nxt, = struct.unpack(bo + "Q", data[base + 20 * n: base + 20 * n + 8])
        return tags, nxt
    n, = struct.unpack(bo + "H", data[off:off + 2])
    tags = {}
    for i in range(n):
        e = data[off + 2 + 12 * i: off + 14 + 12 * i]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        size = _TYPE_SIZES.get(typ, 1) * cnt
        if size <= 4:
            raw = e[8:8 + max(size, 4)]
        else:
            ptr, = struct.unpack(bo + "I", e[8:12])
            raw = data[ptr:ptr + size]
        tags[tag] = (typ, cnt, raw)
    nxt, = struct.unpack(bo + "I", data[off + 2 + 12 * n: off + 6 + 12 * n])
    return tags, nxt


def _vals(tags, tag, bo, default=None):
    if tag not in tags:
        return default
    typ, cnt, raw = tags[tag]
    fmt = {1: "B", 3: "H", 4: "I", 8: "h", 9: "i", 11: "f", 12: "d",
           16: "Q", 17: "q"}.get(typ)
    if fmt is None:
        if typ == 2:
            return raw.split(b"\x00")[0].decode("ascii", "replace")
        return default
    return list(struct.unpack(bo + fmt * cnt, raw[: _TYPE_SIZES[typ] * cnt]))


def _parse_gdal_metadata(xml: str):
    """Poor-man XML parse of the GDAL metadata Items (grids.cpp:539 does the
    same)."""
    meta = {}
    smeta = {}
    pos = 0
    while True:
        i = xml.find("<Item ", pos)
        if i < 0:
            break
        j = xml.find(">", i)
        k = xml.find("</Item>", j)
        if j < 0 or k < 0:
            break
        attrs = xml[i + 6: j].rstrip("/")
        value = xml[j + 1: k].strip()
        name = None
        sample = -1
        for part in attrs.split():
            if part.startswith("name="):
                name = part.split("=", 1)[1].strip('"').strip("'")
            elif part.startswith("sample="):
                sample = int(part.split("=", 1)[1].strip('"').strip("'"))
        if name:
            if sample >= 0:
                smeta[(name, sample)] = value
            else:
                meta[name] = value
        pos = k + 7
    return meta, smeta


def _decode_dtype(bits: int, sf: int, bo: str):
    kind = {1: "u", 2: "i", 3: "f"}.get(sf, "u")
    return np.dtype(f"{bo}{kind}{bits // 8}")


def parse_geotiff(path: str) -> list[GeoTiffGrid]:
    with open(path, "rb") as f:
        data = f.read()
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError(f"{path}: not a TIFF")
    magic, = struct.unpack(bo + "H", data[2:4])
    if magic == 42:
        big = False
        off, = struct.unpack(bo + "I", data[4:8])
    elif magic == 43:  # BigTIFF: u16 offsetsize(8), u16 pad, u64 first IFD
        big = True
        osz, = struct.unpack(bo + "H", data[4:6])
        if osz != 8:
            raise NotImplementedError(f"{path}: BigTIFF offset size {osz}")
        off, = struct.unpack(bo + "Q", data[8:16])
    else:
        raise ValueError(f"{path}: unknown TIFF version {magic}")

    grids: list[GeoTiffGrid] = []
    while off:
        tags, off = _read_ifd(data, bo, off, big)
        # reduced-resolution (overview) IFDs carry no georeferencing and
        # are skipped outright (reference grids.cpp nextGrid overview skip)
        if _vals(tags, 254, bo, [0])[0] & 1:
            continue
        w = _vals(tags, 256, bo)[0]
        h = _vals(tags, 257, bo)[0]
        bits = _vals(tags, 258, bo, [32])
        spp = _vals(tags, 277, bo, [1])[0]
        comp = _vals(tags, 259, bo, [1])[0]
        sf = _vals(tags, 339, bo, [1] * spp)
        planar = _vals(tags, 284, bo, [1])[0]
        predictor = _vals(tags, 317, bo, [1])[0]
        if comp not in (1, 8):
            raise NotImplementedError(f"{path}: TIFF compression {comp}")
        if len(set(bits)) != 1 or len(set(sf)) != 1:
            raise NotImplementedError(f"{path}: mixed sample types")
        dt = _decode_dtype(bits[0], sf[0], bo)
        itemsize = bits[0] // 8

        def read_block(raw: bytes, count: int, rows: int) -> np.ndarray:
            if comp == 8:
                raw = zlib.decompress(raw)
            if len(raw) < count * itemsize:
                raise ValueError(f"{path}: truncated: a block holds "
                                 f"{len(raw)} of {count * itemsize} bytes")
            if predictor == 3:
                # TIFF floating-point predictor: per row, byte-delta coded
                # then split into big-endian byte planes
                nvals = count // rows
                b = np.frombuffer(raw[: count * itemsize], dtype=np.uint8)
                b = b.reshape(rows, nvals * itemsize)
                b = np.cumsum(b.astype(np.uint64), axis=1).astype(np.uint8)
                planes = b.reshape(rows, itemsize, nvals)
                be = np.ascontiguousarray(planes.transpose(0, 2, 1))
                return np.frombuffer(be.tobytes(),
                                     dtype=np.dtype(f">f{itemsize}"),
                                     count=count)
            arr = np.frombuffer(raw, dtype=dt, count=count)
            if predictor == 2:
                arr = np.cumsum(
                    arr.reshape(rows, (count // rows) // chan_per_block,
                                chan_per_block).astype(np.float64),
                    axis=1).reshape(-1)
            return arr

        nplanes = spp if planar == 2 else 1
        chan_per_block = 1 if planar == 2 else spp
        full = np.empty((h, w, spp), dtype=np.float64)

        if 322 in tags:   # tiled
            tw = _vals(tags, 322, bo)[0]
            th = _vals(tags, 323, bo)[0]
            offs = _vals(tags, 324, bo)
            cnts = _vals(tags, 325, bo)
            tiles_x = (w + tw - 1) // tw
            tiles_y = (h + th - 1) // th
            idx = 0
            for plane in range(nplanes):
                for ty_ in range(tiles_y):
                    for tx_ in range(tiles_x):
                        raw = data[offs[idx]: offs[idx] + cnts[idx]]
                        arr = read_block(raw, tw * th * chan_per_block, th)
                        arr = arr.reshape(th, tw, chan_per_block).astype(np.float64)
                        y0, x0 = ty_ * th, tx_ * tw
                        ys, xs = min(th, h - y0), min(tw, w - x0)
                        if planar == 2:
                            full[y0:y0 + ys, x0:x0 + xs, plane] = arr[:ys, :xs, 0]
                        else:
                            full[y0:y0 + ys, x0:x0 + xs, :] = arr[:ys, :xs, :]
                        idx += 1
        else:             # strips
            rps = _vals(tags, 278, bo, [h])[0]
            offs = _vals(tags, 273, bo)
            cnts = _vals(tags, 279, bo, None)
            strips_per_plane = (h + rps - 1) // rps
            idx = 0
            for plane in range(nplanes):
                for s in range(strips_per_plane):
                    y0 = s * rps
                    ys = min(rps, h - y0)
                    want = ys * w * chan_per_block
                    if cnts is not None:
                        raw = data[offs[idx]: offs[idx] + cnts[idx]]
                    else:
                        raw = data[offs[idx]: offs[idx] + want * itemsize]
                    arr = read_block(raw, want, ys)
                    arr = arr.reshape(ys, w, chan_per_block).astype(np.float64)
                    if planar == 2:
                        full[y0:y0 + ys, :, plane] = arr[..., 0]
                    else:
                        full[y0:y0 + ys, :, :] = arr
                    idx += 1

        # Georeferencing, mirroring grids.cpp GTiffDataset::nextGrid
        # (:1236-1305): ModelTransformation OR PixelScale+Tiepoint; the
        # half-pixel shift applies ONLY when GTRasterTypeGeoKey says
        # PixelIsArea; negative vRes marks bottom-up storage.
        geokeys = _vals(tags, 34735, bo)
        is_geo = True
        pixel_is_area = False
        if geokeys:
            for k in range(4, len(geokeys) - 3, 4):
                if geokeys[k] == 1024:        # GTModelTypeGeoKey
                    is_geo = geokeys[k + 3] == 2
                elif geokeys[k] == 1025:      # GTRasterTypeGeoKey
                    pixel_is_area = geokeys[k + 3] == 1
        matrix = _vals(tags, 34264, bo)
        if matrix is not None and len(matrix) == 16:
            west = matrix[3]
            resx = matrix[0]
            north = matrix[7]
            vres = -matrix[5]
        else:
            scale = _vals(tags, 33550, bo)
            tie = _vals(tags, 33922, bo)
            if scale is None or tie is None:
                raise ValueError(f"{path}: no georeferencing")
            resx, vres = scale[0], scale[1]
            west = tie[3] - tie[0] * resx
            north = tie[4] + tie[1] * vres
        if pixel_is_area:
            west += 0.5 * resx
            north -= 0.5 * vres
        bottom_up = vres < 0
        resy = abs(vres)
        south = north - vres * (h - 1)
        if bottom_up:
            north, south = south, north  # grids.cpp :1302-1304
        if is_geo:
            west = math.radians(west)
            south = math.radians(south)
            resx = math.radians(resx)
            resy = math.radians(resy)

        meta, smeta = {}, {}
        if 42112 in tags:
            meta, smeta = _parse_gdal_metadata(_vals(tags, 42112, bo))
        nodata = None
        if 42113 in tags:
            try:
                # quantize through float32 like PROJ (m_noData is a float;
                # grids.cpp :618-620) so equality tests match stored values
                nodata = float(np.float32(float(_vals(tags, 42113, bo))))
            except (TypeError, ValueError):
                nodata = None

        # per-sample GDAL scale/offset, applied to non-nodata values only
        # (grids.cpp readValue :638-652); all values pass through float32
        # like PROJ's float-valued grid API
        for s in range(spp):
            scale_s = smeta.get(("SCALE", s))
            off_s = smeta.get(("OFFSET", s))
            if scale_s is not None or off_s is not None:
                sc = float(scale_s) if scale_s is not None else 1.0
                of = float(off_s) if off_s is not None else 0.0
                ch = full[..., s]
                scaled = ch * sc + of
                if nodata is not None:
                    scaled = np.where(ch == nodata, ch, scaled)
                full[..., s] = scaled
        full = full.astype(np.float32).astype(np.float64)

        # rows in TIFF run north->south unless bottom-up georeferencing;
        # flip so row 0 is SOUTH like every other proj_spark grid
        if not bottom_up:
            full = full[::-1]

        grids.append(GeoTiffGrid(
            w, h, spp, full, west, south, resx, resy, is_geo, meta, smeta,
            nodata, _vals(tags, 254, bo, [0])[0], path=path))
    return grids


# --------------------------------------------------------------------------
# the channel resolver, and the hgridshift/vgridshift open paths over it
# --------------------------------------------------------------------------

_ARCSEC2RAD = math.pi / 180.0 / 3600.0
_VERT_DESCS = ("ellipsoidal_height_offset", "geoid_undulation",
               "hydroid_height", "vertical_offset")
_TO_RADIAN = {"": _ARCSEC2RAD, "arc-second": _ARCSEC2RAD,
              "arc-seconds per year": _ARCSEC2RAD, "radian": 1.0,
              "degree": math.pi / 180.0}


def channels(g: GeoTiffGrid, names: tuple, default: tuple, kind: str = ""):
    """The planes of IFD ``g`` holding ``names``, in order: the one channel
    resolver of every grid step. A name (a DESCRIPTION, or a tuple of
    equivalent ones) takes the last sample it describes, else its
    ``default``: a sample, -1 for an optional plane (None when absent), or
    None when mandatory. A missing mandatory name or a sample past the
    IFD's own raises a ValueError naming the file.

    ``kind`` "hgrid"/"vgrid" are the hgridshift/vgridshift open paths
    (grids.cpp GTiffHGridShiftSet/GTiffVGridShiftSet::open): an IFD that
    describes no sample as ``names`` holds other data and gives None.
    "hgrid" turns both planes to radians by the first's UNITTYPE and keeps
    the **positive_value rule**: the IFD's own ``positive_value=west``
    negates the longitude plane; gridshift reads samples as stored."""
    idx = list(default)
    described = found = False
    for i in range(g.samples):
        d = g.metadata_item("DESCRIPTION", i)
        described |= bool(d)
        for k, n in enumerate(names):
            if d == n or (isinstance(n, tuple) and d in n):
                idx[k] = i
                found = True
    for n, i in zip(names, idx):
        if i is None:
            raise ValueError(f"{g.path}: no sample is described as {n}")
        if i >= g.samples:
            raise ValueError(f"{g.path}: {n} would be sample {i} of a grid "
                             f"of {g.samples} samples per pixel")
    if kind and described and not found:
        return None
    planes = [g.data[..., i] if i >= 0 else None for i in idx]
    if kind == "hgrid":
        unit = g.metadata_item("UNITTYPE", idx[0])
        if unit not in _TO_RADIAN:
            raise ValueError(f"{g.path}: unsupported unit {unit!r}")
        west = g.metadata_item("positive_value", idx[1]) == "west"
        planes = [planes[0] * _TO_RADIAN[unit],
                  planes[1] * _TO_RADIAN[unit] * (-1.0 if west else 1.0)]
    return planes


def load_hgrids_tiff(path: str):
    """GeoTIFF horizontal grids -> (IFD, sources.ntv2.ShiftGrid) pairs
    (east-positive radians; lat/lon default to samples 0/1)."""
    out = []
    for g in parse_geotiff(path):
        if g.subfile_type not in (0, 2):
            continue
        planes = channels(g, ("latitude_offset", "longitude_offset"),
                          (0, 1), "hgrid")
        if planes is not None:
            out.append((g, ShiftGrid("", g.west, g.south, g.resx, g.resy,
                                     g.width, g.height, *planes)))
    return out


def load_vgrids_tiff(path: str):
    """GeoTIFF vertical grids -> (IFD, sources.gtx.VGrid) pairs (metres,
    sample 0 by default, nodata -> NaN)."""
    out = []
    for g in parse_geotiff(path):
        if g.subfile_type not in (0, 2):
            continue
        planes = channels(g, (_VERT_DESCS,), (0,), "vgrid")
        if planes is None:
            continue
        vals = planes[0]
        if g.nodata is not None:
            vals = np.where(vals == g.nodata, np.nan, vals)
        out.append((g, VGrid(g.west, g.south, g.resx, g.resy,
                             g.width, g.height, vals)))
    return out
