"""NTv2 (.gsb) datum-shift grid reader.

Parses the public NTv2 binary format (the Canadian geodetic-survey layout:
11 x 16-byte overview records, then per-subgrid 11 x 16-byte headers +
GS_COUNT nodes of 4 float32s). Semantics matched to the reference reader
(/root/reference/src/grids.cpp NTv2GridSet::open :2155-2290, valueAt
:2124-2163): longitudes are positive WEST in the file (negated here to
east-positive), node rows run south->north, nodes within a row run
east->west (reversed here to west->east), and shift values are arcseconds
converted to radians AT float32 precision — we keep the same float32
rounding so interpolated values match the reference bit-for-bit.

Every reader's ``negate_lon`` is valueAt's compensateNTConvention
(grids.cpp:2038-2040): True for a datum shift, False for velocities.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

_SEC2RAD = (np.pi / 180.0) / 3600.0


@dataclass(frozen=True)
class ShiftGrid:
    name: str
    west: float    # radians, east-positive
    south: float
    resx: float
    resy: float
    width: int
    height: int
    lat_shift: np.ndarray  # (H, W) float32 radians
    lon_shift: np.ndarray  # (H, W) float32 radians, east-positive
    parent: str = "NONE"   # NTv2 PARENT record (subgrid hierarchy)
    is_geographic = True
    nodata = None

    @property
    def east(self) -> float:
        return self.west + (self.width - 1) * self.resx

    @property
    def north(self) -> float:
        return self.south + (self.height - 1) * self.resy


def _rec_value_f8(rec: bytes, bo: str = "<") -> float:
    return struct.unpack(bo + "d", rec[8:16])[0]


def write_gsb(path: str, grids: list[ShiftGrid]) -> None:
    """Serialize ShiftGrids back to the NTv2 binary layout parse_gsb reads
    (little-endian, arcsecond float32 nodes, west-positive longitudes,
    rows south->north / columns east->west). Used to build deterministic
    synthetic grid fixtures; roundtrips through parse_gsb bit-for-bit when
    the shift values are exactly representable in float32 arcseconds."""

    def rec_s(name: bytes, val: bytes) -> bytes:
        return name.ljust(8)[:8] + val.ljust(8)[:8]

    def rec_i(name: bytes, val: int) -> bytes:
        return name.ljust(8)[:8] + struct.pack("<i", val) + b"\x00" * 4

    def rec_d(name: bytes, val: float) -> bytes:
        return name.ljust(8)[:8] + struct.pack("<d", val)

    out = [
        rec_i(b"NUM_OREC", 11), rec_i(b"NUM_SREC", 11), rec_i(b"NUM_FILE", len(grids)),
        rec_s(b"GS_TYPE", b"SECONDS"), rec_s(b"VERSION", b"SYNTH"),
        rec_s(b"SYSTEM_F", b"SRC"), rec_s(b"SYSTEM_T", b"DST"),
        rec_d(b"MAJOR_F", 6378137.0), rec_d(b"MINOR_F", 6356752.314),
        rec_d(b"MAJOR_T", 6378137.0), rec_d(b"MINOR_T", 6356752.314),
    ]
    for g in grids:
        sec = 1.0 / _SEC2RAD
        out += [
            rec_s(b"SUB_NAME", g.name.encode()),
            rec_s(b"PARENT", (g.parent or "NONE").encode()),
            rec_s(b"CREATED", b"SYNTH"), rec_s(b"UPDATED", b"SYNTH"),
            rec_d(b"S_LAT", g.south * sec), rec_d(b"N_LAT", g.north * sec),
            rec_d(b"E_LONG", -g.east * sec), rec_d(b"W_LONG", -g.west * sec),
            rec_d(b"LAT_INC", g.resy * sec), rec_d(b"LONG_INC", g.resx * sec),
            rec_i(b"GS_COUNT", g.width * g.height),
        ]
        # nodes: (H, W, 4) = (lat_sec, lon_sec_west_positive, acc, acc),
        # columns flipped back to east->west
        lat_sec = (g.lat_shift[:, ::-1].astype(np.float64) / _SEC2RAD).astype("<f4")
        lon_sec = (-g.lon_shift[:, ::-1].astype(np.float64) / _SEC2RAD).astype("<f4")
        nodes = np.zeros((g.height, g.width, 4), dtype="<f4")
        nodes[..., 0] = lat_sec
        nodes[..., 1] = lon_sec
        out.append(nodes.tobytes())
    out.append(rec_s(b"END", b""))
    with open(path, "wb") as f:
        f.write(b"".join(out))


def synth_grid(
    west_deg: float = 0.0, south_deg: float = 40.0, res_deg: float = 0.5,
    width: int = 21, height: int = 11, name: str = "SYNTH",
) -> ShiftGrid:
    """Deterministic formula grid for oracle-checked gridshift tests: node
    (iy, ix) shifts are ((iy*31 + ix*17) % 200 - 100)/1024 arcsec for lat
    and ((iy*13 + ix*29) % 200 - 100)/1024 arcsec for lon (east-positive) —
    exactly representable in float32, so the DuckDB oracle reproduces the
    stored values bit-for-bit."""
    iy, ix = np.mgrid[0:height, 0:width]
    lat_sec = ((iy * 31 + ix * 17) % 200 - 100) / 1024.0
    lon_sec = ((iy * 13 + ix * 29) % 200 - 100) / 1024.0
    lat = (lat_sec.astype(np.float32).astype(np.float64) * _SEC2RAD).astype(np.float32)
    lon = (lon_sec.astype(np.float32).astype(np.float64) * _SEC2RAD).astype(np.float32)
    return ShiftGrid(
        name, west_deg * 3600 * _SEC2RAD, south_deg * 3600 * _SEC2RAD,
        res_deg * 3600 * _SEC2RAD, res_deg * 3600 * _SEC2RAD,
        width, height, lat, lon,
    )


def parse_gsb(path: str, negate_lon: bool = True) -> list[ShiftGrid]:
    with open(path, "rb") as f:
        data = f.read()

    # endianness sniff: NUM_OREC must decode to 11 (reference
    # grids.cpp NTv2GridSet::open byte-swap detection)
    bo = "<"
    num_orec = struct.unpack("<i", data[8:12])[0]
    if num_orec != 11:
        num_orec = struct.unpack(">i", data[8:12])[0]
        if num_orec != 11:
            raise ValueError("not an NTv2 file: NUM_OREC != 11")
        bo = ">"
    num_file = struct.unpack(bo + "i", data[8 + 16 * 2 : 12 + 16 * 2])[0]

    grids: list[ShiftGrid] = []
    sign = -1.0 if negate_lon else 1.0
    pos = 16 * 11  # skip overview block
    for _ in range(num_file):
        hdr = data[pos : pos + 16 * 11]
        name = hdr[8:16].decode("ascii", "replace").strip()
        parent = hdr[16 + 8 : 16 + 16].decode("ascii", "replace").strip() or "NONE"
        south = _rec_value_f8(hdr[16 * 4 : 16 * 5], bo) * _SEC2RAD
        north = _rec_value_f8(hdr[16 * 5 : 16 * 6], bo) * _SEC2RAD
        east = -_rec_value_f8(hdr[16 * 6 : 16 * 7], bo) * _SEC2RAD   # positive west
        west = -_rec_value_f8(hdr[16 * 7 : 16 * 8], bo) * _SEC2RAD
        resy = _rec_value_f8(hdr[16 * 8 : 16 * 9], bo) * _SEC2RAD    # LAT_INC
        resx = _rec_value_f8(hdr[16 * 9 : 16 * 10], bo) * _SEC2RAD   # LONG_INC
        gs_count = struct.unpack(bo + "i", hdr[16 * 10 + 8 : 16 * 10 + 12])[0]
        pos += 16 * 11

        width = int(round(abs((east - west) / resx)) + 1)
        height = int(round(abs((north - south) / resy)) + 1)
        if width * height != gs_count:
            raise ValueError(f"{path}: GS_COUNT {gs_count} != {width}x{height}")

        nodes = np.frombuffer(
            data, dtype=bo + "f4", count=gs_count * 4, offset=pos
        ).reshape(height, width, 4)
        pos += gs_count * 16

        # rows south->north; columns stored east->west -> flip to west->east.
        # arcsec -> radians: float64 multiply then float32 cast, exactly the
        # reference's static_cast<float>(buffer * SEC2RAD) (valueAt :2158-62)
        lat = (nodes[:, ::-1, 0].astype(np.float64) * _SEC2RAD).astype(np.float32)
        lon = (sign * nodes[:, ::-1, 1].astype(np.float64) * _SEC2RAD).astype(np.float32)
        grids.append(
            ShiftGrid(name, west, south, resx, resy, width, height, lat, lon,
                      parent=parent)
        )
    return grids


def parse_ntv1(path: str, negate_lon: bool = True) -> list[ShiftGrid]:
    """NTv1 (.dat) reader (reference grids.cpp NTv1Grid::open :1832-1897,
    valueAt :1899-1921): 192-byte header, big-endian float64 fields
    (record count 12 at offset 8, south/north/east/west degrees at
    24/40/56/72 with west-positive longitudes, resy/resx at 88/104),
    then (lat_shift, long_shift) float64 arcsecond pairs row-major
    south->north with columns stored EAST->WEST."""
    with open(path, "rb") as f:
        data = f.read()
    reccount = struct.unpack(">i", data[8:12])[0]
    if reccount != 12:
        raise ValueError(f"{path}: not an NTv1 file (record count)")
    south = struct.unpack(">d", data[24:32])[0] * math.pi / 180.0
    north = struct.unpack(">d", data[40:48])[0] * math.pi / 180.0
    east = -struct.unpack(">d", data[56:64])[0] * math.pi / 180.0
    west = -struct.unpack(">d", data[72:80])[0] * math.pi / 180.0
    resy = struct.unpack(">d", data[88:96])[0] * math.pi / 180.0
    resx = struct.unpack(">d", data[104:112])[0] * math.pi / 180.0
    width = int(abs((east - west) / resx + 0.5)) + 1
    height = int(abs((north - south) / resy + 0.5)) + 1
    vals = np.frombuffer(data, dtype=">f8", count=2 * width * height,
                         offset=192).reshape(height, width, 2)
    # east->west storage: flip columns; arcsec -> radians through float32
    # like the reference's static_cast<float>
    lat = (vals[:, ::-1, 0] * _SEC2RAD).astype(np.float32)
    lon = ((-1.0 if negate_lon else 1.0) * vals[:, ::-1, 1]
           * _SEC2RAD).astype(np.float32)
    return [ShiftGrid(path, west, south, resx, resy, width, height,
                      lat, lon)]


def parse_ct2(path: str, negate_lon: bool = True) -> list[ShiftGrid]:
    """CTable2 (.ct2) reader (reference grids.cpp CTable2Grid::open
    :1966-2018): 160-byte header with west/south/resx/resy float64 RADIANS
    at offset 96 and width/height int32 at 128, then (lon, lat) float32
    pairs row-major south->north."""
    with open(path, "rb") as f:
        data = f.read()
    if not data.startswith(b"CTABLE V2"):
        raise ValueError(f"{path}: not a CTable2 grid")
    west, south, resx, resy = struct.unpack("<4d", data[96:128])
    width, height = struct.unpack("<2i", data[128:136])
    n = width * height
    pairs = np.frombuffer(data, dtype="<f4", count=2 * n, offset=160)
    pairs = pairs.reshape(height, width, 2)
    lon = -pairs[..., 0] if negate_lon else pairs[..., 0]
    lat = pairs[..., 1]
    return [ShiftGrid(path, west, south, resx, resy, width, height,
                      lat.astype(np.float32), lon.astype(np.float32))]
