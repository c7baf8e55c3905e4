"""GTX vertical-shift grid reader (NOAA VDatum format).

Public layout (reference /root/reference/src/grids.cpp
GTXVerticalShiftGrid::open :242-312): a 40-byte BIG-endian header —
yorigin, xorigin, ystep, xstep as float64 + rows, columns as int32 —
followed by rows*columns float32 (big-endian) values, rows south->north,
columns west->east. Longitude origin >= 180 is wrapped to [-180, 180).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class VGrid:
    west: float    # radians
    south: float
    resx: float
    resy: float
    width: int
    height: int
    values: np.ndarray  # (H, W) float32 metres
    gtx: bool = False   # read from GTX: vgridshift's GTX nodata rule applies
    name: str = ""      # tree links (sources.grids)
    parent: str = "NONE"
    is_geographic = True

    @property
    def east(self) -> float:
        return self.west + (self.width - 1) * self.resx

    @property
    def north(self) -> float:
        return self.south + (self.height - 1) * self.resy


def parse_gtx(path: str) -> list[VGrid]:
    with open(path, "rb") as f:
        header = f.read(40)
        yorigin, xorigin, ystep, xstep = struct.unpack(">4d", header[:32])
        rows, columns = struct.unpack(">2i", header[32:40])
        if columns <= 0 or rows <= 0 or not (-360 <= xorigin <= 360) or not (
            -90 <= yorigin <= 90
        ):
            raise ValueError(f"{path}: invalid GTX header")
        if xorigin >= 180.0:
            xorigin -= 360.0
        values = np.frombuffer(f.read(rows * columns * 4), dtype=">f4").reshape(
            rows, columns
        ).astype(np.float32)
    d2r = math.pi / 180.0
    return [
        VGrid(xorigin * d2r, yorigin * d2r, xstep * d2r, ystep * d2r,
              columns, rows, values, gtx=True)
    ]


def synth_values(width: int = 21, height: int = 11) -> np.ndarray:
    """Deterministic formula geoid undulations for oracle-checked
    vertical-shift tests: node (iy, ix) = ((iy*37 + ix*23) % 400 - 200)/8
    metres — multiples of 0.125, exactly representable in float32, so a
    SQL oracle reproduces the stored values bit-for-bit."""
    iy, ix = np.mgrid[0:height, 0:width]
    return (((iy * 37 + ix * 23) % 400 - 200) / 8.0).astype(np.float32)


def write_gtx(path: str, south_deg: float, west_deg: float,
              res_deg: float, values: np.ndarray) -> None:
    """Write a GTX file (header layout of parse_gtx; values (H, W)
    south->north, west->east)."""
    h, w = values.shape
    with open(path, "wb") as f:
        f.write(struct.pack(">4d", south_deg, west_deg, res_deg, res_deg))
        f.write(struct.pack(">2i", h, w))
        f.write(values.astype(">f4").tobytes())
