"""Extract supported test blocks from PROJ's gie corpus into JSON fixtures.

Reads /root/reference/test/gie/*.gie (the reference's regression DSL,
interpreter at reference src/apps/gie.cpp), keeps every (operation, accept,
expect, tolerance, direction) tuple whose operation our pipeline compiler
supports, and writes tests/fixtures/gie/<name>.json. Data-only extraction —
no reference code is copied; re-run after adding ops to widen coverage:

    python tools/extract_gie.py
"""

from __future__ import annotations

import json
import pathlib
import re
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from proj_spark.gie import gie_lines, parse_tolerance  # noqa: E402
from proj_spark.gie import parse_coord as gie_parse_coord  # noqa: E402
from proj_spark.plans.pipeline import compile_pipeline  # noqa: E402

REF = pathlib.Path("/root/reference/test/gie")
OUT = pathlib.Path(__file__).resolve().parents[1] / "tests" / "fixtures" / "gie"

FILES = [
    "builtins.gie",
    "more_builtins.gie",
    "GDA.gie",
    "axisswap.gie",
    "unitconvert.gie",
    "ellipsoid.gie",
    "../gigs/5101.1-jhs.gie",
    "../gigs/5101.2-jhs.gie",
    "../gigs/5101.3-jhs.gie",
    "../gigs/5101.4-jhs-etmerc.gie",
    "../gigs/5102.1.gie",
    "../gigs/5102.2.gie",
    "../gigs/5103.1.gie",
    "../gigs/5103.2.gie",
    "../gigs/5103.3.gie",
    "../gigs/5104.gie",
    "../gigs/5105.2.gie",
    "../gigs/5106.gie",
    "../gigs/5107.gie",
    "../gigs/5108.gie",
    "../gigs/5109.gie",
    "../gigs/5111.1.gie",
    "../gigs/5112.gie",
    "../gigs/5113.gie",
    "../gigs/5201.gie",
    "../gigs/5208.gie",
    "guyou.gie",
    "peirce_q.gie",
    "adams_hemi.gie",
    "adams_ws1.gie",
    "adams_ws2.gie",
    "DHDN_ETRS89.gie",
    "4D-API_cs2cs-style.gie",
    "gridshift.gie",
    "geotiff_grids.gie",
    "deformation.gie",
    "tinshift.gie",
    "defmodel.gie",
]


def parse_coord(arg: str) -> list[float]:
    """gie.parse_coord, except that a HUGE_VAL lane drops the point: the
    fixtures hold finite accepts and expectations only."""
    return [] if "HUGE_VAL" in arg else gie_parse_coord(arg)


def extract(path: pathlib.Path) -> tuple[list, dict]:
    lines = gie_lines(path.read_text(errors="replace"))

    blocks = []
    stats = {"ops": 0, "supported_ops": 0, "points": 0}
    op_spec = None
    supported = False
    tol = 5e-4  # gie default 0.5 mm
    direction = "forward"
    accept = None
    points: list = []

    def flush():
        nonlocal points, op_spec
        if op_spec and supported and points:
            blocks.append({"file": str(path), "operation": op_spec, "points": points})
            stats["points"] += len(points)
        points = []

    for line in lines:
        m = re.match(r"(\w[\w-]*)\s*(.*)$", line)
        if not m:
            continue
        cmd, arg = m.group(1), m.group(2)
        if cmd == "operation":
            flush()
            op_spec = arg.strip()
            stats["ops"] += 1
            direction = "forward"
            tol = 5e-4
            accept = None
            try:
                compile_pipeline(op_spec)
                supported = True
                stats["supported_ops"] += 1
            except Exception:
                supported = False
        elif cmd == "tolerance":
            try:
                tol = parse_tolerance(arg)
            except Exception:
                supported = False
        elif cmd == "direction":
            direction = arg.strip()
        elif cmd == "accept":
            accept = parse_coord(arg)
        elif cmd == "expect":
            if arg.strip().startswith("failure"):
                accept = None
                continue
            exp = parse_coord(arg)
            if accept and exp and len(exp) >= 2:
                points.append(
                    {"dir": direction, "tol": tol, "accept": accept, "expect": exp}
                )
            # gie allows repeated expect after direction flips reusing accept
        elif cmd == "roundtrip":
            pass  # covered by our own property tests
    flush()
    return blocks, stats


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    total = 0
    for name in FILES:
        path = REF / name
        blocks, stats = extract(path)
        out = OUT / (pathlib.Path(name).stem + ".json")
        out.write_text(json.dumps(blocks, indent=1))
        total += stats["points"]
        print(
            f"{name}: {stats['supported_ops']}/{stats['ops']} ops supported, "
            f"{stats['points']} point checks -> {out.name}"
        )
    print(f"total point checks: {total}")


if __name__ == "__main__":
    main()
