"""Batch coordinate CLI — the analogue of the reference's stream apps
(`proj`, `cct`, `geod`; reference src/apps/proj.cpp, cct.cpp, geod.cpp):
read whitespace-separated coordinates from stdin (or files), run them
through a compiled pipeline or the geodesic solver, write results to
stdout. Non-coordinate lines pass through (cct convention), `#`
comments preserved.

    python -m proj_spark.cli cct  +proj=utm +zone=32 +ellps=GRS80 < pts
    python -m proj_spark.cli cct  -I +proj=merc ...        # inverse
    python -m proj_spark.cli geod -i +ellps=WGS84 < pairs  # inverse geodesic
    python -m proj_spark.cli geod +ellps=WGS84 < lat lon azi s12 lines

Local numpy execution (no Spark session): the CLI is the debugging /
parity surface; bulk runs go through the DataFrame API.
"""

from __future__ import annotations

import sys
from getopt import GetoptError

import numpy as np


def _parse_lines(lines):
    """Split into (coords array, per-line token counts, passthrough)."""
    rows = []
    meta = []  # (kind, payload): 'c' index-into-rows | 'p' raw line
    for line in lines:
        body = line.split("#", 1)[0]
        comment = line[len(body):].rstrip("\n")
        toks = body.split()
        vals = []
        ok = bool(toks)
        for t in toks:
            try:
                vals.append(float(t))
            except ValueError:
                ok = False
                break
        if ok and len(vals) >= 2:
            meta.append(("c", len(rows), len(vals), comment))
            vals = vals + [np.nan] * (4 - len(vals))
            rows.append(vals[:4])
        else:
            meta.append(("p", line.rstrip("\n"), 0, ""))
    arr = np.array(rows, dtype=np.float64) if rows else np.empty((0, 4))
    return arr, meta


def _optarg(it, flag, conv=str):
    """The value after option ``flag``. A missing or malformed value is a
    usage error (GetoptError), which ``main`` reports with exit status 2."""
    v = next(it, None)
    if v is None:
        raise GetoptError(f"option {flag} requires an argument", flag)
    try:
        return conv(v)
    except ValueError:
        raise GetoptError(f"option {flag}: invalid value {v!r}", flag) from None


def _fmt(v, nd):
    return "nan" if not np.isfinite(v) else f"{v:.{nd}f}"


def _read(files, stdin):
    """_parse_lines of the input files, else of stdin."""
    lines = []
    for f in files:
        with open(f) as fh:
            lines.extend(fh.readlines())
    return _parse_lines(lines if files else stdin.readlines())


def _run_pipe(pipe, inverse, files, stdin, stdout, decimals, dims) -> int:
    """Run every coordinate line through ``pipe`` and write back as many
    values as the line gave, at most ``dims`` (cct 4, cs2cs 3)."""
    arr, meta = _read(files, stdin)
    if len(arr):
        z = np.where(np.isnan(arr[:, 2]), 0.0, arr[:, 2])
        t = np.where(np.isnan(arr[:, 3]), 0.0, arr[:, 3])
        run = pipe.inv_deg if inverse else pipe.fwd_deg
        X, Y, Z, T = run(arr[:, 0].copy(), arr[:, 1].copy(), z, t)
        cols = [X, Y, z if Z is None else Z, t if T is None else T]
    for kind, payload, nvals, comment in meta:
        if kind == "p":
            stdout.write(payload + "\n")
            continue
        out = [_fmt(c[payload], decimals) for c in cols[:min(nvals, dims)]]
        stdout.write("  ".join(out) + (("  " + comment) if comment else "")
                     + "\n")
    return 0


def run_cct(argv, stdin, stdout) -> int:
    from proj_spark.plans.pipeline import compile_pipeline

    inverse = False
    decimals = 10
    spec_toks = []
    files = []
    it = iter(argv)
    for a in it:
        if a in ("-I", "--inverse"):
            inverse = True
        elif a in ("-d", "--decimals"):
            decimals = _optarg(it, a, int)
        elif a.startswith("+") or "=" in a or a in ("step", "proj"):
            spec_toks.append(a)
        else:
            files.append(a)
    if not spec_toks:
        print("cct: no operation specified", file=sys.stderr)
        return 2
    pipe = compile_pipeline(" ".join(spec_toks))
    return _run_pipe(pipe, inverse, files, stdin, stdout, decimals, 4)


def run_geod(argv, stdin, stdout) -> int:
    from proj_spark.crs import resolve_ellipsoid
    from proj_spark.kernels.karney import (geod_consts, geod_direct,
                                           geod_inverse)
    from proj_spark.plans.pipeline import parse_params, tokenize

    inverse = False
    decimals = 3
    spec_toks = []
    files = []
    it = iter(argv)
    for a in it:
        if a in ("-i", "-I", "--inverse"):
            inverse = True
        elif a in ("-d", "--decimals"):
            decimals = _optarg(it, a, int)
        elif a.startswith("+") or "=" in a:
            spec_toks.append(a)
        else:
            files.append(a)
    ell = resolve_ellipsoid(parse_params(tokenize(" ".join(spec_toks)))) \
        if spec_toks else resolve_ellipsoid({"ellps": "WGS84"})
    C = geod_consts(ell.a, ell.f)
    arr, meta = _read(files, stdin)
    if inverse:
        # lat1 lon1 lat2 lon2 -> azi1 azi2 s12  (geod convention)
        if len(arr):
            r = geod_inverse(C, arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3])
        for kind, payload, nvals, comment in meta:
            if kind == "p":
                stdout.write(payload + "\n")
                continue
            i = payload
            stdout.write(
                f"{_fmt(r['azi1'][i], decimals + 6)}  "
                f"{_fmt(r['azi2'][i], decimals + 6)}  "
                f"{_fmt(r['s12'][i], decimals)}\n")
    else:
        # lat1 lon1 azi1 s12 -> lat2 lon2 azi2
        if len(arr):
            r = geod_direct(C, arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3])
        for kind, payload, nvals, comment in meta:
            if kind == "p":
                stdout.write(payload + "\n")
                continue
            i = payload
            stdout.write(
                f"{_fmt(r['lat2'][i], decimals + 6)}  "
                f"{_fmt(r['lon2'][i], decimals + 6)}  "
                f"{_fmt(r['azi2'][i], decimals + 6)}\n")
    return 0


def run_cs2cs(argv, stdin, stdout) -> int:
    """cs2cs mode: the first two operands are the source and target CRS
    (any spelling plans.pipeline.crs_input reads), the rest are input
    files; inverse(src) + forward(dst) via compile_crs_to_crs. With
    --dispatch and two registry geographic CRSs, per-point registry
    candidate dispatch (sources.epsg_ops — the reference cs2cs's
    alternative-operation selection) replaces the single pipeline."""
    from proj_spark.plans.pipeline import compile_crs_to_crs

    inverse = False
    dispatch = False
    decimals = 10
    operands = []
    it = iter(argv)
    for a in it:
        if a in ("-I", "--inverse"):
            inverse = True
        elif a == "--dispatch":
            dispatch = True
        elif a in ("-d", "--decimals"):
            decimals = _optarg(it, a, int)
        else:
            operands.append(a)
    if len(operands) < 2:
        print("cs2cs: need a source and a target CRS", file=sys.stderr)
        return 2
    crs, files = operands[:2], operands[2:]
    if dispatch:
        from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

        pipe = crs_to_crs_epsg_dispatch(crs[0], crs[1])
    else:
        pipe = compile_crs_to_crs(crs[0], crs[1])
    return _run_pipe(pipe, inverse, files, stdin, stdout, decimals, 3)


def run_projinfo(argv, stdout) -> int:
    """projinfo mode (reference src/apps/projinfo.cpp shapes): with one
    CRS argument, print the lowered proj-string; with a source + target
    pair, print the ranked candidate-operation list the dispatcher would
    select from — id/name, accuracy, area-of-use bbox, and the PROJ
    pipeline string per candidate, in static selection order (accuracy,
    then smallest pseudo-area; ballpark last)."""
    crs = []
    fmts = ["PROJ"]
    it = iter(argv)
    for a in it:
        if a in ("-s", "--source-crs"):
            crs.insert(0, _optarg(it, a))
        elif a in ("-t", "--target-crs"):
            crs.append(_optarg(it, a))
        elif a in ("-o", "--output"):
            # reference projinfo -o: comma list of PROJ, WKT2[:2019],
            # WKT2:2015, WKT1_GDAL, WKT1_ESRI, PROJJSON, all
            fmts = []
            for f in _optarg(it, a).split(","):
                f = f.strip().upper().replace(":", "_")
                if f in ("WKT2", "WKT2_2019"):
                    f = "WKT2"
                fmts.append(f)
            if "ALL" in fmts:
                fmts = ["PROJ", "WKT2", "WKT2_2015", "WKT1_GDAL",
                        "WKT1_ESRI", "PROJJSON"]
        elif a.startswith("-"):
            print(f"projinfo: unknown option {a}", file=sys.stderr)
            return 2
        else:
            crs.append(a)
    if not crs or len(crs) > 2:
        print("projinfo: need one CRS or a source/target pair",
              file=sys.stderr)
        return 2

    if len(crs) == 1:
        from proj_spark.plans.pipeline import (crs_input, crs_registry_code,
                                               crs_spec)

        kind, auth, code = inp = crs_input(crs[0])
        if kind == "operation":
            from proj_spark.sources.epsg_ops import operation_by_urn

            spec, op = operation_by_urn(code)
            acc = op.get("accuracy", -1.0)
            print(f"{op['name']}, "
                  f"{f'{acc} m' if acc >= 0 else 'unknown accuracy'}",
                  file=stdout)
        else:
            spec, epoch = crs_spec(inp)
            if epoch is not None:
                print(f"Coordinate epoch: {epoch}", file=stdout)
        # deprecated CRS: still resolves (reference behavior) but the
        # replacement codes from deprecation.sql are surfaced
        if kind == "code" and auth == "EPSG":
            from proj_spark.sources.epsg import (crs_deprecation_replacements,
                                                 crs_is_deprecated)

            if crs_is_deprecated(code):
                reps = crs_deprecation_replacements(code)
                print(f"Warning: CRS EPSG:{code} is deprecated" +
                      (" (non-deprecated replacement: " + ", ".join(
                          "EPSG:" + r for r in reps) + ")" if reps else ""),
                      file=stdout)
        # the WKT2/WKT1/PROJJSON writers read the registry row
        key = crs_registry_code(inp) if fmts != ["PROJ"] else None
        for fmt in fmts:
            if fmt == "PROJ":
                print("PROJ string:", file=stdout)
                print(spec, file=stdout)
                continue
            if fmt not in ("WKT2", "WKT2_2015", "WKT1_GDAL", "WKT1_ESRI",
                           "PROJJSON"):
                print(f"projinfo: unknown output format {fmt}",
                      file=sys.stderr)
                return 2
            if key is None:
                print(f"projinfo: {fmt.split('_')[0]} output needs a "
                      "registry CRS code", file=sys.stderr)
                return 2
            from proj_spark.sources import wkt_out

            if fmt.startswith("WKT2"):
                ver = "2015" if fmt == "WKT2_2015" else "2019"
                head = f"WKT2:{ver} string:"
                txt = wkt_out.epsg_to_wkt2(key, version=ver)
            elif fmt == "PROJJSON":
                head, txt = "PROJJSON:", wkt_out.epsg_to_projjson(key)
            else:
                dialect = fmt.split("_", 1)[1]
                head = f"WKT1:{dialect} string:"
                txt = wkt_out.epsg_to_wkt1(key, dialect)
            print(head, file=stdout)
            print(txt, file=stdout)
        return 0

    if fmts != ["PROJ"]:
        # candidate operations are emitted as PROJ pipeline strings only;
        # an explicit error beats silently ignoring the flag (ADVICE r4 —
        # the reference's WKT operation output is not implemented here)
        print("projinfo: -o with -s/-t supports only PROJ output",
              file=sys.stderr)
        return 2

    from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

    disp = crs_to_crs_epsg_dispatch(crs[0], crs[1])
    ranked = [disp.candidates[i] for i in disp.order]
    print(f"Candidate operations found: {len(ranked)}", file=stdout)
    print("-------------------------------------", file=stdout)
    for i, c in enumerate(ranked, 1):
        print(f"Operation No. {i}:", file=stdout)
        print("", file=stdout)
        acc = (f"{c.accuracy} m" if c.accuracy is not None
               and c.accuracy >= 0 else "unknown accuracy")
        if c.name == "ballpark":
            ident = (f"unknown id, Ballpark geographic offset from "
                     f"{crs[0]} to {crs[1]}")
            area = "World"
            tail = ", has ballpark transformation"
        else:
            ident = c.name
            area = ("World" if c.src_bbox is None else
                    "bbox " + " ".join(repr(v) for v in c.src_bbox))
            tail = ""
        print(f"{ident}, {acc}, {area}{tail}", file=stdout)
        print("", file=stdout)
        print("PROJ string:", file=stdout)
        print(getattr(c.pipeline, "spec", "+proj=noop"), file=stdout)
        print("", file=stdout)
    return 0


_USAGE = {
    "cct": "cct [-I] [-d N] +proj=... [FILE...]",
    "proj": "proj [-I] [-d N] +proj=... [FILE...]",
    "geod": "geod [-i] [-d N] [+ellps=...] [FILE...]",
    "cs2cs": "cs2cs [-I] [--dispatch] [-d N] SRC DST [FILE...]",
    "projinfo": "projinfo [-o FORMATS] CRS | projinfo -s SRC -t DST",
    "gie": "gie [-v] [--max-op-skips N] FILE...",
}


def main(argv=None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    cmd, rest = argv[0], argv[1:]
    if cmd not in _USAGE:
        cmd, rest = "cct", argv     # bare proj-string: behave like cct
    try:
        if cmd == "geod":
            return run_geod(rest, sys.stdin, sys.stdout)
        if cmd == "cs2cs":
            return run_cs2cs(rest, sys.stdin, sys.stdout)
        if cmd == "projinfo":
            return run_projinfo(rest, sys.stdout)
        if cmd == "gie":
            from proj_spark.gie import run_gie_files

            verbose = "-v" in rest or "--verbose" in rest
            max_op_skips = None
            files = []
            it = iter(rest)
            for a in it:
                if a == "--max-op-skips":
                    max_op_skips = _optarg(it, a, int)
                elif not a.startswith("-"):
                    files.append(a)
            return run_gie_files(files, sys.stdout, verbose=verbose,
                                 max_op_skips=max_op_skips)
        return run_cct(rest, sys.stdin, sys.stdout)
    except GetoptError as e:
        print(f"{cmd}: {e}; usage: {_USAGE[cmd]}", file=sys.stderr)
        return 2
    except (ValueError, KeyError, NotImplementedError, OSError) as e:
        # like the reference apps, an input that does not resolve (unknown
        # code, operation or ellipsoid, cross-body pair, unreadable file)
        # is one line on stderr and exit status 1, not a traceback
        msg = e.args[0] if isinstance(e, KeyError) and e.args else e
        print(f"{cmd}: {msg}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
