"""The gie CLI runner (proj_spark/gie.py) against the reference's own
.gie files — full-file parity, including the commands the extracted-fixture
harness (test_kernels_gie.py) cannot carry: ``expect failure`` domain
edges, ``roundtrip``, ``direction reverse``, HUGE_VAL lanes.

Only quick files run here (the full corpus sweep lives in the CLI; see
COVERAGE.md). builtins.gie alone is 2,408 checks and runs in ~90 s, so it
is capped to the corpus files that finish fast; the unitconvert and
more_builtins files carry the semantics this round fixed (mixed-unit z
classes, singular affine, reverse direction, NaN roundtrips).
"""

from __future__ import annotations

import io
import os

import pytest

REF = "/root/reference/test/gie"

FILES_EXPECT_CLEAN = [
    "axisswap.gie",
    "unitconvert.gie",
    "GDA.gie",
    "more_builtins.gie",
    "ellipsoid.gie",
    "4D-API_cs2cs-style.gie",
    "gridshift.gie",
    "geotiff_grids.gie",
    "deformation.gie",
    "defmodel.gie",
    "tinshift.gie",
]


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference corpus absent")
@pytest.mark.parametrize("fname", FILES_EXPECT_CLEAN)
def test_reference_gie_file_clean(fname):
    from proj_spark.gie import run_gie_text

    path = os.path.join(REF, fname)
    rep = run_gie_text(open(path, errors="replace").read(), name=fname)
    assert rep.total > 0, f"{fname}: no checks executed"
    assert rep.failed == 0, f"{fname}: {rep.failures[:5]}"
    # skip budget: these files must execute EVERY block — a compile
    # regression shrinking the run to "0 failed" must fail here
    assert rep.op_skips == 0, f"{fname}: skipped {rep.skipped_op_specs[:5]}"


GIGS = "/root/reference/test/gigs"


@pytest.mark.skipif(not os.path.isdir(GIGS), reason="GIGS corpus absent")
def test_gigs_corpus_clean():
    """The complete GIGS conformance corpus (all 20 files — the extracted
    fixtures carry the 51xx series; this runs everything, 1,170 checks)."""
    import glob

    from proj_spark.gie import GieReport, run_gie_text

    total = GieReport()
    for path in sorted(glob.glob(os.path.join(GIGS, "*.gie"))):
        total += run_gie_text(open(path, errors="replace").read(), name=path)
    assert total.total >= 1100
    assert total.failed == 0, total.failures[:5]
    assert total.op_skips == 0, total.skipped_op_specs[:5]


def test_gie_skip_budget_flags_compile_regressions(tmp_path, capsys):
    """A block whose operation fails to compile is counted as an
    unsupported-operation skip; --max-op-skips turns an over-budget run
    into a nonzero exit (ADVICE r4: skips must not read as passes)."""
    from proj_spark.cli import main
    from proj_spark.gie import run_gie_text

    text = ("<gie>\noperation +proj=definitely_not_an_op\n"
            "accept 1 2\nexpect 3 4\n</gie>\n")
    rep = run_gie_text(text, name="inline")
    assert rep.failed == 0 and rep.op_skips == 1 and rep.grid_skips == 0
    assert "definitely_not_an_op" in rep.skipped_op_specs[0]

    f = tmp_path / "skip.gie"
    f.write_text(text)
    assert main(["gie", "--max-op-skips", "1", str(f)]) == 0
    assert main(["gie", "--max-op-skips", "0", str(f)]) == 1
    out = capsys.readouterr().out
    assert "exceed budget" in out


@pytest.mark.parametrize("argv", [["--max-op-skips"], ["--max-op-skips", "x"]])
def test_gie_max_op_skips_needs_an_integer(argv, capsys):
    """A missing or non-integer budget is a usage error (exit 2), not a
    StopIteration/ValueError traceback."""
    from proj_spark.cli import main

    assert main(["gie", *argv]) == 2
    assert "usage: gie" in capsys.readouterr().err


def test_gie_z_lane_uses_declared_tolerance():
    """gie folds z into ONE 3D distance under the declared tolerance
    (gie.cpp proj_xyz_dist) — a 0.2 mm z error must fail a 0.1 mm
    tolerance (the old 1e-4 m floor let it pass)."""
    from proj_spark.gie import run_gie_text

    base = ("<gie>\noperation +proj=affine +zoff={z}\ntolerance 0.1 mm\n"
            "accept 10 20 30\nexpect 10 20 {exp}\n</gie>\n")
    ok = run_gie_text(base.format(z=0.0, exp=30.0), name="z-ok")
    assert ok.failed == 0 and ok.total == 1
    bad = run_gie_text(base.format(z=0.0002, exp=30.0), name="z-bad")
    assert bad.failed == 1, "sub-0.1mm z tolerance must now be enforced"


def test_gie_runner_dsl_semantics():
    """DSL semantics on an inline file: expect failure via NaN, roundtrip,
    reverse direction, HUGE_VAL lanes, tolerance units, comments."""
    from proj_spark.gie import run_gie_text

    text = """
leading prose is ignored (outside the gie region)
<gie>
operation +proj=merc +R=6400000   # comment
tolerance 1 mm
accept 12 55
expect 1340412.8655316 7387101.1430967  # from the engine's own merc
roundtrip 2
direction reverse
accept 1340412.8655316 7387101.1430967
expect 12 55
direction forward
accept 0 91
expect failure errno coord_transfm_invalid_coord
operation +proj=nosuchop
accept 1 2
expect failure
</gie>
"""
    rep = run_gie_text(text, name="inline")
    assert rep.failed == 0, rep.failures
    assert rep.total == 5  # 2 expects + 1 roundtrip + 2 failures


def test_gie_cli_mode(tmp_path, capsys):
    from proj_spark.cli import main

    f = tmp_path / "t.gie"
    f.write_text("<gie>\noperation +proj=utm +zone=32 +ellps=GRS80\n"
                 "tolerance 1 mm\naccept 12 55\n"
                 "expect 691875.6321396608 6098907.825005012\n</gie>\n")
    assert main(["gie", str(f)]) == 0
    out = capsys.readouterr().out
    assert "1 ok" in out and "0 failed" in out
