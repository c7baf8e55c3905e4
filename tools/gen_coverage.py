"""Regenerate COVERAGE.md from the live registry + gie fixture stats.

Single source of truth: `tests/fixtures/pj_list.txt` (the reference's
operation list, one name per line, from its `src/pj_list.h`),
`plans/pipeline._BUILDERS` (what compiles) and `tests/fixtures/gie/*.json`
(what the reference's own corpus verifies). Run after adding operators:

    python tools/gen_coverage.py
"""

from __future__ import annotations

import json
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from proj_spark.plans.pipeline import _BUILDERS  # noqa: E402


def main() -> None:
    ref_ops = (ROOT / "tests" / "fixtures" / "pj_list.txt").read_text().split()
    implemented = [o for o in ref_ops if o in _BUILDERS]
    missing = [o for o in ref_ops if o not in _BUILDERS]

    # gie stats per top-level op name
    blocks = 0
    points = 0
    per_op: dict[str, int] = {}
    for f in (ROOT / "tests" / "fixtures" / "gie").glob("*.json"):
        for b in json.loads(f.read_text()):
            blocks += 1
            points += len(b["points"])
            m = re.search(r"proj=(\w+)", b["operation"])
            if m:
                per_op[m.group(1)] = per_op.get(m.group(1), 0) + len(b["points"])

    lines = []
    lines.append("# COVERAGE — registry status (generated by "
                 "tools/gen_coverage.py; do not hand-edit)\n")
    lines.append(
        f"Reference registry (`src/pj_list.h`): **{len(ref_ops)} operations**"
        f" — **{len(implemented)} compile** in `plans/pipeline._BUILDERS`"
        f" (+ `pipeline` itself, compiled specially"
        f"{' — registry complete' if missing == ['pipeline'] else ''}).\n")
    lines.append(
        f"Conformance: **{blocks} gie blocks / {points} point checks** "
        "extracted from the reference's own `test/gie` corpus "
        "(`tools/extract_gie.py`), all green under "
        "`python -m pytest tests/test_kernels_gie.py`.\n")

    if [m for m in missing if m != "pipeline"]:
        lines.append("## Not yet implemented\n")
        lines.append(", ".join(f"`{m}`" for m in missing if m != "pipeline")
                     + "\n")

    lines.append("## Registry operations (gie point checks where the corpus "
                 "has them)\n")
    lines.append("| op | compiles | gie points | op | compiles | gie points |")
    lines.append("|---|---|---|---|---|---|")
    rows = []
    for o in sorted(ref_ops):
        ok = "✅" if o in _BUILDERS or o == "pipeline" else "⬜"
        pts = per_op.get(o, "")
        rows.append((o, ok, pts))
    half = (len(rows) + 1) // 2
    for i in range(half):
        left = rows[i]
        right = rows[i + half] if i + half < len(rows) else ("", "", "")
        lines.append(f"| `{left[0]}` | {left[1]} | {left[2]} "
                     f"| `{right[0]}` | {right[1]} | {right[2]} |")

    lines.append("""
## Beyond the projection registry

| surface | where | verified by |
|---|---|---|
| Karney geodesics (direct/inverse, m12/M12/M21, antipodal-safe) | `kernels/karney.py` | reference's embedded GeographicLib test set (`tests/test_karney.py`) + `geod_karney_pairs` oracle row |
| Vincenty geodesics (oracle-parity tier) | `kernels/geodesic.py` | recursive-CTE DuckDB mirror (`geod_vincenty_pairs`) |
| proj_factors analogue (h, k, omega, convergence) | `plans/factors.py` | unit + `proj_factors_utm` oracle row |
| S2 cells (Hilbert 64-bit ids) | `cells.py` | `s2_cells_l10` oracle row + spatial-join tests |
| spatial join / kNN / slippy tiles / lineage manifests | `operators/`, `functions/`, `lineage.py` | CORRECTNESS oracle rows + unit suites |
| dedup (exact, MinHash + LSH, SimHash, n-gram Jaccard) | `operators/dedup.py` | oracle rows + planted-dup tests |
| similarity (exact brute force w/ row guard, RHP-LSH ANN + recall golden) | `operators/similarity.py` | `cosine_top3` + `cosine_topk_lsh` oracle rows |
| text stats / quality / lang-id / fingerprints | `functions/text.py` | 3 oracle rows + `doc_fingerprints` |
| multimodal decode/features (png+raw real, jpeg stubbed) | `operators/multimodal.py` | `image_features_synth` oracle row |
""")
    (ROOT / "COVERAGE.md").write_text("\n".join(lines))
    print(f"COVERAGE.md: {len(implemented)}/{len(ref_ops)} registry ops, "
          f"{blocks} blocks / {points} points")


if __name__ == "__main__":
    main()
