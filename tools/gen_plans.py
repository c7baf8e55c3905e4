"""Generate PLANS.md — the formatted physical plans of the headline
queries with the scale-relevant properties annotated.

    python tools/gen_plans.py

The plan SHAPE is also enforced by tests/test_plan_hygiene.py; this
artifact makes it reviewable without running Spark.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.001"

NOTES = {
    "tile_assign_z8": "JVM-only Column math; partial HashAggregate before "
                      "the single exchange (map-side combine).",
    "webmerc_project": "Whole-stage codegen end to end; ReadSchema prunes "
                       "to the two key columns.",
    "exact_dedup_hashes": "md5 + groupBy stay JVM-side; uniform hash keys "
                          "mean a skew-free shuffle.",
    "knn_nation_k3": "The 25-row ref side is broadcast "
                     "(BroadcastNestedLoopJoin, never a shuffled cartesian).",
    "pip_raycast_join": "Cell UDF, a JVM Filter on the cover's level-6 "
                        "occupancy bitmap, then the broadcast cell-cover "
                        "index inside the Arrow match UDF (cover lookup, "
                        "exact ray-cast): 2 Arrow crossings, no join stage.",
    "cosine_topk_lsh": "The query returns its one-row recall verdict, so "
                       "the plan below is that row's scan. The rhp_lsh_topk "
                       "DAG it grades scans once, runs the band-key UDF "
                       "once, ranks each (band, bucket) group's queries "
                       "against its data in one groupBy, and merges the "
                       "groups' top-k in one exchange on qid: no pair join, "
                       "and no embedding in the qid exchange.",
    "dedup_clusters": "n-gram pairs: each doc's shingle array is exploded "
                      "once and self-joined on the shingle (one hash "
                      "equi-join, the shingle UDF once per side, each side "
                      "carrying its shingle count); label propagation is a "
                      "per-round partial-agg groupBy.",
}


def main() -> None:
    import __spark_entry__ as entry
    from proj_spark.session import get_spark

    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = ["# PLANS — physical plans of the headline queries\n",
           "Generated by `tools/gen_plans.py` at sf0.001; the load-bearing",
           "properties are enforced as tests in tests/test_plan_hygiene.py.\n"]
    for name, note in NOTES.items():
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # elide file listing noise
        plan = re.sub(r"Location: [^\n]*", "Location: ...", plan)
        plan = re.sub(r", \[plan_id=\d+\]", "", plan)
        # elide long literal arrays (the cover join's occupancy bitmap)
        plan = re.sub(r"\[-?\d+(?:,-?\d+){15,}\]",
                      lambda m: f"[{m.group().count(',') + 1} literals]", plan)
        lines = plan.strip().splitlines()
        if len(lines) > 80:
            lines = lines[:80] + [f"... ({len(lines) - 80} more lines; "
                                  "run tools/gen_plans.py for the full plan)"]
        out.append(f"## {name}\n\n{note}\n\n```\n"
                   + "\n".join(lines) + "\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
