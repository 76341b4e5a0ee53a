"""The index-maintenance story, runnable end to end: what keeps probe
search fast across months of appends WITHOUT ever paying the O(table)
rebuild.

    build_vector_index      CREATE INDEX (here: OPQ,IVF,PQ — learned
                            rotation + clustered codes; rabitq=True
                            swaps in one-bit RaBitQ codes with nothing
                            to retrain on extend)
    extend_vector_index     assignment-only append maintenance
    index_stats             the decision inputs: cell skew, coverage
                            freshness, files behind, small-file count
    recluster_vector_index  targeted REINDEX: split only drifted cells
                            (untouched partitions hardlink — O(drift))
    compact + compact_index small-file hygiene for table and layouts
    vacuum                  reclaim rewrite history

Every step prints the stats it acted on, and the same searches run
before and after to show results stay correct while the layout heals.
The HTTP twin of each step is POST /api/maintenance/{table}
(op = stats | recluster | compact | compact_index | vacuum).

Run: python examples/maintenance_lifecycle.py
"""

from __future__ import annotations

import json
import random
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from vechord_spark.registry import VechordRegistry
from vechord_spark.session import get_spark
from vechord_spark.spec import Column, TableSpec, Vector


def main() -> None:
    spark = get_spark("maintenance-example", master="local[4]", shuffle_partitions=4)
    work = tempfile.mkdtemp()
    rng = random.Random(11)
    reg = VechordRegistry("ops", work, spark)
    reg.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(8))],
        )
    )

    def rows(ids, center):
        return [
            {"uid": i, "vec": [c + rng.uniform(-0.2, 0.2) for c in center]}
            for i in ids
        ]

    # day 0: two natural clusters, indexed with OPQ,IVF,PQ
    reg.insert_rows("emb", rows(range(60), [0.0] * 8))
    reg.insert_rows("emb", rows(range(60, 120), [4.0] * 8))
    reg.build_vector_index("emb", lists=4, pq_m=4, pq_ksub=16, opq=True)
    print("day 0 stats:", json.dumps(reg.index_stats("emb")["ivf"]))

    q = [4.0] * 7 + [8.0]
    before = [
        r.uid
        for r in reg.search_by_vector("emb", q, topk=5, probes=2).collect()
    ]

    # days 1..5: appends drift toward a THIRD location the clustering
    # has never seen; extends keep coverage current (O(new data)),
    # but the nearest cell bloats
    for day in range(5):
        reg.insert_rows(
            "emb", rows(range(1000 + day * 40, 1040 + day * 40), [4, 4, 4, 4, 4, 4, 4, 8])
        )
        n = reg.extend_vector_index("emb")
        print(f"day {day + 1}: extended {n} rows")
    drifted = reg.index_stats("emb")["ivf"]
    print("after drift:", json.dumps(drifted))
    # skew is bounded by `lists`; with 4 cells the drifted one dominates
    assert drifted["skew"] > 2.0, "the drifted cell should dominate"

    # targeted recluster to convergence: one wave per call
    while True:
        stats = reg.recluster_vector_index("emb", max_cell_factor=2.0)
        print("recluster wave:", json.dumps(stats))
        if stats["split_cells"] == 0:
            break
    healed = reg.index_stats("emb")["ivf"]
    print("after recluster:", json.dumps(healed))
    assert healed["skew"] <= 2.0

    # the drifted cluster is now its own probe-able cell
    after = [
        r.uid
        for r in reg.search_by_vector("emb", q, topk=5, probes=2).collect()
    ]
    print("top-5 before drift:", before)
    print("top-5 after heal:  ", after)
    assert all(uid >= 1000 for uid in after), "drifted rows should win"

    # hygiene: merge small files (table + index layouts), reclaim history
    print("compact:", json.dumps(reg.compact("emb")))
    print("compact_index:", json.dumps(reg.compact_index("emb")))
    print("vacuumed files:", len(reg.vacuum("emb", older_than_s=0)))
    final = reg.index_stats("emb")["ivf"]
    print("final stats:", json.dumps(final))
    # compact extended the index first and moved its covered version
    # onto the compacted one, so extends stay on the log delta
    assert final["ledger_fresh"] and final["files_behind"] == 0
    print("coverage kept across compact; lifecycle complete")

    # …or skip the hand-walk entirely: registry.maintain() reads the
    # same index_stats signals and applies extend -> recluster ->
    # compact_index in one call (HTTP twin: POST /api/maintenance/emb
    # with {"op": "auto"}). On the healed layout it is a no-op:
    auto = reg.maintain("emb", max_cell_factor=2.0)
    print("maintain() on healed layout:", json.dumps(auto["actions"]))
    assert auto["actions"] == []
    # drift again and let the policy do the whole loop
    reg.insert_rows("emb", rows(range(5000, 5120), [8.0] * 8))
    auto = reg.maintain("emb", max_cell_factor=2.0)
    print("maintain() after drift:", json.dumps([a["op"] for a in auto["actions"]]))
    assert [a["op"] for a in auto["actions"]][0] == "extend"
    assert auto["after"]["ivf"]["ledger_fresh"]
    spark.stop()


if __name__ == "__main__":
    main()
