"""Probe: does a merge-on-read read stay the same size as history grows?

Builds a 200k-row metacat table with ``k`` and ``v`` columns, then runs
16 rounds. Each round commits ``update_set_mor("k % 50 = r", v + 1)``
(new copies plus a predicate delete of the old ones) and
``delete_keys_mor`` of 50 keys (an equality delete). After each round
it times ``count()`` over ``scan()`` and prints the executed plan's
``FileScan`` and ``BroadcastHashJoin`` node counts, one JSON line per
round. A read planner whose size depends on the delete shapes, not on
the commits since the last compaction, prints the same counts in every
round.

Usage: python tools/probe_mor_history.py [rounds] [n_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
    from iceberg_metadata_pipeline_spark.session import get_spark

    spark = get_spark(app_name="probe-mor-history")
    base = tempfile.mkdtemp(prefix="probe-mor-")
    try:
        catalog = Catalog(spark, os.path.join(base, "wh"))
        catalog.ensure_namespace("p")
        rows = spark.range(n_rows).selectExpr("id AS k", "id * 2 AS v")
        t = catalog.create_table("p", "mor", rows.schema)
        t.append_dataframe(rows.coalesce(4))
        expect = n_rows
        for r in range(rounds + 1):
            if r:
                t.update_set_mor(f"k % 50 = {r}", {"v": "v + 1"})
                lo = r * 1000
                t.delete_keys_mor(spark.range(lo, lo + 50).selectExpr("id AS k"))
                expect -= 50
            counted = t.scan().groupBy().count()
            t0 = time.monotonic()
            got = counted.collect()[0][0]
            count_s = time.monotonic() - t0
            assert got == expect, (r, got, expect)
            # the final adaptive plan (its string also prints the initial one)
            plan = counted._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
            print(
                json.dumps(
                    {
                        "round": r,
                        "rows": got,
                        "file_scans": plan.count("FileScan"),
                        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
                        "count_s": round(count_s, 3),
                    }
                ),
                flush=True,
            )
    finally:
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
