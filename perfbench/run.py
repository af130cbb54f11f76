"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload dashboard|writes|batch \
        --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/``; the last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A traced run also writes its spans to
``.perfbench_work/<workload>/spans-seed<N>.jsonl``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import batch
import common
import inputs

E2E_UNITS = {
    "setup_s": "s",
    "rss_peak_mb": "MB",
    "ops_per_s": "1/s",
    "p50_ms": "ms",
    "p90_ms": "ms",
    "cold_mean_ms": "ms",
}

COMMIT_KINDS = ("insert", "delete_cow", "delete_mor", "update", "ingest", "compact", "expire")

LAYER_UNITS = {
    "session.start_s": "s",
    "ingest.import_ms": "ms",
    "ingest.footer_ms_per_file": "ms",
    "ingest.sanitize_read_ms": "ms",
    "catalog.sql_ms": "ms",
    "catalog.load_table_ms": "ms",
    "catalog.snapshot_files_ms": "ms",
    "catalog.live_delete_files": "count",
    "catalog.data_files": "count",
    "catalog.files_per_read": "count",
    **{f"catalog.commit_ms.{k}": "ms" for k in COMMIT_KINDS},
    "catalog.meta_bytes_per_commit": "bytes",
    "catalog.bytes_written_per_commit": "bytes",
    "catalog.compact_bytes_rewritten": "bytes",
    "serving.execute_hit_ms": "ms",
    "serving.execute_miss_ms": "ms",
    "serving.fetch_hit_ms": "ms",
    "serving.fetch_miss_ms": "ms",
    "serving.jobs_per_stmt": "count",
    "serving.temp_views_end": "count",
    "serving.rss_growth_mb": "MB",
    "serving.heap_live_mb": "MB",
    "serving.heap_growth_mb": "MB",
    "serving.cache_entries_end": "count",
    "result_cache.hit_ratio": "ratio",
    "result_cache.fingerprint_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.coverage_frac": "ratio",
    "trace.overhead_frac": "ratio",
    **batch.layer_units(batch.GATED),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "writes", "batch"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    package = os.path.join(common.ROOT, "iceberg_metadata_pipeline_spark")
    if not os.path.isdir(package):
        print(f"perfbench: package not found at {package}", file=sys.stderr)
        return 2
    fixtures = common.fixtures(inputs.SCALE)
    if not os.path.isdir(fixtures):
        print(f"perfbench: fixture tables not found at {fixtures}", file=sys.stderr)
        return 2

    work = os.path.join(common.WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.engine_env(args.workload)
    sys.path.insert(0, common.ROOT)

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.calibrate()
    t0 = time.perf_counter()

    if args.workload == "dashboard":
        import dashboard as workload
    elif args.workload == "writes":
        import writes as workload
    else:
        workload = batch
    try:
        result = workload.run(args.seed, args.seconds, tracer)
    finally:
        common.stop_spark()

    if tracer is not None:
        spans = os.path.join(work, f"spans-seed{args.seed}.jsonl")
        tracer.write(spans, t0)
        units = dict(LAYER_UNITS, **result.get("layer_units", {}))
        metrics = {name: {"value": float(result["layer"].get(name, 0.0)), "unit": unit}
                   for name, unit in units.items()}
    else:
        metrics = {name: {"value": float(result["e2e"][name]), "unit": unit}
                   for name, unit in E2E_UNITS.items()}
    info = result.get("info", {})
    if info:
        print("perfbench info: " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
