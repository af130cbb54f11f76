"""``dashboard``: Superset-style read traffic over HS2.

The engine (this process) registers a metadata-only warehouse from the
generated folders and serves it through ``HiveServer2Front``; a separate
load-generator process drives 3 closed-loop HS2 connections with
Zipf-skewed templated statements for the measured window. Every distinct
statement is then checked against DuckDB over the same parquet files.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import common
import inputs

CLIENTS = 3
NAMESPACE = "tpch"


def _import(spark, warehouse: str, data_root: str):
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
    from iceberg_metadata_pipeline_spark.ingest.register import import_data_root

    t0 = time.perf_counter()
    report = import_data_root(spark, Catalog(spark, warehouse), data_root, namespace=NAMESPACE)
    elapsed = time.perf_counter() - t0
    if report.failed:
        raise RuntimeError(f"import failed: {[(r.table, r.error) for r in report.failed]}")
    return elapsed, sum(r.n_files for r in report.ok)


def _label_hits(records: list[dict], cached: list[str]) -> int:
    """Mark each statement hit or miss, in send order over all clients: a
    hit if the cache held it before the window or an earlier miss of it
    had stored its result (the client saw ExecuteStatement return) before
    this one was sent. No commits happen in this workload, so the catalog
    fingerprint never changes, and the window offers the cache fewer
    statements than it holds, so nothing is evicted. Returns the number
    of distinct statements the cache was offered."""
    stored = dict.fromkeys(cached, float("-inf"))
    for rec in sorted(records, key=lambda r: r["t0"]):
        stmt = rec["stmt"]
        rec["hit"] = stored.get(stmt, float("inf")) <= rec["t0"]
        if not rec["hit"] and "t_exec" in rec:
            stored[stmt] = min(stored.get(stmt, float("inf")), rec["t_exec"])
    return len(stored)


def _oracle(data_root: str, statements: list[str]) -> dict[str, list]:
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE SCHEMA {NAMESPACE}")
    for table in os.listdir(data_root):
        glob = os.path.join(data_root, table, "*.parquet")
        con.execute(f"CREATE VIEW {NAMESPACE}.{table} AS SELECT * FROM read_parquet('{glob}')")
    out = {stmt: con.execute(stmt).fetchall() for stmt in statements}
    con.close()
    return out


def _warm(front, prewarm: list[str]) -> None:
    """Run the pre-warm statements on CLIENTS parallel threads: this warms
    the engine and leaves them in the result cache, as on a server that
    has been up a while. Each thread sends its first statement over HS2,
    to warm the fetch path, and the rest straight to the serving engine."""
    from iceberg_metadata_pipeline_spark.serving.hs2 import HS2Client

    def client(stmts):
        conn = HS2Client("127.0.0.1", front.port)
        conn.query(stmts[0])
        conn.close()
        sid = front.engine.open_session()
        for stmt in stmts[1:]:
            front.engine.execute(sid, stmt)
        front.engine.close_session(sid)

    with ThreadPoolExecutor(CLIENTS) as pool:
        list(pool.map(client, [prewarm[i::CLIENTS] for i in range(CLIENTS)]))


def _temp_views(engine, max_sessions: int = 64) -> int:
    """Temp views held by every still-open serving session."""
    total = 0
    for sid in range(1, max_sessions + 1):
        try:
            session = engine.session_spark(str(sid))
        except KeyError:
            continue
        total += sum(1 for t in session.catalog.listTables() if t.isTemporary)
    return total


def _wrap_serving(tracer) -> None:
    """Install the traced run's wrappers for the read path."""
    from iceberg_metadata_pipeline_spark.catalog import metacat, sqlfront
    from iceberg_metadata_pipeline_spark.serving import result_cache, server

    local = threading.local()

    def on_lookup(result, args):
        local.hit = result is not None and result is not result_cache.TOO_BIG
        return {"hit": local.hit}

    def on_execute(result, args):
        return {"hit": getattr(local, "hit", False), "session": args[1],
                "statement": args[2]}

    tracer.wrap(result_cache.ResultCache, "lookup", "result_cache.lookup", on_lookup)
    tracer.wrap(server, "catalog_fingerprint", "result_cache.fingerprint")
    tracer.wrap(server, "catalog_sql", "catalog.sql")
    tracer.wrap(sqlfront, "catalog_sql", "catalog.sql")
    tracer.wrap(metacat.Catalog, "load_table", "catalog.load_table")
    tracer.wrap(metacat.Table, "snapshot_files", "catalog.snapshot_files")

    # every dashboard statement is cacheable, so each execute performs
    # exactly one lookup on its own thread before returning
    seq = itertools.count(1)
    tracer.wrap(server.SQLServingEngine, "execute", "serving.execute", on_execute,
                statement=lambda args: f"session{args[1]}-{next(seq)}")


def _match_sessions(records_by_client: list[list[dict]], exec_spans: list[dict]) -> None:
    """Give each client statement the engine's statement id, so client and
    engine spans join: engine sessions are matched to clients by their
    statement sequences."""
    by_session: dict[str, list[dict]] = {}
    for s in sorted(exec_spans, key=lambda s: s["start"]):
        by_session.setdefault(s["session"], []).append(s)
    for recs in records_by_client:
        texts = [r["stmt"] for r in recs]
        for spans in by_session.values():
            if [s["statement"] for s in spans[: len(texts)]] == texts:
                for r, s in zip(recs, spans):
                    r["engine_stmt"] = s["stmt"]
                break


def run(seed: int, seconds: float, tracer) -> dict:
    work = os.path.join(common.WORK, "dashboard")
    t_setup = time.perf_counter()
    manifest = inputs.generate("dashboard", os.path.join(work, "inputs"), seed, CLIENTS)
    spark, t_spark = common.start_spark("perfbench-dashboard")
    gen = manifest()
    # sampled once the input generator has exited
    sampler = common.RssSampler().start()
    if tracer is not None:
        from iceberg_metadata_pipeline_spark.catalog import metacat
        from iceberg_metadata_pipeline_spark.ingest import register

        tracer.wrap(register, "scan_parquet_footers", "ingest.scan_parquet_footers",
                    lambda res, args: {"files": len(res)})
        tracer.wrap(metacat.Table, "append_files", "catalog.append_files")

    warehouse = os.path.join(work, "warehouse")
    t_import, n_files = _import(spark, warehouse, gen["data_root"])

    from iceberg_metadata_pipeline_spark.serving.hs2 import HiveServer2Front

    front = HiveServer2Front(spark, warehouse).start()
    t0 = time.perf_counter()
    _warm(front, gen["prewarm"])
    t_warm = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup

    if tracer is not None:
        tracer.unwrap_all()
        _wrap_serving(tracer)

    streams_path = os.path.join(work, "streams.json")
    out_path = os.path.join(work, "loadgen.json")
    with open(streams_path, "w") as fh:
        json.dump(gen["streams"], fh)
    jobs = common.JobCounter(spark)
    cache = front.engine.cache
    hits0, misses0 = cache.hits, cache.misses
    heap0 = common.heap_used_mb(spark) if tracer is not None else 0.0
    rss0 = sampler.sample()
    job0 = jobs.mark()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
         str(front.port), streams_path, str(seconds), out_path],
    )
    sampler.exclude.add(proc.pid)
    try:
        code = proc.wait(timeout=seconds + 120)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    if code != 0:
        raise RuntimeError(f"load generator exited with {code}")
    t_post = time.perf_counter()
    job1 = jobs.mark()
    rss1 = sampler.sample()
    hits, misses = cache.hits - hits0, cache.misses - misses0
    temp_views = heap1 = 0.0
    if tracer is not None:
        temp_views, heap1 = _temp_views(front.engine), common.heap_used_mb(spark)
    rss_peak = sampler.stop()
    front.stop()
    counts = jobs.between(job0, job1)
    common.stop_spark()

    with open(out_path) as fh:
        load = json.load(fh)
    clients = load["clients"]
    records = [r for recs in clients for r in recs]
    offered = _label_hits(records, gen["prewarm"])
    if tracer is not None:
        tracer.unwrap_all()
        _match_sessions(clients, tracer.by_name("serving.execute"))

    # correctness, outside the measured window
    distinct = sorted({r["stmt"] for r in records})
    truth = _oracle(gen["data_root"], distinct)
    failed = 0
    for r in records:
        if not r["ok"] or not common.same_rows(r["rows"], truth[r["stmt"]]):
            r["ok"] = False
            failed += 1

    done = [r for r in records if r["ok"]]
    lat = [(r["t_end"] - r["t0"]) * 1000 for r in done]
    miss_lat = [(r["t_end"] - r["t0"]) * 1000 for r in done if not r["hit"]]
    window = load["end"] - load["start"]
    result = {
        "attempted": len(records),
        "failed": failed,
        "e2e": {
            "setup_s": setup_s,
            "rss_peak_mb": rss_peak,
            "ops_per_s": len(done) / window,
            "p50_ms": common.median(lat),
            "p90_ms": common.p90(lat),
            "cold_mean_ms": common.mean(miss_lat),
        },
        "info": {
            "statements": len(records),
            "distinct_seen": len(distinct),
            "distinct_space": gen["distinct"],
            # the labelling behind cold_mean_ms against the engine's count
            "misses": sum(not r["hit"] for r in records),
            "engine_misses": misses,
            "input_bytes": gen["bytes"],
            "files": n_files,
            "setup_parts_s": [round(t, 2) for t in (t_spark, t_import, t_warm)],
            "post_s": round(time.perf_counter() - t_post, 2),
        },
    }
    if tracer is None:
        return result

    def phase(a, b, hit=None):
        return [(r[b] - r[a]) * 1000 for r in done if hit is None or r["hit"] == hit]

    execs = tracer.by_name("serving.execute")
    footer_files = sum(s.get("files", 0) for s in tracer.by_name("ingest.scan_parquet_footers"))
    busy = sum(r["t_end"] - r["t0"] for r in done)
    layer = {
        "session.start_s": t_spark,
        "ingest.import_ms": t_import * 1000,
        "ingest.footer_ms_per_file": sum(tracer.durations_ms("ingest.scan_parquet_footers"))
        / max(1, footer_files),
        "catalog.sql_ms": common.mean(tracer.self_ms("catalog.sql")),
        "catalog.load_table_ms": common.mean(tracer.durations_ms("catalog.load_table")),
        "catalog.snapshot_files_ms": common.mean(tracer.durations_ms("catalog.snapshot_files")),
        "serving.execute_hit_ms": common.median(
            [(s["end"] - s["start"]) * 1000 for s in execs if s["hit"]]),
        "serving.execute_miss_ms": common.median(
            [(s["end"] - s["start"]) * 1000 for s in execs if not s["hit"]]),
        "serving.fetch_hit_ms": common.median(phase("t_meta", "t_fetch", True)),
        "serving.fetch_miss_ms": common.median(phase("t_meta", "t_fetch", False)),
        "serving.jobs_per_stmt": counts["jobs"] / max(1, len(records)),
        "serving.temp_views_end": temp_views,
        "serving.rss_growth_mb": rss1 - rss0,
        "serving.heap_live_mb": heap1,
        "serving.heap_growth_mb": heap1 - heap0,
        "serving.cache_entries_end": offered,
        "result_cache.hit_ratio": hits / max(1, hits + misses),
        "result_cache.fingerprint_ms": common.mean(tracer.durations_ms("result_cache.fingerprint")),
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
        # engine time inside serving.execute plus the client's metadata,
        # fetch and close phases, against the clients' total busy time
        "trace.coverage_frac": (sum(s["end"] - s["start"] for s in execs)
                                + sum(phase("t_exec", "t_end")) / 1000) / max(busy, 1e-9),
        "trace.overhead_frac": tracer.overhead_s() / max(window, 1e-9),
    }
    _add_client_spans(tracer, clients, done)
    result["layer"] = layer
    return result


def _add_client_spans(tracer, clients, done) -> None:
    """Fold the load generator's HS2 phases into the span list (wall-clock
    times mapped onto this process's perf_counter clock)."""
    offset = time.perf_counter() - time.time()
    for client_id, recs in enumerate(clients):
        for r in recs:
            if not r["ok"]:
                continue
            parent = {"id": -len(tracer.spans) - 1, "name": "hs2_client.statement",
                      "parent": None, "stmt": r.get("engine_stmt"), "thread": f"client-{client_id}",
                      "start": r["t0"] + offset, "end": r["t_end"] + offset, "hit": r["hit"]}
            tracer.spans.append(parent)
            for name, a, b in (("execute", "t0", "t_exec"), ("metadata", "t_exec", "t_meta"),
                               ("fetch", "t_meta", "t_fetch"), ("close", "t_fetch", "t_end")):
                tracer.spans.append({"id": -len(tracer.spans) - 1, "name": f"hs2_client.{name}",
                                     "parent": parent["id"], "stmt": parent["stmt"],
                                     "thread": parent["thread"],
                                     "start": r[a] + offset, "end": r[b] + offset})
