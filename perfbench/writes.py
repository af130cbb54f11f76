"""``writes``: the lakehouse write path through ``catalog_sql``.

One client runs episodes of a fixed, seeded DML sequence on an
orders-derived table registered metadata-only. Each round: register a
new parquet folder (``CALL system.add_files``), ``INSERT INTO … SELECT``,
a copy-on-write ``DELETE … WHERE``, a merge-on-read ``DELETE … WHERE k IN
(SELECT …)`` and an ``UPDATE … SET … WHERE``, each followed by a
read-after-write aggregate; every ``COMPACT_EVERY`` rounds after the first starts with
``rewrite_data_files`` and ``expire_snapshots``. Each episode starts from a fresh warehouse, so
commit latency always sees the same history lengths; ``--seconds`` sets
the number of episodes (one per 20 s), not a deadline. The same sequence
applied in DuckDB is the oracle for every read and for the final table.

After the episodes come the write path's downstream jobs: the batch
headliners of ``batch.GATED``, a cold run and ``BATCH_WARM_RUNS`` warm
runs each; their warm-up pass in set-up is checked against their
oracles.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import time

import batch
import common
import inputs

ROUNDS = 2
COMPACT_EVERY = 1
SECONDS_PER_EPISODE = 20  # --seconds buys one episode per this many seconds
BATCH_WARM_RUNS = 2
NS, TABLE = "w", "orders"
REF = f"{NS}.{TABLE}"
COLUMNS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
READ = (f"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM {REF} "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")


def round_ops(r: int, p: dict, ingest_dir: str) -> list[tuple[str, str]]:
    """(kind, statement) for round ``r``: each write is followed by a
    read-after-write aggregate (kind 'read'), so reads sample the whole
    episode rather than one moment of it. Every COMPACT_EVERY rounds after
    the first, the round starts with compaction, so that round's reads
    see a compacted table plus its own writes."""
    ops = []
    if r and r % COMPACT_EVERY == 0:
        ops += [
            ("compact", f"CALL system.rewrite_data_files(table => '{REF}')"),
            ("expire", f"CALL system.expire_snapshots(table => '{REF}', keep_last => 2)"),
        ]
    writes = [
        ("ingest", f"CALL system.add_files('{REF}', '{ingest_dir}')"),
        ("insert", f"INSERT INTO {REF} SELECT o_orderkey + {p['key_offset']}, o_custkey, "
                   f"o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM {REF} "
                   f"WHERE o_custkey % 61 = {p['insert_mod']}"),
        ("delete_cow", f"DELETE FROM {REF} WHERE o_custkey % 101 = {p['cow_mod']}"),
        ("delete_mor", f"DELETE FROM {REF} WHERE o_orderkey IN (SELECT o_orderkey FROM {REF} "
                       f"WHERE o_orderkey % 211 = {p['mor_mod']})"),
        ("update", f"UPDATE {REF} SET o_totalprice = o_totalprice + 1 WHERE "
                   f"o_orderpriority = '{p['upd_priority']}' AND o_custkey % 53 = {p['upd_mod']}"),
    ]
    return ops + [op for write in writes for op in (write, ("read", READ))]


def _duck_sequence(gen: dict) -> tuple[list[list], list]:
    """Apply the same sequence in DuckDB: per-round read results and the
    final table rows."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE SCHEMA {NS}")
    glob = os.path.join(gen["base_root"], TABLE, "*.parquet")
    con.execute(f"CREATE TABLE {REF} AS SELECT {COLUMNS} FROM read_parquet('{glob}')")
    reads = []
    for r, p in enumerate(gen["dml"]):
        for kind, stmt in round_ops(r, p, gen["ingest"][r]):
            if kind == "ingest":
                con.execute(f"INSERT INTO {REF} SELECT {COLUMNS} FROM "
                            f"read_parquet('{os.path.join(gen['ingest'][r], '*.parquet')}')")
            elif kind == "read":
                reads.append(con.execute(stmt).fetchall())
            elif kind not in ("compact", "expire"):
                con.execute(stmt)
    final = con.execute(f"SELECT {COLUMNS} FROM {REF}").fetchall()
    con.close()
    return reads, final


def table_hash(rows) -> str:
    """Order-insensitive value hash; prices are cents, so two decimals
    round exactly."""
    canon = sorted(
        repr(tuple(round(v, 2) if isinstance(v, float) else
                   v.isoformat() if isinstance(v, (dt.date, dt.datetime)) else v for v in r))
        for r in rows
    )
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _new_bytes(before: dict, after: dict) -> tuple[int, int]:
    """(metadata bytes, other bytes) of files that appeared."""
    meta = data = 0
    for p, size in after.items():
        if p in before:
            continue
        if f"{os.sep}metadata{os.sep}" in p:
            meta += size
        else:
            data += size
    return meta, data


def _counters(spark, catalog, gen: dict, tracer) -> tuple[float, bool]:
    """Import the uint64/epoch-µs counters folder once and read it back
    through the sanitize projection; checked against pyarrow."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from iceberg_metadata_pipeline_spark.ingest.register import import_data_root, read_table

    if tracer:
        tracer.set_statement("counters")
    import_data_root(spark, catalog, gen["counters_root"], namespace=NS)
    t0 = time.perf_counter()
    span = tracer.begin("ingest.read_table") if tracer else None
    df = read_table(catalog, NS, "counters")
    if span:
        tracer.end(span)
    got = df.groupBy("iface").agg(
        F.count("*").alias("n"), F.sum("rx_bytes").alias("rx"),
        F.max("timestamp").alias("ts")).collect()
    elapsed = time.perf_counter() - t0
    raw = pq.read_table(os.path.join(gen["counters_root"], "counters"))
    want = {}
    for iface in pc.unique(raw["iface"]).to_pylist():
        part = raw.filter(pc.equal(raw["iface"], iface))
        want[iface] = (part.num_rows, sum(part["rx_bytes"].to_pylist()),
                       max(part["timestamp"].to_pylist()))
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)

    def micros(ts):
        ts = ts if ts.tzinfo else ts.replace(tzinfo=dt.timezone.utc)
        return (ts - epoch) // dt.timedelta(microseconds=1)

    ok = len(got) == len(want) and all(
        want.get(r["iface"]) == (r["n"], int(r["rx"]), micros(r["ts"])) for r in got)
    return elapsed, ok


def _episode(spark, gen: dict, warehouse: str, tracer, stats: dict) -> tuple[list, list]:
    """One fresh table through ROUNDS rounds. Returns (read results, final
    rows)."""
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
    from iceberg_metadata_pipeline_spark.catalog.sqlfront import catalog_sql
    from iceberg_metadata_pipeline_spark.ingest.register import import_data_root

    catalog = Catalog(spark, warehouse)
    if tracer:
        tracer.set_statement("import")
    import_data_root(spark, catalog, gen["base_root"], namespace=NS)
    location = os.path.join(warehouse, NS, TABLE)
    reads = []
    for r, p in enumerate(gen["dml"]):
        for kind, stmt in round_ops(r, p, gen["ingest"][r]):
            before = _files(location)
            if tracer:
                tracer.set_statement(f"r{r}-{kind}")
            t0 = time.perf_counter()
            try:
                df = catalog_sql(catalog, stmt)
                if tracer:
                    with tracer.span("spark.collect"):
                        rows = df.collect()
                else:
                    rows = df.collect()
            except Exception as exc:  # noqa: BLE001 — a failed statement is a result
                stats["errors"].append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
                continue
            elapsed = (time.perf_counter() - t0) * 1000
            if kind == "read":
                reads.append(rows)
                stats["read_ms"].append(elapsed)
                if tracer:
                    with tracer.paused():  # not part of the statement
                        _read_shape(catalog, df, stats)
                continue
            stats["commit_ms"].setdefault(kind, []).append(elapsed)
            meta, data = _new_bytes(before, _files(location))
            stats["meta_bytes"].append(meta)
            stats["data_bytes"].append(data)
            if kind == "compact":
                stats["compact_bytes"].append(data)
    if tracer:
        tracer.set_statement("final")
    final = catalog_sql(catalog, f"SELECT {COLUMNS} FROM {REF}").collect()
    return reads, final


def _read_shape(catalog, df, stats: dict) -> None:
    """Traced run only: what a read had to open."""
    from iceberg_metadata_pipeline_spark.catalog.sqlfront import catalog_sql

    table = catalog.load_table(NS, TABLE)
    stats["data_files"].append(len(table.snapshot_files()))
    stats["files_per_read"].append(len(df.inputFiles()))
    stats["live_deletes"].append(
        catalog_sql(catalog, f"SELECT count(*) FROM {REF}.delete_files").collect()[0][0])


def _wrap(tracer) -> None:
    from iceberg_metadata_pipeline_spark.catalog import metacat, sqlfront
    from iceberg_metadata_pipeline_spark.ingest import register

    tracer.wrap(sqlfront, "catalog_sql", "catalog.sql")
    tracer.wrap(metacat.Catalog, "load_table", "catalog.load_table")
    tracer.wrap(metacat.Table, "snapshot_files", "catalog.snapshot_files")
    tracer.wrap(metacat.Table, "append_files", "catalog.append_files")
    # DML commits call metacat's scan_parquet_footers too (delete-file
    # probes); only the spans of ingest statements count as ingest
    footers = lambda res, args: {"files": len(res)}  # noqa: E731
    tracer.wrap(metacat, "scan_parquet_footers", "ingest.scan_parquet_footers", footers)
    tracer.wrap(register, "scan_parquet_footers", "ingest.scan_parquet_footers", footers)


def _is_ingest(stmt) -> bool:
    return stmt in ("import", "counters") or str(stmt).endswith("-ingest")


def _in_round(span: dict) -> bool:
    """The span belongs to one of a round's statements (ids ``r<N>-<kind>``)."""
    return str(span["stmt"]).startswith("r")


def run(seed: int, seconds: float, tracer) -> dict:
    work = os.path.join(common.WORK, "writes")
    t_setup = time.perf_counter()
    manifest = inputs.generate("writes", os.path.join(work, "inputs"), seed, ROUNDS)
    spark, t_spark = common.start_spark("perfbench-writes")
    gen = manifest()
    # sampled once the input generator has exited
    sampler = common.RssSampler().start()

    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog

    # set-up, untimed: the one-off counters import and read, and a warm-up
    # pass of the downstream jobs. They also warm the JVM; a separate
    # warm-up round does not fit the run budget, so the first round's
    # commits carry what first-run cost remains.
    if tracer:
        _wrap(tracer)
    sanitize_s, counters_ok = _counters(
        spark, Catalog(spark, os.path.join(work, "warehouse-counters")), gen, tracer)
    downstream = batch.Batch(spark, batch.GATED)
    downstream.warm_up()
    setup_s = time.perf_counter() - t_setup

    stats = {"commit_ms": {}, "read_ms": [], "errors": [], "meta_bytes": [], "data_bytes": [],
             "compact_bytes": [], "data_files": [], "files_per_read": [], "live_deletes": []}
    jobs = common.JobCounter(spark)
    job0 = jobs.mark()
    # the work is fixed by --seconds alone, never by how fast it goes, so
    # both sides of a comparison run the same statements
    episodes, results = [], []
    start = time.perf_counter()
    while len(episodes) < max(1, round(seconds / SECONDS_PER_EPISODE)):
        e0 = time.perf_counter()
        results.append(_episode(spark, gen, os.path.join(work, f"warehouse-{len(episodes)}"),
                                tracer, stats))
        episodes.append(time.perf_counter() - e0)
    window = time.perf_counter() - start
    job1 = jobs.mark()
    downstream.measure(random.Random(seed), tracer is not None, warm_runs=BATCH_WARM_RUNS)
    rss_peak = sampler.stop()
    counts = jobs.between(job0, job1)
    common.stop_spark()

    # correctness, outside the measured window
    want_reads, want_final = _duck_sequence(gen)
    batch_failed = downstream.check()
    want_hash = table_hash(want_final)
    commits = [ms for kind in stats["commit_ms"].values() for ms in kind]
    op_ms = commits + stats["read_ms"] + [s * 1000 for s in downstream.runs()]
    # every statement, each episode's final table, the counters read and
    # each downstream job
    attempted = (len(commits) + len(stats["read_ms"]) + len(stats["errors"]) + len(results)
                 + 1 + len(downstream.names))
    failed = len(stats["errors"]) + batch_failed
    for reads, final in results:
        failed += sum(not common.same_rows(g, w) for g, w in zip(reads, want_reads))
        failed += len(reads) != len(want_reads)
        failed += len(final) != len(want_final) or table_hash(final) != want_hash
    failed += not counters_ok

    result = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "setup_s": setup_s,
            "rss_peak_mb": rss_peak,
            # statements and downstream job runs per second of their own
            # time: the benchmark's file walks between them are left out
            "ops_per_s": len(op_ms) / (sum(op_ms) / 1000),
            "p50_ms": common.median(commits),
            "p90_ms": common.p90(commits),
            "cold_mean_ms": common.mean(stats["read_ms"]),
        },
        "info": {
            "episodes": len(episodes),
            "episode_s": [round(e, 3) for e in episodes],
            "commits": len(commits),
            "reads": len(stats["read_ms"]),
            "errors": stats["errors"][:3],
            "final_rows": len(want_final),
            "input_bytes": gen["bytes"],
            "meta_bytes_per_commit": common.mean(stats["meta_bytes"]),
            "bytes_written_per_commit": common.mean(stats["data_bytes"]),
            "batch_cold_s": round(downstream.cold_s(), 3),
            "batch_warm_s": round(downstream.warm_s(), 3),
        },
    }
    if tracer is None:
        return result
    footer_spans = [s for s in tracer.by_name("ingest.scan_parquet_footers")
                    if _is_ingest(s["stmt"])]
    top = [s for s in tracer.spans if s["parent"] is None and _in_round(s)
           and s["name"] in ("catalog.sql", "spark.collect")]
    layer = {
        "session.start_s": t_spark,
        "ingest.footer_ms_per_file": sum((s["end"] - s["start"]) * 1000 for s in footer_spans)
        / max(1, sum(s.get("files", 0) for s in footer_spans)),
        "ingest.sanitize_read_ms": sanitize_s * 1000,
        "catalog.sql_ms": common.mean(tracer.self_ms("catalog.sql", _in_round)),
        "catalog.load_table_ms": common.mean(tracer.durations_ms("catalog.load_table", _in_round)),
        "catalog.snapshot_files_ms": common.mean(
            tracer.durations_ms("catalog.snapshot_files", _in_round)),
        "catalog.live_delete_files": common.mean(stats["live_deletes"]),
        "catalog.data_files": common.mean(stats["data_files"]),
        "catalog.files_per_read": common.mean(stats["files_per_read"]),
        **{f"catalog.commit_ms.{k}": common.median(v) for k, v in stats["commit_ms"].items()},
        "catalog.meta_bytes_per_commit": common.mean(stats["meta_bytes"]),
        "catalog.bytes_written_per_commit": common.mean(stats["data_bytes"]),
        "catalog.compact_bytes_rewritten": common.mean(stats["compact_bytes"]),
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
        # catalog_sql and collect spans against the statements' wall time
        "trace.coverage_frac": sum(s["end"] - s["start"] for s in top)
        / (sum(commits + stats["read_ms"]) / 1000),
        "trace.overhead_frac": tracer.overhead_s() / window,
        **downstream.layer(),
    }
    result["layer"] = layer
    return result
