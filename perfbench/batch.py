"""Headliner batch jobs, cold and warm.

Queries run through ``__spark_entry__.queries()``: one untimed warm-up
pass (part of set-up) that collects each result, then per query a cold
run (after ``clearCache()``) followed by warm runs, with the noop sink.
The seed fixes the query order of each pass. The collected results are
checked against ``oracle_sql()`` in DuckDB where an oracle exists, else
by row count.

The ``writes`` workload runs the ``GATED`` pair, one query each from the
``queries`` and ``llmops`` modules, as the downstream jobs of the write
path. ``--workload batch`` runs all twelve for ``--seconds`` and is not
listed in BENCHMARK.json: its warm-up pass alone takes longer than the
per-run budget of the gated runs allows (see README.md). Run it by hand:
``python3 perfbench/run.py --workload batch --seed 1 --seconds 30``.
"""

from __future__ import annotations

import os
import random
import time

import common

SCALE = "sf0.01"

QUERIES = {
    "queries": ["tpch_q1_pricing_summary", "tpch_q9_product_profit",
                "mining_basket_lift", "graph_pagerank_interactions"],
    "llmops": ["dedup_minhash_lsh", "pipeline_incremental_dedup_index",
               "sim_cosine_topk_lsh_checked", "text_bigram_lm_score"],
    "ingest": ["source_pyavro_datasource", "source_pyice_datasource"],
    "catalog": ["catalog_hudi_mor_read", "table_changelog_scan"],
}
GATED = {"queries": ["tpch_q1_pricing_summary"], "llmops": ["text_bigram_lm_score"]}
# value oracles exist for neither; checked on row count only
ROWS_ONLY = {"dedup_minhash_lsh", "pipeline_incremental_dedup_index"}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
LAYER_KEYS = (("cold_s", "s"), ("warm_s", "s"), ("jobs", "count"), ("tasks", "count"))


def layer_units(groups: dict) -> dict[str, str]:
    """Per-layer metric names and units for the queries in ``groups``."""
    units = {"batch.cold_s": "s", "batch.warm_s": "s"}
    for module, names in groups.items():
        for name in names:
            units.update({f"{module}.{name}.{key}": unit for key, unit in LAYER_KEYS})
    return units


def _oracle_rows(sf_dir: str, names: list[str]) -> dict[str, tuple[list[str], list]]:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        if name in oracles and name not in ROWS_ONLY:
            rel = con.sql(oracles[name])
            out[name] = ([d[0] for d in rel.description], rel.fetchall())
    con.close()
    return out


class Batch:
    """One set of headliners on a running session."""

    def __init__(self, spark, groups: dict):
        import __spark_entry__ as entry

        self.spark = spark
        self.sf_dir = common.fixtures(SCALE)
        self.groups = groups
        self.names = [q for qs in groups.values() for q in qs]
        self.queries = entry.queries()
        self.cold: dict[str, float] = {}
        self.warm: dict[str, list[float]] = {n: [] for n in self.names}
        self.counts: dict[str, dict] = {}
        self.results: dict[str, tuple[list[str], list]] = {}

    def _timed(self, name: str) -> float:
        t0 = time.perf_counter()
        self.queries[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def warm_up(self) -> float:
        """One untimed pass that keeps each result for check(); returns
        its seconds."""
        t0 = time.perf_counter()
        for name in self.names:
            df = self.queries[name](self.spark, self.sf_dir)
            self.results[name] = (df.columns, df.collect())
        return time.perf_counter() - t0

    def measure(self, rng: random.Random, trace: bool, warm_runs: int = 0,
                seconds: float = 0.0) -> float:
        """A cold then a warm run of each query in seeded order, then more
        warm passes: ``warm_runs`` runs per query in all, or passes until
        ``seconds`` have gone by. Returns the elapsed seconds."""
        jobs = common.JobCounter(self.spark) if trace else None
        start = time.perf_counter()
        order = self.names[:]
        rng.shuffle(order)
        for name in order:
            self.spark.catalog.clearCache()
            self.cold[name] = self._timed(name)
            mark = jobs.mark() if jobs else 0
            self.warm[name].append(self._timed(name))
            if jobs:
                self.counts[name] = jobs.between(mark, jobs.mark())
        passes = 1
        while passes < warm_runs or time.perf_counter() - start < seconds:
            rng.shuffle(order)
            for name in order:
                self.warm[name].append(self._timed(name))
            passes += 1
        return time.perf_counter() - start

    def runs(self) -> list[float]:
        """Seconds of every measured run, cold and warm."""
        return list(self.cold.values()) + [v for runs in self.warm.values() for v in runs]

    def cold_s(self) -> float:
        return sum(self.cold.values())

    def warm_s(self) -> float:
        return sum(common.median(v) for v in self.warm.values())

    def check(self) -> int:
        """Failed queries among the warm-up pass's results: a wrong answer
        against the oracle, or no rows."""
        truth = _oracle_rows(self.sf_dir, self.names)
        failed = 0
        for name in self.names:
            columns, rows = self.results[name]
            if name in truth:
                cols, want = truth[name]
                idx = [cols.index(c) for c in columns] if sorted(cols) == sorted(columns) else None
                ok = idx is not None and common.same_rows(rows, [[r[i] for i in idx] for r in want])
            else:
                ok = len(rows) > 0
            failed += not ok
        return failed

    def layer(self) -> dict[str, float]:
        out = {"batch.cold_s": self.cold_s(), "batch.warm_s": self.warm_s()}
        for module, names in self.groups.items():
            for name in names:
                values = {"cold_s": self.cold[name], "warm_s": common.median(self.warm[name]),
                          **{k: self.counts.get(name, {}).get(k, 0) for k in ("jobs", "tasks")}}
                out.update({f"{module}.{name}.{k}": v for k, v in values.items()})
        return out


def run(seed: int, seconds: float, tracer) -> dict:
    sampler = common.RssSampler().start()
    spark, t_spark = common.start_spark("perfbench-batch")
    batch = Batch(spark, QUERIES)
    t_warm = batch.warm_up()
    window = batch.measure(random.Random(seed), tracer is not None, seconds=seconds)
    rss_peak = sampler.stop()
    common.stop_spark()
    # correctness, outside the measured window
    failed = batch.check()

    warm_runs = [v for runs in batch.warm.values() for v in runs]
    result = {
        "attempted": len(batch.names),
        "failed": failed,
        "e2e": {
            "setup_s": t_spark + t_warm,
            "rss_peak_mb": rss_peak,
            "ops_per_s": len(batch.runs()) / window,
            "p50_ms": common.median(warm_runs) * 1000,
            "p90_ms": common.p90(warm_runs) * 1000,
            "cold_mean_ms": common.mean(list(batch.cold.values())) * 1000,
        },
        "info": {
            "cold_s": round(batch.cold_s(), 3),
            "warm_s": round(batch.warm_s(), 3),
            "rows_only": sorted(ROWS_ONLY & set(batch.names)),
        },
    }
    if tracer is not None:
        layer = batch.layer()
        layer["session.start_s"] = t_spark
        result["layer"], result["layer_units"] = layer, layer_units(QUERIES)
    return result
