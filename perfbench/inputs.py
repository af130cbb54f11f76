"""Seeded input generation for the dashboard and writes workloads.

Everything the engine reads is produced here from the fixture tables and
the ``--seed`` argument; the same seed gives byte-identical inputs. The
engine only ever sees the generated folders and statement streams.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import common

SCALE = "sf0.1"

LINEITEM_FILES = 32
ORDERS_FILES = 8
DIMENSIONS = ("customer", "part", "supplier", "nation", "region")

# dashboard: Zipf exponents for template and parameter popularity
TEMPLATE_ZIPF = 1.1
PARAM_ZIPF = 1.4
STREAM_LEN = 1000  # statements per client; far more than a run consumes
PREWARM = 12  # most popular statements cached before the window
CLIENT_STRIDE = 7  # clients enter the popularity walks this far apart


def _fixture(name: str) -> pa.Table:
    return pq.read_table(os.path.join(common.fixtures(SCALE), f"{name}.parquet"))


def _split_by(table: pa.Table, column: str, n_files: int, rng: random.Random) -> list[pa.Table]:
    """Sort by ``column`` and cut into ``n_files`` ranges at seeded,
    jittered row offsets, so file sizes and boundaries vary by seed."""
    table = table.sort_by(column)
    n = table.num_rows
    step = n / n_files
    cuts = [0]
    for i in range(1, n_files):
        cuts.append(int(step * i + rng.uniform(-0.3, 0.3) * step))
    cuts.append(n)
    return [table.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]


def _write_parts(parts: list[pa.Table], folder: str, stem: str) -> None:
    os.makedirs(folder, exist_ok=True)
    for i, part in enumerate(parts):
        pq.write_table(part, os.path.join(folder, f"{stem}-{i:03d}.parquet"))


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def _weighted_round_robin(weights: list[float], n: int) -> list[int]:
    """Deterministic sequence of ``n`` indices whose frequencies follow
    ``weights`` as evenly spread as possible (smooth weighted round-robin)."""
    total = sum(weights)
    current = [0.0] * len(weights)
    out = []
    for _ in range(n):
        current = [c + w for c, w in zip(current, weights)]
        best = max(range(len(weights)), key=lambda i: current[i])
        current[best] -= total
        out.append(best)
    return out


# -- dashboard ---------------------------------------------------------------

def _dashboard_templates(orders: pa.Table, customer: pa.Table, part: pa.Table,
                         region: pa.Table) -> list[tuple[str, list[str]]]:
    """Superset-style chart queries, most popular first: (name, distinct
    statements)."""
    years = sorted({d.year for d in pc.unique(orders["o_orderdate"]).to_pylist()})
    full_years = years[:-1] or years  # the last order year is partial
    regions = sorted(pc.unique(region["r_name"]).to_pylist())
    segments = sorted(pc.unique(customer["c_mktsegment"]).to_pylist())
    sizes = sorted(pc.unique(part["p_size"]).to_pylist())
    t1 = [
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
        "sum(l_extendedprice) AS base, avg(l_discount) AS disc FROM tpch.lineitem "
        f"WHERE l_shipdate <= TIMESTAMP '1998-12-01' - INTERVAL {d} DAYS "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        for d in range(60, 121)
    ]
    t2 = [
        "SELECT o_orderpriority, count(*) AS order_count FROM tpch.orders "
        f"WHERE o_orderdate >= TIMESTAMP '{y}-{m:02d}-01' "
        f"AND o_orderdate < TIMESTAMP '{y}-{m:02d}-01' + INTERVAL 3 MONTHS "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        for y in full_years for m in (1, 4, 7, 10)
    ]
    t3 = [
        "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
        "FROM tpch.customer JOIN tpch.orders ON c_custkey = o_custkey "
        "JOIN tpch.lineitem ON l_orderkey = o_orderkey "
        "JOIN tpch.supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "JOIN tpch.nation ON s_nationkey = n_nationkey "
        "JOIN tpch.region ON n_regionkey = r_regionkey "
        f"WHERE r_name = '{r}' AND o_orderdate >= TIMESTAMP '{y}-01-01' "
        f"AND o_orderdate < TIMESTAMP '{y + 1}-01-01' "
        "GROUP BY n_name ORDER BY n_name"
        for r in regions for y in full_years
    ]
    t4 = [
        "SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n "
        f"FROM tpch.lineitem WHERE l_shipdate >= TIMESTAMP '{y}-01-01' "
        f"AND l_shipdate < TIMESTAMP '{y + 1}-01-01' "
        f"AND l_discount BETWEEN {d - 1} / 100.0 AND {d + 1} / 100.0 AND l_quantity < {q}"
        for y in full_years for d in range(2, 10) for q in (24, 25)
    ]
    t5 = [
        "SELECT p_brand, count(*) AS n, sum(l_extendedprice) AS revenue "
        "FROM tpch.lineitem JOIN tpch.part ON l_partkey = p_partkey "
        f"WHERE p_size = {s} GROUP BY p_brand ORDER BY p_brand"
        for s in sizes
    ]
    t6 = [
        "SELECT month(o_orderdate) AS m, count(*) AS n, sum(o_totalprice) AS total "
        "FROM tpch.orders JOIN tpch.customer ON o_custkey = c_custkey "
        f"WHERE c_mktsegment = '{seg}' AND year(o_orderdate) = {y} "
        "GROUP BY month(o_orderdate) ORDER BY m"
        for seg in segments for y in full_years
    ]
    return [("pricing", t1), ("priority", t2), ("nation_revenue", t3),
            ("discount", t4), ("brand", t5), ("segment_month", t6)]


def build_dashboard(work: str, seed: int, clients: int) -> dict:
    """Split sf0.1 into multi-file folders and build the statement streams.

    Returns ``{"data_root", "streams", "prewarm", "distinct", "bytes"}``."""
    rng = random.Random(seed)
    root = os.path.join(work, "data")
    tables = {name: _fixture(name) for name in ("lineitem", "orders") + DIMENSIONS}
    _write_parts(_split_by(tables["lineitem"], "l_shipdate", LINEITEM_FILES, rng),
                 os.path.join(root, "lineitem"), "lineitem")
    _write_parts(_split_by(tables["orders"], "o_orderdate", ORDERS_FILES, rng),
                 os.path.join(root, "orders"), "orders")
    for name in DIMENSIONS:
        _write_parts([tables[name]], os.path.join(root, name), name)

    templates = _dashboard_templates(tables["orders"], tables["customer"], tables["part"],
                                     tables["region"])
    pools = []
    for _, stmts in templates:
        pool = list(stmts)
        rng.shuffle(pool)  # which parameters are hot depends on the seed
        pools.append(pool)
    # Popularity is Zipf over the fixed template order and over each
    # template's seed-shuffled parameters. Both are walked as smooth
    # weighted round-robins rather than drawn at random, and each client
    # enters them at a fixed point, so every seed offers the same mix of
    # templates and the same pattern of repeats; the seed picks which
    # statements are hot.
    t_weights = _zipf_weights(len(pools), TEMPLATE_ZIPF)
    p_weights = [_zipf_weights(len(p), PARAM_ZIPF) for p in pools]
    t_sched = _weighted_round_robin(t_weights, STREAM_LEN)
    p_scheds = [_weighted_round_robin(w, STREAM_LEN) for w in p_weights]
    streams = []
    for c in range(clients):
        shift = c * CLIENT_STRIDE
        used = [c * CLIENT_STRIDE] * len(pools)
        stream = []
        for t in t_sched[shift:] + t_sched[:shift]:
            stream.append(pools[t][p_scheds[t][used[t] % STREAM_LEN]])
            used[t] += 1
        streams.append(stream)
    # the statements a long-running server would already hold: each
    # template's most popular statement, then the most popular overall;
    # running them before the window also warms the engine
    popular = sorted(((tw * pw, stmt) for tw, pool, pws in zip(t_weights, pools, p_weights)
                      for pw, stmt in zip(pws, pool)), reverse=True)
    prewarm = [pool[0] for pool in pools]
    prewarm += [stmt for _, stmt in popular if stmt not in prewarm][: PREWARM - len(prewarm)]
    return {
        "data_root": root,
        "streams": streams,
        "prewarm": prewarm,
        "distinct": sum(len(p) for p in pools),
        "bytes": _tree_bytes(root),
    }


# -- writes ------------------------------------------------------------------

WRITES_BASE_ROWS = 15_000
WRITES_INGEST_ROWS = 1_000
WRITES_COUNTERS_ROWS = 5_000


def build_writes(work: str, seed: int, rounds: int) -> dict:
    """Base orders folder, one ingest folder per round, the uint64/epoch-µs
    counters folder, and the per-round DML parameters."""
    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    orders = _fixture("orders")
    idx = np.sort(nprng.choice(orders.num_rows, WRITES_BASE_ROWS + rounds * WRITES_INGEST_ROWS,
                               replace=False))
    sample = orders.take(pa.array(idx))
    base = sample.slice(0, WRITES_BASE_ROWS)
    base_root = os.path.join(work, "base")
    _write_parts(_split_by(base, "o_orderdate", 4, rng),
                 os.path.join(base_root, "orders"), "orders")
    ingest = []
    for r in range(rounds):
        chunk = sample.slice(WRITES_BASE_ROWS + r * WRITES_INGEST_ROWS, WRITES_INGEST_ROWS)
        folder = os.path.join(work, "ingest", f"round-{r:02d}")
        _write_parts([chunk.slice(0, WRITES_INGEST_ROWS // 2),
                      chunk.slice(WRITES_INGEST_ROWS // 2)], folder, "part")
        ingest.append(folder)

    counters_root = os.path.join(work, "counters")
    n = WRITES_COUNTERS_ROWS
    t0 = 1_700_000_000_000_000
    counters = pa.table({
        "timestamp": pa.array(t0 + np.sort(nprng.integers(0, 86_400_000_000, n)), pa.uint64()),
        "iface": pa.array([f"eth{i}" for i in nprng.integers(0, 8, n)]),
        "rx_bytes": pa.array(nprng.integers(0, 2**63, n, dtype=np.uint64)
                             + np.uint64(2**63) * nprng.integers(0, 2, n, dtype=np.uint64),
                             pa.uint64()),
        "tx_bytes": pa.array(nprng.integers(0, 2**40, n, dtype=np.uint64), pa.uint64()),
        "status": pa.array(nprng.choice(["up", "down", "degraded"], n)),
        "ts_named_other": pa.array(t0 + nprng.integers(0, 10**9, n), pa.uint64()),
    })
    _write_parts([counters.slice(0, n // 2), counters.slice(n // 2)],
                 os.path.join(counters_root, "counters"), "counters")

    priorities = sorted(pc.unique(orders["o_orderpriority"]).to_pylist())
    dml = [
        {
            "insert_mod": rng.randrange(61),
            "key_offset": 10_000_000 * (r + 1),
            "cow_mod": rng.randrange(101),
            "mor_mod": rng.randrange(211),
            "upd_priority": rng.choice(priorities),
            "upd_mod": rng.randrange(53),
        }
        for r in range(rounds)
    ]
    return {
        "base_root": base_root,
        "base_files": sorted(os.path.join(base_root, "orders", f)
                             for f in os.listdir(os.path.join(base_root, "orders"))),
        "ingest": ingest,
        "counters_root": counters_root,
        "dml": dml,
        "bytes": _tree_bytes(work),
    }


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


BUILDERS = {"dashboard": build_dashboard, "writes": build_writes}


def generate(workload: str, work: str, seed: int, size: int):
    """Start building a workload's inputs in a child process, so that
    Spark can start meanwhile and the engine process's memory holds none
    of the generator's buffers. Returns a function that waits for the
    child and returns the builder's manifest."""
    proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), workload, work,
                             str(seed), str(size)])

    def manifest() -> dict:
        if proc.wait() != 0:
            raise RuntimeError(f"input generation exited with {proc.returncode}")
        with open(os.path.join(work, "manifest.json")) as fh:
            return json.load(fh)

    return manifest


if __name__ == "__main__":
    name, out, seed_arg, size_arg = sys.argv[1:5]
    manifest = BUILDERS[name](out, int(seed_arg), int(size_arg))
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
