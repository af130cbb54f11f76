"""From-scratch Delta Lake transaction-log format (read + write).

Round 5 built the Iceberg v2 format layer (iceberg_format.py); this is
the same capability for the OTHER mainstream open table format, written
purely from the public Delta protocol spec
(github.com/delta-io/delta PROTOCOL.md — "Delta Transaction Log
Protocol"). No delta-spark jar, no delta-rs: the log is newline-
delimited JSON actions, versioned as
``_delta_log/<20-digit version>.json``, optionally compacted into
``<version>.checkpoint.parquet`` + ``_last_checkpoint``.

Supported (reader version 1 / writer version 2 envelope):
- actions: ``protocol``, ``metaData``, ``add``, ``remove``,
  ``commitInfo``, ``txn`` (replay keeps the protocol/metaData
  last-writer-wins, file set = adds minus later removes keyed on path);
- ``schemaString`` is Spark's own StructType JSON — parsed with
  ``StructType.fromJson``, no translation layer needed (the one place
  Delta is *easier* than Iceberg, which needed field-id mapping);
- identity ``partitionColumns`` with spec-compliant string-encoded
  ``partitionValues`` (null = JSON null);
- per-file ``stats`` JSON (``numRecords`` written and consumed);
- Parquet checkpoints: ``_last_checkpoint`` discovery, checkpoint
  replay + incremental JSON commits after it, and checkpoint WRITING
  (one row per action, the struct-per-action-type layout the spec
  defines);
- version-pinned reads (time travel: replay 0..version).

Deletion vectors: INLINE vectors (``storageType`` "i" — Z85-encoded
RoaringBitmapArray in the add action itself) are decoded and APPLIED:
the batch reader and the importer materialize live rows minus the
vector's positions. File-based vectors ('u'/'p') are refused loudly —
their container framing (version byte + per-DV checksums) is not
implemented, and guessing would resurrect or lose rows silently.

Also refused loudly (not silently misread):
- ``minReaderVersion`` > 1 unless every listed ``readerFeatures`` is in
  the supported set (per the spec's capability negotiation rule).

Scale notes: the log is O(commits + files) metadata, never data; replay
is a driver-side dict fold exactly like Delta's own Snapshot
construction, and import registers data files metadata-only into
metacat (no rewrite — the same posture as ImportParquetFolders.java:
49-50's metadata-only Iceberg registration, re-expressed for Delta).
Checkpoint reading keeps log replay O(tail) instead of O(history).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

_LOG_DIR = "_delta_log"
_SUPPORTED_READER_FEATURES = {
    # features whose on-disk effect this reader actually handles
    "timestampNtz",  # plain timestamp columns in schemaString
    "v2Checkpoint",  # we read classic checkpoints; v2 tables also keep them
    # inline vectors are decoded and applied; file-based vectors still
    # refuse per-add inside _decode_dv_descriptor
    "deletionVectors",
    # 'name'/'id' mode: parquet stores physical names, the reader maps
    # them back to logical ones (column_mapping helpers below)
    "columnMapping",
}


def _version_name(v: int) -> str:
    return f"{v:020d}.json"


def _commit_path(location: str, v: int) -> str:
    return os.path.join(location, _LOG_DIR, _version_name(v))


def write_commit(location: str, actions: list[dict], version: int | None = None) -> int:
    """Append one commit (newline-delimited JSON actions) as the next —
    or the given — log version. Atomic via write-temp + rename; refuses
    to overwrite an existing version (Delta's optimistic-concurrency
    put-if-absent contract). Tables configured ``delta.appendOnly=true``
    refuse any remove with ``dataChange`` (deletes/overwrites) at this
    choke point — layout-only removes (OPTIMIZE's dataChange=false)
    stay legal, matching the protocol's enforcement rule."""
    log_dir = os.path.join(location, _LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    if version is None:
        version = latest_version(location) + 1
    if version > 0 and any(
        "remove" in a and a["remove"].get("dataChange", True) for a in actions
    ):
        # only replay when the commit actually needs the check; the new
        # commit itself may flip the flag, so read the PRIOR state
        conf = (
            read_delta_table(location, version - 1).metadata.get("configuration")
            or {}
        )
        if str(conf.get("delta.appendOnly", "false")).lower() == "true":
            raise PermissionError(
                "delta.appendOnly=true: this table refuses data-changing "
                "removes (deletes/overwrites); layout-only maintenance "
                "(OPTIMIZE) is still allowed"
            )
    dest = _commit_path(location, version)
    if os.path.exists(dest):
        raise FileExistsError(
            f"delta log version {version} already exists at {dest} "
            "(concurrent writer? retry against the new latest version)"
        )
    tmp = dest + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        for a in actions:
            fh.write(json.dumps(a, separators=(",", ":")) + "\n")
    os.replace(tmp, dest)
    return version


def latest_version(location: str) -> int:
    """Highest committed version, or -1 for an empty/absent log."""
    log_dir = os.path.join(location, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return -1
    best = -1
    for n in os.listdir(log_dir):
        if n.endswith(".json") and n[:20].isdigit() and len(n) == 25:
            best = max(best, int(n[:20]))
    return best


@dataclass
class DeltaTableState:
    location: str
    version: int
    schema: T.StructType
    partition_columns: list[str]
    # path -> add action dict (live files after replay)
    files: dict[str, dict] = field(default_factory=dict)
    metadata: dict = field(default_factory=dict)
    protocol: dict = field(default_factory=dict)
    # app transaction watermarks (txn actions): appId -> version — the
    # spec's idempotent-writer mechanism (streaming exactly-once)
    txns: dict = field(default_factory=dict)


def _check_protocol(protocol: dict) -> None:
    r = int(protocol.get("minReaderVersion", 1))
    if r <= 1:
        return
    feats = set(protocol.get("readerFeatures") or [])
    if r == 2:
        # reader v2 = column mapping; refuse unless explicitly 'none'
        feats = feats or {"columnMapping"}
    unsupported = feats - _SUPPORTED_READER_FEATURES
    if unsupported:
        raise NotImplementedError(
            f"delta table requires reader features {sorted(unsupported)} "
            f"(minReaderVersion={r}); this reader implements the v1 "
            "envelope + timestampNtz — refusing rather than misreading"
        )


def _apply_action(state: DeltaTableState, a: dict) -> None:
    if "protocol" in a:
        _check_protocol(a["protocol"])
        state.protocol = a["protocol"]
    elif "metaData" in a:
        md = a["metaData"]
        fmt = (md.get("format") or {}).get("provider", "parquet")
        if fmt.lower() != "parquet":
            raise NotImplementedError(f"delta data format {fmt!r} (parquet only)")
        state.metadata = md
        state.schema = T.StructType.fromJson(json.loads(md["schemaString"]))
        state.partition_columns = list(md.get("partitionColumns") or [])
    elif "add" in a:
        add = a["add"]
        if add.get("deletionVector"):
            # validate NOW so a bad/unsupported descriptor fails at
            # replay, loudly — inline ('i') decodes fully, file-based
            # ('u'/'p') checks existence only (decode is deferred to the
            # apply sites: replay must stay O(log), not O(deleted rows))
            _validate_dv_descriptor(add["deletionVector"], state.location)
        state.files[add["path"]] = add
    elif "remove" in a:
        state.files.pop(a["remove"]["path"], None)
    elif "txn" in a:
        t = a["txn"]
        if t.get("appId") is not None and t.get("version") is not None:
            state.txns[str(t["appId"])] = int(t["version"])
    # commitInfo / cdc / domainMetadata: informational for replay


def read_delta_table(location: str, version: int | None = None) -> DeltaTableState:
    """Replay the log into a snapshot state. ``version=None`` reads the
    latest; an explicit version is a time-travel read (replay 0..v).
    Uses ``_last_checkpoint`` + the checkpoint parquet when present and
    compatible with the requested version (replay = checkpoint rows +
    JSON commits after it — O(tail), the spec's intended read path)."""
    last = latest_version(location)
    if last < 0:
        raise FileNotFoundError(f"no {_LOG_DIR} under {location}")
    target = last if version is None else int(version)
    if target > last or target < 0:
        raise ValueError(f"version {target} out of range [0, {last}]")

    state = DeltaTableState(
        location=location,
        version=target,
        schema=T.StructType([]),
        partition_columns=[],
    )
    start = 0
    ckpt = _read_last_checkpoint(location)
    if ckpt is not None and ckpt["version"] <= target:
        _replay_checkpoint(state, location, ckpt["version"])
        start = ckpt["version"] + 1
    for v in range(start, target + 1):
        p = _commit_path(location, v)
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"missing delta log version {v} ({p}); log is not contiguous"
            )
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    _apply_action(state, json.loads(line))
    if not state.metadata:
        raise ValueError(f"no metaData action in delta log at {location}")
    return state


# --- checkpointing ------------------------------------------------------


def _read_last_checkpoint(location: str) -> dict | None:
    p = os.path.join(location, _LOG_DIR, "_last_checkpoint")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _replay_checkpoint(state: DeltaTableState, location: str, version: int) -> None:
    import pyarrow.parquet as pq

    p = os.path.join(location, _LOG_DIR, f"{version:020d}.checkpoint.parquet")
    tbl = pq.read_table(p)
    rows = tbl.to_pylist()
    # spec ordering: protocol/metaData first is NOT guaranteed in a
    # checkpoint; actions are a set — apply protocol/metaData before
    # file actions so schema exists when files land
    for key in ("protocol", "metaData", "txn", "add", "remove"):
        for r in rows:
            a = r.get(key)
            if a is not None:
                _apply_action(state, {key: _strip_nulls(a)})


def _strip_nulls(d: dict) -> dict:
    return {
        k: (_strip_nulls(v) if isinstance(v, dict) else v)
        for k, v in d.items()
        if v is not None
    }


def write_checkpoint(location: str, version: int | None = None) -> str:
    """Compact the log at ``version`` (default: latest) into a classic
    single-file parquet checkpoint + ``_last_checkpoint`` pointer —
    one row per action, one struct column per action type (the spec's
    checkpoint schema). Subsequent reads replay from here."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = read_delta_table(location, version)
    rows: list[dict] = [
        {"protocol": state.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": state.metadata},
    ]
    rows.extend(
        {"txn": {"appId": app, "version": v}} for app, v in sorted(state.txns.items())
    )
    rows.extend({"add": add} for add in state.files.values())
    cols: dict[str, list] = {
        k: [r.get(k) for r in rows] for k in ("protocol", "metaData", "txn", "add")
    }
    tbl = pa.table(
        {
            "protocol": pa.array(
                cols["protocol"],
                pa.struct(
                    [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
                ),
            ),
            "txn": pa.array(
                cols["txn"],
                pa.struct([("appId", pa.string()), ("version", pa.int64())]),
            ),
            "metaData": pa.array(
                cols["metaData"],
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            "add": pa.array(
                cols["add"],
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        # the spec's checkpoint add schema CARRIES the DV
                        # descriptor — dropping it here would silently
                        # resurrect deleted rows on every checkpoint-based
                        # replay (caught live in round 7)
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
        }
    )
    p = os.path.join(location, _LOG_DIR, f"{state.version:020d}.checkpoint.parquet")
    pq.write_table(tbl, p)
    with open(os.path.join(location, _LOG_DIR, "_last_checkpoint"), "w") as fh:
        json.dump({"version": state.version, "size": len(rows)}, fh)
    return p


# --- export / import against metacat ------------------------------------


def export_delta_table(table, dest: str) -> int:
    """Mirror a metacat Table's current snapshot as a Delta table at
    ``dest`` (metadata-only: add actions point at the original parquet,
    exactly like the Iceberg exporter). Returns the committed version.
    Version 0 carries protocol+metaData+adds; later calls are
    INCREMENTAL: the new commit holds only the delta vs the previous
    replayed state — adds for files that appeared, removes for files
    that vanished (O(changed files) per commit, so a daily re-export of
    a 100 TB table writes a commit sized to the day's churn, and
    downstream Delta readers tailing the log see exactly the change
    set). An unchanged snapshot commits nothing and returns the current
    version."""
    snap = table.current_snapshot
    if snap is not None and table._resolve_deletes(snap):
        raise ValueError(
            "unresolved merge-on-read delete entries; run "
            "rewrite_data_files() before export — Delta encodes row-level "
            "deletes as deletion vectors, which this writer does not emit"
        )
    files = [] if snap is None else table.snapshot_files(snap["snapshot_id"])
    # identity transforms only (Delta partition columns ARE data columns;
    # bucket/truncate/date transforms have no Delta encoding) — the same
    # scope bound as the Iceberg exporter's _identity_spec
    from iceberg_metadata_pipeline_spark.catalog.partitioning import parse_transform

    ident = [
        pf
        for pf in (table.default_spec or [])
        if parse_transform(pf.transform)[0] == "identity"
    ]
    part_cols = [pf.source for pf in ident]
    now = int(time.time() * 1000)
    actions: list[dict] = []
    prev = latest_version(dest)
    prev_paths: set[str] = set()
    if prev < 0:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(table.schema.jsonValue()),
                    "partitionColumns": part_cols,
                    "configuration": {},
                    "createdTime": now,
                }
            }
        )
    else:
        prev_paths = set(read_delta_table(dest).files)
    cur = {os.path.abspath(f.path): f for f in files}
    actions.extend(
        {"remove": {"path": p, "deletionTimestamp": now, "dataChange": True}}
        for p in sorted(prev_paths - set(cur))
    )
    for path in sorted(set(cur) - prev_paths):
        f = cur[path]
        actions.append(
            {
                "add": {
                    "path": path,
                    # keyed by COLUMN name (Delta spec); metacat keys its
                    # partition tuple by partition-field name, which for
                    # identity transforms equals the source column
                    "partitionValues": {
                        pf.source: (f.partition or {}).get(pf.name)
                        for pf in ident
                    },
                    "size": int(f.file_size_bytes),
                    "modificationTime": now,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": int(f.record_count)}),
                }
            }
        )
    if prev >= 0 and len(actions) == 0:
        return prev  # snapshot unchanged — nothing to commit
    actions.append(
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "WRITE",
                "operationParameters": {},
            }
        }
    )
    return write_commit(dest, actions)


def optimize_delta(
    spark: SparkSession,
    location: str,
    target_file_rows: int = 1_000_000,
    small_file_rows: int | None = None,
    order_by: list[str] | None = None,
) -> int:
    """OPTIMIZE: bin-pack small files into ~``target_file_rows`` files
    and FOLD DELETION VECTORS IN — the rewrite materializes each
    victim's live rows, so the new files carry no DV (this is the
    operation real Delta users run to shed accumulated vectors; our old
    'u'-refusal error message used to point at it). One atomic commit:
    removes for every rewritten file + adds for the packed output, all
    with ``dataChange=false``-equivalent semantics per the spec —
    OPTIMIZE must not change the table's rows, asserted here by exact
    row-count accounting. ``order_by`` optionally sorts rows inside the
    rewrite (single-dimension clustering; pair it with a computed
    interleave column for Z-order-style multi-column locality).

    Files selected: any file smaller than ``small_file_rows`` (default
    target/2) OR carrying a deletion vector. Partitioned tables pack
    within a partition only (the spec's OPTIMIZE unit). Returns the
    commit version, or the current version if nothing qualifies."""
    import time as _time

    from pyspark.sql import functions as F

    state = read_delta_table(location)
    if small_file_rows is None:
        small_file_rows = target_file_rows // 2

    def _rows_of(add: dict) -> int:
        stats = add.get("stats")
        if stats and json.loads(stats).get("numRecords") is not None:
            return int(json.loads(stats)["numRecords"])
        import pyarrow.parquet as pq

        p = add["path"]
        return pq.read_metadata(
            p if os.path.isabs(p) else os.path.join(location, p)
        ).num_rows

    by_part: dict[tuple, list[str]] = {}
    for p, a in state.files.items():
        dead = 0
        if a.get("deletionVector"):
            dead = int(a["deletionVector"].get("cardinality") or 0)
        if a.get("deletionVector") or _rows_of(a) - dead < small_file_rows:
            pv = tuple(sorted((a.get("partitionValues") or {}).items()))
            by_part.setdefault(pv, []).append(p)
    victims = {p for ps in by_part.values() for p in ps if len(ps) > 1 or
               state.files[p].get("deletionVector")}
    if not victims:
        return state.version

    idmode = column_mapping_mode(state) == "id"
    saved_write_conf: str | None = None
    if idmode:
        # packed files must stay id-resolvable: write under the metadata
        # physicalNames AND stamp parquet.field.id on every column
        # (Spark's writer emits PARQUET:field_id from alias metadata).
        # The write is EAGER (every action completes inside this call),
        # so the conf change is scoped: saved here, restored in the
        # finally below — optimize never leaks write semantics into a
        # session it does not own.
        ids = column_mapping_ids(state)
        _WRITE_KEY = "spark.sql.parquet.fieldId.write.enabled"
        saved_write_conf = spark.conf.get(_WRITE_KEY, None)
        spark.conf.set(_WRITE_KEY, "true")
    phys = physical_names_meta(state) if idmode else physical_names(state)
    pcols = set(state.partition_columns)
    file_fields = [f for f in state.schema.fields if f.name not in pcols]
    out_dir = os.path.join(location, "optimized")
    os.makedirs(out_dir, exist_ok=True)
    now = int(_time.time() * 1000)
    actions: list[dict] = []
    n_before = 0
    n_after = 0
    try:
        for pv, paths in sorted(by_part.items()):
            group = [p for p in paths if p in victims]
            if not group:
                continue
            sub = DeltaTableState(
                location=state.location,
                version=state.version,
                schema=state.schema,
                partition_columns=state.partition_columns,
                files={p: state.files[p] for p in group},
                metadata=state.metadata,
                protocol=state.protocol,
            )
            live = _live_rows_dataframe(spark, sub).select(
                # logical → PHYSICAL, recursively: packed files must store
                # the same (nested) parquet names as the files they replace;
                # id mode additionally stamps the field id via alias metadata
                *[
                    rename_expr(
                        F.col(f.name), f.dataType, physical_type(f.dataType)
                    ).alias(
                        phys[f.name],
                        metadata={"parquet.field.id": ids[f.name]} if idmode else None,
                    )
                    for f in file_fields
                ]
            )
            if idmode and any(
                _has_nested_mapping(f.dataType) for f in file_fields
            ):
                # nested ids can't ride on an alias (metadata is
                # top-level only) — reconcile to a physical-named schema
                # whose NESTED fields carry parquet.field.id, so the
                # fieldId write stamps every level (round 10)
                live = live.to(
                    T.StructType(
                        [
                            T.StructField(
                                phys[f.name],
                                idmode_io_type(f.dataType, physical=True),
                                True,  # IO schema; .to() refuses n→req
                                {"parquet.field.id": ids[f.name]},
                            )
                            for f in file_fields
                        ]
                    )
                )
            rows = live.count()
            n_before += rows
            n_files = max(1, -(-rows // target_file_rows))
            import hashlib as _hashlib

            tag = f"{now}-{_hashlib.md5(repr(pv).encode()).hexdigest()[:8]}"
            dest = os.path.join(out_dir, f"pack-{tag}")
            if order_by and len(order_by) > 1:
                # OPTIMIZE ... ZORDER BY (a, b[, c]): cluster on the
                # bit-interleaved curve value (metacat's _zvalue_column — JVM
                # bitwise expressions in whole-stage codegen, no UDF), so
                # file min/max ranges prune on EVERY named column, matching
                # real Delta's multi-column ZORDER
                from iceberg_metadata_pipeline_spark.catalog.metacat import (
                    _zvalue_column,
                )

                zcols = [phys.get(c, c) for c in order_by]
                live = (
                    live.withColumn("__z", _zvalue_column(live, zcols))
                    .repartitionByRange(n_files, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            elif order_by:
                # single column: plain range clustering (a 1-D z-curve IS the
                # sort order) — global clustering without a single-task sort
                key = phys.get(order_by[0], order_by[0])
                live = live.repartitionByRange(n_files, key).sortWithinPartitions(key)
            else:
                live = live.repartition(n_files)
            live.write.mode("overwrite").parquet(dest)
            for p in group:
                rm: dict = {
                    "path": p,
                    "deletionTimestamp": now,
                    "dataChange": False,
                }
                if state.files[p].get("deletionVector"):
                    rm["deletionVector"] = state.files[p]["deletionVector"]
                actions.append({"remove": rm})
            import glob as _glob

            for fp in sorted(_glob.glob(os.path.join(dest, "*.parquet"))):
                import pyarrow.parquet as pq

                nrec = pq.read_metadata(fp).num_rows
                if nrec == 0:
                    os.remove(fp)
                    continue
                n_after += nrec
                actions.append(
                    {
                        "add": {
                            # relative to the table root: vacuum's referenced-set
                            # keys on relative paths, and absolute paths read as
                            # "external" — recording fp verbatim made the packed
                            # output a VACUUM victim (permanent data loss on the
                            # standard OPTIMIZE-then-VACUUM sequence)
                            "path": os.path.relpath(fp, location),
                            "partitionValues": dict(pv),
                            "size": os.path.getsize(fp),
                            "modificationTime": now,
                            "dataChange": False,
                            "stats": json.dumps({"numRecords": int(nrec)}),
                        }
                    }
                )
    finally:
        if idmode:
            if saved_write_conf is None:
                spark.conf.unset(_WRITE_KEY)
            else:
                spark.conf.set(_WRITE_KEY, saved_write_conf)
    if n_after != n_before:
        raise RuntimeError(
            f"OPTIMIZE row-count mismatch: {n_before} live rows in, "
            f"{n_after} packed out — refusing to commit"
        )
    actions.append(
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "OPTIMIZE",
                "operationParameters": {
                    "targetFileRows": target_file_rows,
                    "zOrderBy": order_by or [],
                },
            }
        }
    )
    return write_commit(location, actions)


def restore_delta(
    location: str, version: int, ignore_missing_files: bool = False
) -> int:
    """RESTORE TABLE ... TO VERSION AS OF: one commit that removes the
    files the target version doesn't have and re-adds the ones it does
    — history is preserved (restore is itself a new version; time
    travel to the un-restored state keeps working), which is exactly
    how the spec's RESTORE differs from rolling the log back.

    Like real Delta, the RESTORE itself fails if any re-added data file
    (or its file-based DV sidecar) was already VACUUMed away — a restore
    that commits then fails every read is worse than one that refuses —
    unless ``ignore_missing_files=True`` (the spec's
    ``spark.sql.files.ignoreMissingFiles`` escape hatch), which restores
    only the surviving files."""
    import time as _time

    cur = read_delta_table(location)
    old = read_delta_table(location, version)
    missing: list[str] = []
    survivors: set[str] = set()
    for p, a in old.files.items():
        fp = p if os.path.isabs(p) else os.path.join(location, p)
        ok = os.path.exists(fp)
        dv = a.get("deletionVector")
        if ok and dv and dv.get("storageType") in ("u", "p"):
            ok = os.path.exists(dv_file_path(location, dv))
        if ok:
            survivors.add(p)
        else:
            missing.append(p)
    if missing and not ignore_missing_files:
        raise FileNotFoundError(
            f"RESTORE to version {version} references "
            f"{len(missing)} data/DV file(s) removed by VACUUM: "
            f"{sorted(missing)[:5]}... — pass ignore_missing_files=True "
            "to restore only the surviving files"
        )
    now = int(_time.time() * 1000)
    actions: list[dict] = []
    for p, a in sorted(cur.files.items()):
        if p not in old.files or old.files[p] != a:
            rm: dict = {"path": p, "deletionTimestamp": now, "dataChange": True}
            if a.get("deletionVector"):
                rm["deletionVector"] = a["deletionVector"]
            actions.append({"remove": rm})
    for p, a in sorted(old.files.items()):
        if p in survivors and cur.files.get(p) != a:
            actions.append({"add": a})
    if old.metadata != cur.metadata:
        actions.append({"metaData": old.metadata})
    if not actions:
        return cur.version  # already at the target state
    actions.append(
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "RESTORE",
                "operationParameters": {"version": version},
            }
        }
    )
    return write_commit(location, actions)


def clone_delta(location: str, dest: str, version: int | None = None) -> int:
    """SHALLOW CLONE: a new table whose v0 commit references the SOURCE
    table's data files (absolute paths — zero bytes copied). Writes to
    the clone never touch the source's log; vacuuming the clone never
    deletes source files (they are external/absolute, which
    vacuum_delta already refuses to touch). DV descriptors are
    rewritten to storageType 'p' absolute paths so the clone resolves
    them without the source's table root.

    Documented hazard (real Delta shares it): the SOURCE's vacuum does
    not know about clones — if the source rewrites files (OPTIMIZE /
    overwrite) and then vacuums past its retained history, files the
    clone still references can disappear. Deep-copy (import + re-export)
    a clone that must outlive its source's maintenance."""
    import time as _time

    state = read_delta_table(location, version)
    if os.path.exists(os.path.join(dest, _LOG_DIR)):
        raise FileExistsError(f"{dest} already has a delta log")
    now = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "protocol": state.protocol
            or {"minReaderVersion": 1, "minWriterVersion": 2}
        },
        {"metaData": state.metadata},
    ]
    for p, a in sorted(state.files.items()):
        a = dict(a)
        if not os.path.isabs(p):
            a["path"] = os.path.join(location, p)
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            a["deletionVector"] = dict(
                dv,
                storageType="p",
                pathOrInlineDv=dv_file_path(location, dv),
            )
        actions.append({"add": a})
    actions.append(
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "CLONE",
                "operationParameters": {
                    "source": location,
                    "sourceVersion": state.version,
                },
            }
        }
    )
    return write_commit(dest, actions)


def import_delta_table(
    spark: SparkSession, catalog, location: str, namespace: str, name: str,
    version: int | None = None,
):
    """Register a Delta table's live files into a metacat table
    (metadata-only). Record counts come from each add's ``stats``
    (numRecords); files without stats fall back to one parquet-footer
    read (O(files) metadata IO, never data).

    A snapshot carrying (inline) deletion vectors takes the
    MATERIALIZING path instead: live rows = file rows minus each
    vector's positions, computed distributed via ``_metadata.row_index``
    and written fresh — registering the raw files would resurrect the
    deleted rows. A column-mapping table whose physical names diverge
    from the logical schema (any rename, top-level or nested) also
    materializes: metacat scans parquet by LOGICAL name, so registering
    the raw physical-named files would silently read nulls."""
    from iceberg_metadata_pipeline_spark.catalog.metacat import DataFileEntry

    state = read_delta_table(location, version)
    # id mode always materializes: parquet names are arbitrary under the
    # protocol (resolution is by field id), so raw registration can never
    # be proven safe from the log alone
    renamed = column_mapping_mode(state) == "id" or (
        column_mapping_mode(state) != "none"
        and any(
            physical_names(state)[f.name] != f.name
            or physical_type(f.dataType) != _strip_field_metadata(f.dataType)
            for f in state.schema.fields
        )
    )
    if renamed or any(a.get("deletionVector") for a in state.files.values()):
        t = catalog.create_table(namespace, name, state.schema).refresh()
        if state.partition_columns:
            from iceberg_metadata_pipeline_spark.catalog.partitioning import (
                PartitionField,
            )

            t.set_partition_spec(
                [PartitionField(c, "identity", c) for c in state.partition_columns]
            )
            t = t.refresh()
        t.append_dataframe(_live_rows_dataframe(spark, state))
        return t.refresh()
    entries = []
    for path, add in state.files.items():
        if not os.path.isabs(path):
            path = os.path.join(location, path)
        n_records = None
        stats = add.get("stats")
        if stats:
            n_records = json.loads(stats).get("numRecords")
        if n_records is None:
            import pyarrow.parquet as pq

            n_records = pq.read_metadata(path).num_rows
        part = {
            k: v
            for k, v in (add.get("partitionValues") or {}).items()
            if v is not None
        }
        entries.append(
            DataFileEntry(
                path=path,
                record_count=int(n_records),
                file_size_bytes=int(add.get("size") or os.path.getsize(path)),
                format="PARQUET",
                partition=part,
            )
        )
    t = catalog.create_table(namespace, name, state.schema).refresh()
    if state.partition_columns:
        # re-declare the identity spec so partition pruning survives the
        # import (same as the Iceberg importer)
        from iceberg_metadata_pipeline_spark.catalog.partitioning import (
            PartitionField,
        )

        spec_id = t.set_partition_spec(
            [PartitionField(c, "identity", c) for c in state.partition_columns]
        )
        for e in entries:
            if e.partition:
                e.spec_id = spec_id
    t.append_files(entries, dedupe=False)
    return t.refresh()


# ---------------------------------------------------------------------------
# deletion vectors — inline ("i") storage only; see _check for the bound
# ---------------------------------------------------------------------------

# Z85 (ZeroMQ spec 32/Z85): 4 bytes → 5 chars; Delta uses it for inline
# DV payloads and path codecs
_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ".-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DECODE = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_ALPHABET[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 input must be a multiple of 5 chars")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            if c not in _Z85_DECODE:
                raise ValueError(f"invalid z85 character {c!r}")
            v = v * 85 + _Z85_DECODE[c]
        out += v.to_bytes(4, "big")
    return bytes(out)


# Delta's RoaringBitmapArray "portable" serialization: 4-byte LE magic
# then the 64-bit portable roaring body (8-byte LE bucket count, per
# bucket a 4-byte LE key + standard 32-bit portable roaring) — i.e. the
# RoaringFormatSpec 64-bit extension behind Delta's own magic number.
_DELTA_DV_MAGIC = 1681511377


def encode_delta_dv(positions: list[int]) -> bytes:
    import struct as _struct

    from iceberg_metadata_pipeline_spark.catalog import roaring

    return _struct.pack("<i", _DELTA_DV_MAGIC) + roaring.serialize64(
        sorted(set(positions))
    )


def decode_delta_dv(data: bytes) -> list[int]:
    import struct as _struct

    from iceberg_metadata_pipeline_spark.catalog import roaring

    (magic,) = _struct.unpack_from("<i", data, 0)
    if magic != _DELTA_DV_MAGIC:
        raise ValueError(
            f"deletion vector magic {magic} != {_DELTA_DV_MAGIC} "
            "(not RoaringBitmapArray portable)"
        )
    return roaring.deserialize64(data[4:])


# --- deletion vector FILES ('u'/'p' storage, PROTOCOL.md "Deletion
# Vector Format") ---------------------------------------------------------
#
# On-disk container: a 1-byte format version (1) at offset 0, then each
# vector stored as [4-byte big-endian size][bitmap data][4-byte
# big-endian CRC-32 of the data]. A descriptor's ``offset`` points at
# the size field; ``sizeInBytes`` is the data length (size field and
# checksum excluded). storageType 'u': ``pathOrInlineDv`` is
# ``<optional random prefix><20-char z85 uuid>`` (the uuid is ALWAYS
# the last 20 characters) and the file lives at
# ``<table>/<prefix>/deletion_vector_<canonical uuid>.bin``;
# storageType 'p' carries the path itself.

_DV_FILE_FORMAT_VERSION = 1


def _dv_uuid_split(path_or_inline: str) -> tuple[str, str]:
    import uuid as _uuid

    if len(path_or_inline) < 20:
        raise ValueError(
            f"'u' pathOrInlineDv {path_or_inline!r} shorter than the "
            "20-char z85 uuid it must end with"
        )
    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    return prefix, str(_uuid.UUID(bytes=z85_decode(enc)))


def dv_file_path(location: str, dv: dict) -> str:
    """Resolve a file-based descriptor to the DV file's absolute path."""
    st = dv.get("storageType")
    if st == "p":
        p = dv["pathOrInlineDv"]
        return p if os.path.isabs(p) else os.path.join(location, p)
    if st == "u":
        prefix, u = _dv_uuid_split(dv["pathOrInlineDv"])
        name = f"deletion_vector_{u}.bin"
        return os.path.join(location, prefix, name) if prefix else os.path.join(
            location, name
        )
    raise ValueError(f"not a file-based DV descriptor (storageType {st!r})")


def write_dv_file(
    location: str, vectors: list[list[int]], prefix: str = ""
) -> list[dict]:
    """Write ONE deletion-vector file holding every vector in
    ``vectors`` and return one 'u' descriptor per vector (offsets into
    the shared file — the layout real Delta writers produce when a
    DELETE touches several data files in one commit)."""
    import struct as _struct
    import uuid as _uuid
    import zlib as _zlib

    u = _uuid.uuid4()
    dirp = os.path.join(location, prefix) if prefix else location
    os.makedirs(dirp, exist_ok=True)
    path = os.path.join(dirp, f"deletion_vector_{u}.bin")
    descs: list[dict] = []
    with open(path, "wb") as fh:
        fh.write(bytes([_DV_FILE_FORMAT_VERSION]))
        off = 1
        for positions in vectors:
            uniq = sorted(set(int(p) for p in positions))
            data = encode_delta_dv(uniq)
            fh.write(_struct.pack(">i", len(data)))
            fh.write(data)
            fh.write(_struct.pack(">I", _zlib.crc32(data) & 0xFFFFFFFF))
            descs.append(
                {
                    "storageType": "u",
                    "pathOrInlineDv": prefix + z85_encode(u.bytes),
                    "offset": off,
                    "sizeInBytes": len(data),
                    "cardinality": len(uniq),
                }
            )
            off += 4 + len(data) + 4
    return descs


def read_dv_from_file(
    path: str, offset: int, size_expected: int | None = None
) -> list[int]:
    """Read + verify one vector from a DV file: version byte, length
    prefix vs descriptor sizeInBytes, CRC-32 — every mismatch is a
    loud error, never a silent short read."""
    import struct as _struct
    import zlib as _zlib

    with open(path, "rb") as fh:
        ver = fh.read(1)
        if not ver or ver[0] != _DV_FILE_FORMAT_VERSION:
            raise ValueError(
                f"{path}: DV file format version "
                f"{ver[0] if ver else '<empty>'} (expected "
                f"{_DV_FILE_FORMAT_VERSION})"
            )
        fh.seek(offset)
        (size,) = _struct.unpack(">i", fh.read(4))
        if size_expected is not None and size != int(size_expected):
            raise ValueError(
                f"{path}@{offset}: stored DV size {size} != descriptor "
                f"sizeInBytes {size_expected}"
            )
        data = fh.read(size)
        if len(data) != size:
            raise ValueError(f"{path}@{offset}: truncated DV data")
        (crc,) = _struct.unpack(">I", fh.read(4))
        if _zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"{path}@{offset}: DV checksum mismatch")
    return decode_delta_dv(data)


def _decode_dv_descriptor(dv: dict, location: str | None = None) -> list[int]:
    """An add action's deletionVector descriptor → row positions.
    Inline ('i') vectors decode from the action itself; file-based
    ('u'/'p') vectors resolve against the table location and decode
    from the DV file container. Unknown storage types refuse loudly."""
    st = dv.get("storageType")
    if st in ("u", "p"):
        if location is None:
            raise ValueError(
                f"storageType {st!r} needs the table location to resolve "
                "the DV file"
            )
        positions = read_dv_from_file(
            dv_file_path(location, dv),
            int(dv["offset"]),
            dv.get("sizeInBytes"),
        )
    elif st == "i":
        raw = z85_decode(dv["pathOrInlineDv"])
        # Z85 works in 4-byte blocks, so encoders zero-pad and record the
        # true length in sizeInBytes (Delta's Base85Codec.decodeBytes takes
        # an outputLength and truncates — same contract here)
        size = dv.get("sizeInBytes")
        if size is not None:
            if not len(raw) - 3 <= int(size) <= len(raw):
                raise ValueError(
                    f"inline DV sizeInBytes={size} inconsistent with "
                    f"{len(raw)} decoded bytes"
                )
            raw = raw[: int(size)]
        positions = decode_delta_dv(raw)
    else:
        raise NotImplementedError(
            f"deletion vector storageType {st!r}: this reader implements "
            "inline ('i') and file-based ('u'/'p') vectors per PROTOCOL.md"
        )
    card = dv.get("cardinality")
    if card is not None and int(card) != len(positions):
        raise ValueError(
            f"DV cardinality={card} but vector holds {len(positions)}"
        )
    return positions


def _validate_dv_descriptor(dv: dict, location: str | None) -> None:
    """Replay-time check: inline vectors decode fully (they are already
    in memory); file-based vectors verify the file exists without
    decoding — a snapshot with millions of deleted rows must not pay
    O(deleted rows) driver IO just to REPLAY the log. Full decode +
    CRC happens where the vector is applied."""
    st = dv.get("storageType")
    if st == "i":
        _decode_dv_descriptor(dv)
        return
    if st in ("u", "p"):
        if location is not None:
            p = dv_file_path(location, dv)
            if not os.path.exists(p):
                raise FileNotFoundError(
                    f"deletion vector file {p} referenced by the log is "
                    "missing (vacuum raced a reader, or the descriptor is "
                    "corrupt)"
                )
        return
    raise NotImplementedError(
        f"deletion vector storageType {st!r}: this reader implements "
        "inline ('i') and file-based ('u'/'p') vectors per PROTOCOL.md"
    )


def attach_inline_dv(location: str, data_file: str, positions: list[int]) -> int:
    """Commit a row-level delete the Delta way: remove the file's old
    add, re-add it with an inline deletion vector (one atomic commit —
    readers either see the file undeleted or with the vector, never a
    torn state). Positions accumulate across calls (the new vector
    holds the union)."""
    import time as _time

    state = read_delta_table(location)
    key = next(
        (p for p in state.files if p == data_file or os.path.basename(p) == data_file),
        None,
    )
    if key is None:
        raise FileNotFoundError(f"{data_file} is not a live file of {location}")
    add = dict(state.files[key])
    existing = (
        _decode_dv_descriptor(add["deletionVector"], location)
        if add.get("deletionVector")
        else []
    )
    merged = sorted(set(existing) | set(int(p) for p in positions))
    raw = encode_delta_dv(merged)
    padded = raw + b"\x00" * (-len(raw) % 4)  # Z85 needs 4-byte blocks
    add["deletionVector"] = {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(padded),
        "sizeInBytes": len(raw),
        "cardinality": len(merged),
    }
    now = int(_time.time() * 1000)
    # the remove RE-STATES the replaced file version's descriptor (spec:
    # remove carries deletionVector) — that is what lets CDF derive the
    # newly-deleted positions as new DV minus old DV
    remove: dict = {"path": key, "deletionTimestamp": now, "dataChange": True}
    if state.files[key].get("deletionVector"):
        remove["deletionVector"] = state.files[key]["deletionVector"]
    return write_commit(
        location,
        [
            {"remove": remove},
            {"add": add},
            {"commitInfo": {"timestamp": now, "operation": "DELETE"}},
        ],
    )


def attach_file_dvs(
    location: str, deletes: dict[str, list[int]], prefix: str = ""
) -> int:
    """Commit row-level deletes the way real Delta writers default to:
    positions go to ONE on-disk deletion-vector file (storageType 'u'),
    and every touched data file is re-added with its descriptor in a
    single atomic commit. Existing vectors (inline or file-based) union
    in, so deletes accumulate exactly like attach_inline_dv. At scale
    this is the representation that keeps the log small: the commit
    carries descriptors, the positions live in the sidecar file."""
    import time as _time

    state = read_delta_table(location)
    resolved: dict[str, tuple[dict, list[int]]] = {}
    for df_path, positions in deletes.items():
        key = next(
            (
                p
                for p in state.files
                if p == df_path or os.path.basename(p) == df_path
            ),
            None,
        )
        if key is None:
            raise FileNotFoundError(f"{df_path} is not a live file of {location}")
        add = dict(state.files[key])
        existing = (
            _decode_dv_descriptor(add["deletionVector"], location)
            if add.get("deletionVector")
            else []
        )
        merged = sorted(set(existing) | set(int(p) for p in positions))
        resolved[key] = (add, merged)
    keys = sorted(resolved)
    descs = write_dv_file(location, [resolved[k][1] for k in keys], prefix)
    now = int(_time.time() * 1000)
    actions: list[dict] = []
    for k, desc in zip(keys, descs):
        add, _merged = resolved[k]
        remove: dict = {"path": k, "deletionTimestamp": now, "dataChange": True}
        if add.get("deletionVector"):
            # re-state the replaced version's descriptor (spec shape;
            # CDF derives newly-deleted = new DV minus old DV from it)
            remove["deletionVector"] = add["deletionVector"]
        add = dict(add, deletionVector=desc)
        actions.append({"remove": remove})
        actions.append({"add": add})
    actions.append({"commitInfo": {"timestamp": now, "operation": "DELETE"}})
    return write_commit(location, actions)


def column_mapping_mode(state: DeltaTableState) -> str:
    return (state.metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )


def _has_nested_mapping(dtype) -> bool:
    """True if any NESTED field below ``dtype`` carries columnMapping
    metadata (the protocol applies physicalName recursively)."""
    if isinstance(dtype, T.StructType):
        for f in dtype.fields:
            if "delta.columnMapping.physicalName" in (f.metadata or {}):
                return True
            if _has_nested_mapping(f.dataType):
                return True
        return False
    if isinstance(dtype, T.ArrayType):
        return _has_nested_mapping(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _has_nested_mapping(dtype.keyType) or _has_nested_mapping(dtype.valueType)
    return False


def _strip_field_metadata(dtype):
    """Same shape as ``dtype`` with all StructField metadata dropped —
    comparing this against ``physical_type`` answers "does any nested
    field rename?" without a bespoke walker."""
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _strip_field_metadata(f.dataType), f.nullable)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_strip_field_metadata(dtype.elementType), dtype.containsNull)
    if isinstance(dtype, T.MapType):
        return T.MapType(
            _strip_field_metadata(dtype.keyType),
            _strip_field_metadata(dtype.valueType),
            dtype.valueContainsNull,
        )
    return dtype


def physical_type(dtype):
    """The physical twin of a logical type: every StructField renamed to
    its ``delta.columnMapping.physicalName`` (identity when absent),
    RECURSIVELY — arrays and maps descend. Field metadata is dropped on
    the physical side (parquet files carry names, not Delta metadata)."""
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    (f.metadata or {}).get(
                        "delta.columnMapping.physicalName", f.name
                    ),
                    physical_type(f.dataType),
                    f.nullable,
                )
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(physical_type(dtype.elementType), dtype.containsNull)
    if isinstance(dtype, T.MapType):
        return T.MapType(
            physical_type(dtype.keyType),
            physical_type(dtype.valueType),
            dtype.valueContainsNull,
        )
    return dtype


def rename_expr(col, src_type, dst_type):
    """Column expression renaming struct fields POSITIONALLY from
    ``src_type``'s names to ``dst_type``'s names, recursing through
    arrays and maps — logical→physical and physical→logical are the
    same rebuild with the argument order swapped. Identity (no new
    expression) when the two types already agree, so unmapped columns
    stay zero-cost; null structs stay null (a naive F.struct rebuild
    would turn them into structs of nulls)."""
    from pyspark.sql import functions as F

    if _strip_field_metadata(src_type) == _strip_field_metadata(dst_type):
        return col
    if isinstance(src_type, T.StructType):
        built = F.struct(
            *[
                rename_expr(col.getField(sf.name), sf.dataType, df.dataType).alias(
                    df.name
                )
                for sf, df in zip(src_type.fields, dst_type.fields)
            ]
        )
        plain = T.StructType(
            [T.StructField(f.name, f.dataType, f.nullable) for f in dst_type.fields]
        )
        return F.when(col.isNull(), F.lit(None).cast(plain)).otherwise(built)
    if isinstance(src_type, T.ArrayType):
        return F.transform(
            col, lambda x: rename_expr(x, src_type.elementType, dst_type.elementType)
        )
    if isinstance(src_type, T.MapType):
        return F.map_from_arrays(
            F.transform(
                F.map_keys(col),
                lambda k: rename_expr(k, src_type.keyType, dst_type.keyType),
            ),
            F.transform(
                F.map_values(col),
                lambda v: rename_expr(v, src_type.valueType, dst_type.valueType),
            ),
        )
    return col


def to_logical_py(v, ltype):
    """Python-side twin of ``rename_expr`` for the pydelta reader: a
    value decoded by pyarrow under PHYSICAL names (structs arrive as
    dicts keyed by parquet field names) converts to logical shape —
    structs become tuples in logical field order, which the Python
    DataSource maps onto the declared schema."""
    if v is None:
        return None
    if isinstance(ltype, T.StructType):
        ptype = physical_type(ltype)
        return tuple(
            to_logical_py(v.get(pf.name), lf.dataType)
            for lf, pf in zip(ltype.fields, ptype.fields)
        )
    if isinstance(ltype, T.ArrayType):
        return [to_logical_py(x, ltype.elementType) for x in v]
    if isinstance(ltype, T.MapType):
        return {
            to_logical_py(k, ltype.keyType): to_logical_py(x, ltype.valueType)
            for k, x in v.items()
        }
    return v


def _cm_id(f: T.StructField) -> int:
    fid = (f.metadata or {}).get("delta.columnMapping.id")
    if fid is None:
        raise ValueError(
            f"column-mapped field {f.name!r} lacks delta.columnMapping.id "
            "(protocol violation)"
        )
    return int(fid)


def idmode_io_type(dtype, *, physical: bool):
    """Rebuild a (possibly nested) type for id-mode parquet IO (round
    10 — nested id resolution): every struct field carries
    ``{"parquet.field.id": <delta.columnMapping.id>}`` so Spark's
    fieldId read matches — and fieldId write stamps — parquet columns
    BY ID at every nesting level. ``physical=True`` names fields by
    their physicalName (the write shape), ``physical=False`` keeps
    logical names (the read shape: the fieldId read returns requested
    names, so no post-rename is needed)."""
    if isinstance(dtype, T.StructType):
        out = []
        for f in dtype.fields:
            name = (
                (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                if physical
                else f.name
            )
            out.append(
                T.StructField(
                    name,
                    idmode_io_type(f.dataType, physical=physical),
                    # always nullable: this is a parquet IO schema, not
                    # the table contract — DataFrame.to() refuses a
                    # nullable→required reconcile, and file-level
                    # nullability carries no id-mode meaning
                    True,
                    {"parquet.field.id": _cm_id(f)},
                )
            )
        return T.StructType(out)
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(
            idmode_io_type(dtype.elementType, physical=physical),
            dtype.containsNull,
        )
    if isinstance(dtype, T.MapType):
        return T.MapType(
            idmode_io_type(dtype.keyType, physical=physical),
            idmode_io_type(dtype.valueType, physical=physical),
            dtype.valueContainsNull,
        )
    return dtype


def to_logical_by_id(v, ltype, arrow_type):
    """Id-mode twin of ``to_logical_py`` for the pydelta reader (round
    10): a value decoded by pyarrow under THE FILE'S OWN (arbitrary)
    nested names converts to logical shape by matching each logical
    field's ``delta.columnMapping.id`` against the arrow child's
    ``PARQUET:field_id`` — the schema-tree matcher the id-mode spec
    requires. A field id absent from the file decodes as None (column
    added after the file was written)."""
    if v is None:
        return None
    if isinstance(ltype, T.StructType):
        import pyarrow as pa

        by_id = {}
        if arrow_type is not None and pa.types.is_struct(arrow_type):
            for i in range(arrow_type.num_fields):
                af = arrow_type.field(i)
                fid = (af.metadata or {}).get(b"PARQUET:field_id")
                if fid is not None:
                    by_id[int(fid)] = af
        out = []
        for lf in ltype.fields:
            af = by_id.get(_cm_id(lf))
            out.append(
                None
                if af is None
                else to_logical_by_id(v.get(af.name), lf.dataType, af.type)
            )
        return tuple(out)
    if isinstance(ltype, T.ArrayType):
        elem = arrow_type.value_type if arrow_type is not None else None
        return [to_logical_by_id(x, ltype.elementType, elem) for x in v]
    if isinstance(ltype, T.MapType):
        kt = arrow_type.key_type if arrow_type is not None else None
        vt = arrow_type.item_type if arrow_type is not None else None
        return {
            to_logical_by_id(k, ltype.keyType, kt): to_logical_by_id(
                x, ltype.valueType, vt
            )
            for k, x in v.items()
        }
    return v


def physical_names(state: DeltaTableState) -> dict:
    """logical column → the name actually stored in parquet files and
    ``partitionValues`` keys (top level; nested fields map through
    ``physical_type``/``rename_expr``/``to_logical_py``). Identity
    unless column mapping is on (the protocol: each field's metadata
    carries ``delta.columnMapping.physicalName``). 'id' mode — parquet
    field-id resolution — is refused: name resolution would silently
    read wrong columns on id-mode tables."""
    mode = column_mapping_mode(state)
    if mode == "none":
        return {f.name: f.name for f in state.schema.fields}
    if mode == "id":
        raise NotImplementedError(
            "delta.columnMapping.mode='id' resolves parquet columns by "
            "field id — NAME resolution on an id-mode table would silently "
            "read wrong columns; use the id-aware paths "
            "(column_mapping_ids/parquet_field_ids, the pydelta reader, "
            "_live_rows_dataframe), which resolve by field id"
        )
    return physical_names_meta(state)


def physical_names_meta(state: DeltaTableState) -> dict:
    """logical column → metadata ``physicalName`` (identity fallback),
    WITHOUT the 'id'-mode refusal: id-mode tables still carry
    physicalNames and key their ``partitionValues`` by them (the spec
    writes both); only PARQUET column resolution must go through field
    ids. Use this for partitionValues keys and file-write names; use
    ``physical_names`` when about to resolve parquet columns by name."""
    return {
        f.name: (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)
        for f in state.schema.fields
    }


def column_mapping_ids(state: DeltaTableState) -> dict:
    """logical column → ``delta.columnMapping.id`` (top level). Raises
    on a mapped table whose field lacks an id — a protocol violation."""
    out = {}
    for f in state.schema.fields:
        fid = (f.metadata or {}).get("delta.columnMapping.id")
        if fid is None:
            raise ValueError(
                f"column-mapped table but field {f.name!r} has no "
                "delta.columnMapping.id — corrupt metadata"
            )
        out[f.name] = int(fid)
    return out


def parquet_field_ids(path_or_file) -> dict:
    """parquet field id → column name, from the file's arrow schema
    (PARQUET:field_id field metadata). Empty when the file carries no
    ids. Accepts a path (one footer read — O(files) metadata IO where
    used) or an already-open ``pyarrow.parquet.ParquetFile`` so readers
    holding one don't reopen the footer."""
    import pyarrow.parquet as pq

    pf = (
        path_or_file
        if isinstance(path_or_file, pq.ParquetFile)
        else pq.ParquetFile(path_or_file)
    )
    out = {}
    for f in pf.schema_arrow:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            out[int(fid)] = f.name
    return out


def enable_column_mapping(location: str) -> int:
    """Upgrade a table to column-mapping 'name' mode (protocol reader 2 /
    writer 5): every field gets a stable ``delta.columnMapping.id`` and a
    ``physicalName`` pinned to its CURRENT name — the layout already in
    the data files — so existing files stay readable and later renames
    become metadata-only commits. Returns the commit version."""
    state = read_delta_table(location)
    if column_mapping_mode(state) != "none":
        return state.version
    counter = iter(range(1, 1 << 31))

    def _map_type(dtype):
        # the protocol assigns ids/physicalNames RECURSIVELY — nested
        # struct fields are renameable too
        if isinstance(dtype, T.StructType):
            out = []
            for f in dtype.fields:
                m = dict(f.metadata or {})
                m["delta.columnMapping.id"] = next(counter)
                m["delta.columnMapping.physicalName"] = f.name
                out.append(
                    T.StructField(f.name, _map_type(f.dataType), f.nullable, m)
                )
            return T.StructType(out)
        if isinstance(dtype, T.ArrayType):
            return T.ArrayType(_map_type(dtype.elementType), dtype.containsNull)
        if isinstance(dtype, T.MapType):
            return T.MapType(
                _map_type(dtype.keyType),
                _map_type(dtype.valueType),
                dtype.valueContainsNull,
            )
        return dtype

    fields = _map_type(state.schema).fields
    n_ids = next(counter) - 1
    conf = dict(state.metadata.get("configuration") or {})
    conf["delta.columnMapping.mode"] = "name"
    conf["delta.columnMapping.maxColumnId"] = str(n_ids)
    md = dict(
        state.metadata,
        schemaString=json.dumps(T.StructType(fields).jsonValue()),
        configuration=conf,
    )
    return write_commit(
        location,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": md},
            {
                "commitInfo": {
                    "operation": "UPGRADE COLUMN MAPPING",
                    "operationParameters": {"mode": "name"},
                }
            },
        ],
    )


def create_delta_table(
    location: str,
    schema: T.StructType,
    partition_columns: list[str] | None = None,
    column_mapping: str = "none",
) -> int:
    """Create an EMPTY Delta table (commit v0: protocol + metaData).

    ``column_mapping='id'`` creates the table real Delta only allows at
    creation time: every top-level field gets a stable
    ``delta.columnMapping.id`` and a physicalName ``col-<id>`` that
    DIVERGES from the logical name by construction, so readers must
    resolve parquet columns by field id (files written by the pydelta
    writer stamp PARQUET:field_id). Nested schemas are served too
    (round 10): ids/physicalNames assign recursively, and both read
    paths resolve nested parquet fields by id (idmode_io_type /
    to_logical_by_id). 'name' mode is also accepted for symmetry;
    'none' creates a plain table."""
    if latest_version(location) >= 0:
        raise ValueError(f"{location}: Delta table already exists")
    if column_mapping not in ("none", "name", "id"):
        raise ValueError(f"unknown column mapping mode {column_mapping!r}")
    part = list(partition_columns or [])
    missing = [c for c in part if c not in schema.fieldNames()]
    if missing:
        raise ValueError(f"partition columns {missing} not in schema")
    fields = list(schema.fields)
    protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
    conf: dict = {}
    if column_mapping != "none":
        def _contains_struct(dt) -> bool:
            if isinstance(dt, T.StructType):
                return True
            if isinstance(dt, T.ArrayType):
                return _contains_struct(dt.elementType)
            if isinstance(dt, T.MapType):
                return _contains_struct(dt.keyType) or _contains_struct(dt.valueType)
            return False

        # the protocol assigns ids/physicalNames RECURSIVELY in BOTH
        # modes (the enable_column_mapping shape — nested fields rename
        # too; a flat assignment would leave nested renames silently
        # reading NULL). Round 10: 'id' mode accepts nested schemas —
        # both read paths resolve nested parquet fields by id
        # (idmode_io_type / to_logical_by_id).
        counter = iter(range(1, 1 << 31))

        def _map_type(dtype):
            if isinstance(dtype, T.StructType):
                out = []
                for f in dtype.fields:
                    m = dict(f.metadata or {})
                    i = next(counter)
                    m["delta.columnMapping.id"] = i
                    m["delta.columnMapping.physicalName"] = (
                        f"col-{i}" if column_mapping == "id" else f.name
                    )
                    out.append(
                        T.StructField(f.name, _map_type(f.dataType), f.nullable, m)
                    )
                return T.StructType(out)
            if isinstance(dtype, T.ArrayType):
                return T.ArrayType(_map_type(dtype.elementType), dtype.containsNull)
            if isinstance(dtype, T.MapType):
                return T.MapType(
                    _map_type(dtype.keyType),
                    _map_type(dtype.valueType),
                    dtype.valueContainsNull,
                )
            return dtype

        fields = _map_type(T.StructType(fields)).fields
        n_ids = next(counter) - 1
        protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
        conf = {
            "delta.columnMapping.mode": column_mapping,
            "delta.columnMapping.maxColumnId": str(n_ids),
        }
    import time as _time
    import uuid as _uuid

    now = int(_time.time() * 1000)
    return write_commit(
        location,
        [
            {"protocol": protocol},
            {
                "metaData": {
                    "id": str(_uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(T.StructType(fields).jsonValue()),
                    "partitionColumns": part,
                    "configuration": conf,
                    "createdTime": now,
                }
            },
            {
                "commitInfo": {
                    "timestamp": now,
                    "operation": "CREATE TABLE",
                    "operationParameters": {"columnMapping": column_mapping},
                }
            },
        ],
    )


def rename_delta_column(location: str, old: str, new: str) -> int:
    """Metadata-only column rename — THE operation column mapping exists
    for: the logical name changes in the schema while ``physicalName``
    keeps pointing at the bytes already on disk, so zero data files are
    rewritten (at 100 TB, a rename costs one JSON commit). ``old`` may
    be a dotted NESTED path (``parent.child``); ``new`` is the new leaf
    name. Returns the commit version."""
    state = read_delta_table(location)
    if column_mapping_mode(state) == "none":
        raise ValueError(
            "column rename requires column mapping (enable_column_mapping "
            "first) — without it the logical name IS the parquet name and "
            "a rename would need a full rewrite"
        )

    def _rename_in(struct: T.StructType, path: list[str]) -> T.StructType:
        head, rest = path[0], path[1:]
        names = [f.name for f in struct.fields]
        if head not in names:
            raise ValueError(f"no column {old!r}")
        out = []
        for f in struct.fields:
            if f.name != head:
                out.append(f)
            elif rest:
                dt = f.dataType
                # descend through array/map wrappers to the struct level
                unwrap = []
                while True:
                    if isinstance(dt, T.ArrayType):
                        unwrap.append(("a", dt.containsNull))
                        dt = dt.elementType
                    elif isinstance(dt, T.MapType):
                        unwrap.append(("m", dt.keyType, dt.valueContainsNull))
                        dt = dt.valueType
                    else:
                        break
                if not isinstance(dt, T.StructType):
                    raise ValueError(
                        f"{'.'.join(path)}: {f.name!r} is not a struct"
                    )
                dt = _rename_in(dt, rest)
                for w in reversed(unwrap):
                    dt = (
                        T.ArrayType(dt, w[1])
                        if w[0] == "a"
                        else T.MapType(w[1], dt, w[2])
                    )
                out.append(T.StructField(f.name, dt, f.nullable, f.metadata))
            else:
                if new in names:
                    raise ValueError(f"column {new!r} already exists")
                out.append(T.StructField(new, f.dataType, f.nullable, f.metadata))
        return T.StructType(out)

    fields = _rename_in(state.schema, old.split(".")).fields
    md = dict(state.metadata, schemaString=json.dumps(T.StructType(fields).jsonValue()))
    if old in (state.metadata.get("partitionColumns") or []):
        md["partitionColumns"] = [
            new if c == old else c for c in state.metadata["partitionColumns"]
        ]
    return write_commit(
        location,
        [
            {"metaData": md},
            {
                "commitInfo": {
                    "operation": "RENAME COLUMN",
                    "operationParameters": {"from": old, "to": new},
                }
            },
        ],
    )


def _live_rows_dataframe(spark: SparkSession, state: DeltaTableState):
    """Materialize a DV-carrying snapshot's live rows, distributed:
    files scan with ``_metadata.file_path``/``row_index`` (exact
    file-relative positions, no shuffle to assign them), partition
    columns rejoin from the log's per-file values (they are not in the
    data files), and each file's deleted positions apply as ONE
    broadcast anti-join on (file, position) — positions are O(deleted
    rows) metadata already decoded at replay."""
    from pyspark.sql import functions as F

    from iceberg_metadata_pipeline_spark.catalog.metacat import (
        LINEAGE_FILE,
        RowDelete,
        apply_deletes,
        local_frame,
        plain_path,
    )

    pcols = set(state.partition_columns)
    idmode = column_mapping_mode(state) == "id"
    if idmode:
        ids = column_mapping_ids(state)
    phys = physical_names_meta(state) if idmode else physical_names(state)
    file_fields = [f for f in state.schema.fields if f.name not in pcols]
    abs_of = {
        p: (p if os.path.isabs(p) else os.path.join(state.location, p))
        for p in state.files
    }
    ptypes = {f.name: physical_type(f.dataType) for f in file_fields}
    if idmode:
        # field-id resolution, Spark-native: the requested schema names
        # fields LOGICALLY but carries parquet.field.id metadata, and
        # fieldId.read matches on the id — parquet column names are
        # irrelevant, exactly the id-mode contract. A file with no ids
        # at all would resolve NOTHING and read silent nulls, so every
        # file is pre-checked (one footer read each — the importer
        # already pays O(files) footer IO for row counts).
        for p in abs_of.values():
            if file_fields and not parquet_field_ids(p):
                raise ValueError(
                    f"id-mode table but data file {p} carries no "
                    "PARQUET:field_id metadata — unreadable by field id"
                )
        # the session posture (session.py) enables field-id reads. The
        # returned DataFrame is LAZY, so this function cannot scope a
        # conf change around the action — and silently mutating an
        # externally-built session would change parquet semantics for
        # unrelated jobs sharing it. Verify the posture and refuse
        # loudly instead.
        for _k in (
            "spark.sql.parquet.fieldId.read.enabled",
            "spark.sql.parquet.fieldId.read.ignoreMissing",
        ):
            if str(spark.conf.get(_k, "false")).lower() != "true":
                raise ValueError(
                    f"reading a column-mapping 'id' Delta table needs "
                    f"{_k}=true on the session (set by this package's "
                    "get_spark; set it on externally-built sessions "
                    "before reading)"
                )
        # nested id resolution (round 10): idmode_io_type carries
        # parquet.field.id metadata at EVERY struct level, so the
        # fieldId read matches nested parquet fields by id too
        read_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    idmode_io_type(f.dataType, physical=False),
                    f.nullable,
                    {"parquet.field.id": ids[f.name]},
                )
                for f in file_fields
            ]
        )
    else:
        # parquet stores PHYSICAL names (identity unless column mapping),
        # recursively — nested struct fields rename too
        read_schema = T.StructType(
            [
                T.StructField(phys[f.name], ptypes[f.name], f.nullable)
                for f in file_fields
            ]
        )
    data = (
        spark.read.schema(read_schema)
        .parquet(*abs_of.values())
        .withColumn("__file", F.expr(LINEAGE_FILE))
        .withColumn("__pos", F.col("_metadata.row_index"))
    )
    # single-select projection, not sequential withColumnRenamed: logical
    # and physical namespaces are independent under the protocol, so a
    # swap rename (a↔b) is legal — one-at-a-time renames would clobber.
    # Nested renames rebuild the struct positionally (rename_expr).
    # (id mode: the fieldId read already produced logical names.)
    if not idmode and any(
        phys[f.name] != f.name
        or ptypes[f.name] != _strip_field_metadata(f.dataType)
        for f in file_fields
    ):
        data = data.select(
            *[
                rename_expr(
                    F.col(phys[f.name]), ptypes[f.name], f.dataType
                ).alias(f.name)
                for f in file_fields
            ],
            F.col("__file"),
            F.col("__pos"),
        )
    if state.partition_columns:
        pmap = local_frame(
            spark,
            [
                (plain_path(abs_of[p]),)
                + tuple(
                    (a.get("partitionValues") or {}).get(phys[c])
                    for c in state.partition_columns
                )
                for p, a in state.files.items()
            ],
            ", ".join(
                ["__file string"] + [f"__p_{c} string" for c in state.partition_columns]
            ),
        )
        data = data.join(F.broadcast(pmap), "__file")
        for c in state.partition_columns:
            data = data.withColumn(
                c, F.col(f"__p_{c}").cast(state.schema[c].dataType)
            )
    # deletion vectors carry no sequence number: they apply to every row
    dv_rows = [
        (plain_path(abs_of[p]), int(pos))
        for p, a in state.files.items()
        if a.get("deletionVector")
        for pos in _decode_dv_descriptor(a["deletionVector"], state.location)
    ]
    data = apply_deletes(data, [RowDelete("position", None, positions=dv_rows)])
    return data.select(*[f.name for f in state.schema.fields])


# ---------------------------------------------------------------------------
# maintenance: vacuum, log cleanup, history
# ---------------------------------------------------------------------------


def delta_history(location: str) -> list[dict]:
    """DESCRIBE HISTORY: one row per commit, newest first — version,
    timestamp, operation (from commitInfo when present), and action
    counts. O(log) driver-side metadata."""
    out = []
    for v in range(latest_version(location), -1, -1):
        ops = {"add": 0, "remove": 0}
        info: dict = {}
        with open(_commit_path(location, v)) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    info = a["commitInfo"]
                for k in ops:
                    if k in a:
                        ops[k] += 1
        out.append(
            {
                "version": v,
                "timestamp": info.get("timestamp"),
                "operation": info.get("operation"),
                "num_added_files": ops["add"],
                "num_removed_files": ops["remove"],
            }
        )
    return out


def vacuum_delta(location: str, dry_run: bool = False) -> list[str]:
    """VACUUM: delete data files under the table directory that no
    RETAINED log version references (tmp litter from crashed writers,
    files removed at every retained version). Every still-present JSON
    commit AND the checkpoint (which may be the only record of history
    whose commits log-retention already removed) are consulted, so time
    travel to any still-replayable version keeps working; external
    (absolute-path) files are never touched. Returns the deleted
    paths."""
    referenced: set[str] = set()

    loc_real = os.path.realpath(location)

    def _ref(action: dict) -> None:
        p = action["path"]
        if not os.path.isabs(p):
            referenced.add(os.path.join(location, p))
        elif os.path.realpath(p).startswith(loc_real + os.sep):
            # absolute path that lands INSIDE the table root (e.g. a
            # historical commit written before paths were normalized to
            # relative): the os.walk sweep below would list it, so it must
            # count as referenced — treating it as external deleted live
            # OPTIMIZE output
            referenced.add(os.path.join(location, os.path.relpath(p, location)))
        # DV sidecar files are referenced through the descriptor, not as
        # an action path — vacuuming them would destroy live row-level
        # deletes
        dv = action.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            referenced.add(dv_file_path(location, dv))

    ckpt = _read_last_checkpoint(location)
    if ckpt is not None:
        import pyarrow.parquet as pq

        cp = os.path.join(
            location, _LOG_DIR, f"{ckpt['version']:020d}.checkpoint.parquet"
        )
        for r in pq.read_table(cp).to_pylist():
            if r.get("add") is not None:
                _ref(_strip_nulls(r["add"]))
    for v in range(latest_version(location) + 1):
        cpath = _commit_path(location, v)
        if not os.path.exists(cpath):
            # cleaned up by log retention: that history replays from the
            # checkpoint, already folded in above
            continue
        with open(cpath) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                for k in ("add", "remove"):
                    if k in a:
                        _ref(a[k])
    victims = []
    for root, dirs, names in os.walk(location):
        if _LOG_DIR in root:
            continue
        for n in names:
            p = os.path.join(root, n)
            if p not in referenced:
                victims.append(p)
    victims.sort()
    if not dry_run:
        for p in victims:
            os.remove(p)
    return victims


def cleanup_delta_log(location: str, keep_last: int = 10) -> list[str]:
    """Log retention: checkpoint the current state, then delete JSON
    commits older than the newest ``keep_last`` (the spec's metadata
    cleanup — safe because replay restarts from the checkpoint).
    Returns the removed commit paths."""
    last = latest_version(location)
    write_checkpoint(location)
    removed = []
    for v in range(0, max(0, last - keep_last + 1)):
        p = _commit_path(location, v)
        if os.path.exists(p):
            os.remove(p)
            removed.append(p)
    return removed


# ---------------------------------------------------------------------------
# Change Data Feed (protocol "Change Data Files" / cdc actions)
# ---------------------------------------------------------------------------

_CDC_DIR = "_change_data"
_CDF_COLS = ("_change_type", "_commit_version", "_commit_timestamp")


def enable_cdf(location: str) -> int:
    """Commit a metaData update setting
    ``delta.enableChangeDataFeed=true`` (replay is last-writer-wins, so
    re-committing the current metaData with the flag is the spec's own
    ALTER TABLE SET TBLPROPERTIES path) plus the protocol bump to
    writerVersion 4 that the feature requires."""
    state = read_delta_table(location)
    md = dict(state.metadata)
    conf = dict(md.get("configuration") or {})
    conf["delta.enableChangeDataFeed"] = "true"
    md["configuration"] = conf
    return write_commit(
        location,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": md},
            {"commitInfo": {"timestamp": int(time.time() * 1000),
                            "operation": "SET TBLPROPERTIES",
                            "operationParameters": {}}},
        ],
    )


def write_cdc_files(spark: SparkSession, location: str, changes) -> list[dict]:
    """Write a change DataFrame (must carry ``_change_type``:
    insert | update_preimage | update_postimage | delete) as parquet
    under ``_change_data/`` and return the ``cdc`` actions to include
    in the commit. Change files here hold ALL columns including
    partition columns (``partitionValues`` stays empty — legal: cdc
    partitioning mirrors the writer's choice, and unpartitioned change
    files keep the reader a plain parquet scan)."""
    if "_change_type" not in changes.columns:
        raise ValueError("changes DataFrame must carry _change_type")
    cdc_dir = os.path.join(location, _CDC_DIR)
    os.makedirs(cdc_dir, exist_ok=True)
    out = os.path.join(cdc_dir, f"cdc-{uuid.uuid4().hex}")
    changes.write.mode("overwrite").parquet(out)
    actions = []
    for root, _dirs, names in os.walk(out):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            p = os.path.join(root, n)
            actions.append(
                {
                    "cdc": {
                        "path": os.path.relpath(p, location),
                        "partitionValues": {},
                        "size": os.path.getsize(p),
                        "dataChange": False,
                    }
                }
            )
    return actions


def table_changes(
    spark: SparkSession, location: str, start_version: int, end_version: int | None = None
):
    """The CDF read: one row per change in commits
    ``start_version..end_version`` with ``_change_type``,
    ``_commit_version``, ``_commit_timestamp`` appended — the Delta
    ``table_changes(...)`` TVF. Per the protocol, a commit that wrote
    ``cdc`` actions is AUTHORITATIVE for its changes (its add/remove
    actions must not be re-derived, or updates double-count);
    commits without cdc actions derive changes from data actions:
    ``add(dataChange=true)`` files read as inserts,
    ``remove(dataChange=true)`` files read as deletes (requires the
    removed file to still exist, i.e. not yet vacuumed — the same
    bound real Delta documents for CDF-before-vacuum reads).

    Scale: per-commit file lists are O(churn) metadata; the result is a
    union of parquet scans, no shuffle — downstream incremental
    consumers aggregate or merge as they choose."""
    from pyspark.sql import functions as F

    state = read_delta_table(location)  # schema + partition columns
    last = latest_version(location)
    if end_version is None:
        end_version = last
    if start_version > end_version:
        raise ValueError(f"empty version range {start_version}..{end_version}")
    pcols = set(state.partition_columns)
    file_fields = [f for f in state.schema.fields if f.name not in pcols]
    parts = []

    def _with_partitions(df, pvals: dict):
        for c in state.partition_columns:
            df = df.withColumn(c, F.lit(pvals.get(c)).cast(state.schema[c].dataType))
        return df.select(
            *[f.name for f in state.schema.fields],
            *[c for c in df.columns if c in _CDF_COLS],
        )

    for v in range(start_version, end_version + 1):
        path = _commit_path(location, v)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"commit {v} missing from the log (cleaned up?) — CDF "
                "reads need the JSON commits for the requested range"
            )
        actions = [json.loads(x) for x in open(path) if x.strip()]
        ts = next(
            (a["commitInfo"].get("timestamp") for a in actions if "commitInfo" in a),
            int(os.path.getmtime(path) * 1000),
        )
        stamp = (
            lambda df, ct: df.withColumn("_change_type", F.lit(ct))
            .withColumn("_commit_version", F.lit(v).cast("long"))
            .withColumn(
                "_commit_timestamp",
                F.lit(ts).cast("long"),
            )
        )
        cdc = [a["cdc"] for a in actions if "cdc" in a]
        if cdc:
            files = [os.path.join(location, c["path"]) for c in cdc]
            df = spark.read.parquet(*files)
            df = (
                df.withColumn("_commit_version", F.lit(v).cast("long"))
                .withColumn("_commit_timestamp", F.lit(ts).cast("long"))
                .select(
                    *[f.name for f in state.schema.fields], *_CDF_COLS
                )
            )
            parts.append(df)
            continue
        adds = {
            a["add"]["path"]: a["add"]
            for a in actions
            if "add" in a and a["add"].get("dataChange")
        }
        removes = {
            a["remove"]["path"]: a["remove"]
            for a in actions
            if "remove" in a and a["remove"].get("dataChange", True)
        }

        def _dv_positions(action: dict) -> set[int]:
            dv = action.get("deletionVector")
            return set(_decode_dv_descriptor(dv, location)) if dv else set()

        def _scan_positions(p: str, positions, ct: str, pvals: dict) -> None:
            """Emit rows of file p at exactly ``positions`` as change
            type ``ct`` (None = all rows). Position filter applies as a
            broadcast semi-join on _metadata.row_index — the change set
            is O(churn) metadata."""
            df = spark.read.schema(T.StructType(file_fields)).parquet(p)
            if positions is not None:
                if not positions:
                    return
                df = df.withColumn("__pos", F.col("_metadata.row_index"))
                sel = spark.createDataFrame(
                    [(int(x),) for x in sorted(positions)], "__pos long"
                )
                df = df.join(F.broadcast(sel), "__pos", "left_semi").drop("__pos")
            parts.append(_with_partitions(stamp(df, ct), pvals))

        for p, ad in adds.items():
            ap = p if os.path.isabs(p) else os.path.join(location, p)
            pvals = ad.get("partitionValues") or {}
            new_dv = _dv_positions(ad)
            rm = removes.get(p)
            if rm is not None:
                # same-path remove+add = a row-level rewrite (DV delete):
                # the change is the POSITION DELTA, not the whole file
                old_dv = _dv_positions(rm)
                _scan_positions(ap, new_dv - old_dv, "delete", pvals)
                _scan_positions(ap, old_dv - new_dv, "insert", pvals)
            elif new_dv:
                # fresh add carrying a DV: only its live rows are inserts
                df = spark.read.schema(T.StructType(file_fields)).parquet(ap)
                df = df.withColumn("__pos", F.col("_metadata.row_index"))
                sel = spark.createDataFrame(
                    [(int(x),) for x in sorted(new_dv)], "__pos long"
                )
                df = df.join(F.broadcast(sel), "__pos", "left_anti").drop("__pos")
                parts.append(_with_partitions(stamp(df, "insert"), pvals))
            else:
                _scan_positions(ap, None, "insert", pvals)
        for p, rm in removes.items():
            if p in adds:
                continue  # handled as a paired rewrite above
            ap = p if os.path.isabs(p) else os.path.join(location, p)
            if not os.path.exists(ap):
                raise FileNotFoundError(
                    f"removed file {ap} no longer exists; CDF derive for "
                    f"version {v} is impossible post-vacuum"
                )
            old_dv = _dv_positions(rm)
            pvals = rm.get("partitionValues") or {}
            if old_dv:
                # rows already dead under the file's DV were deleted in
                # an EARLIER commit — only live rows delete now
                df = spark.read.schema(T.StructType(file_fields)).parquet(ap)
                df = df.withColumn("__pos", F.col("_metadata.row_index"))
                sel = spark.createDataFrame(
                    [(int(x),) for x in sorted(old_dv)], "__pos long"
                )
                df = df.join(F.broadcast(sel), "__pos", "left_anti").drop("__pos")
                parts.append(_with_partitions(stamp(df, "delete"), pvals))
            else:
                _scan_positions(ap, None, "delete", pvals)
    if not parts:
        schema = T.StructType(
            list(state.schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.LongType()),
            ]
        )
        return spark.createDataFrame([], schema)
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out
