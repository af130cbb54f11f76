"""From-scratch Apache Hudi Copy-on-Write table format (read + write).

Rounds 5-6 built the Iceberg v2 layer (iceberg_format.py) and the Delta
transaction log (delta_format.py); this completes the open-table-format
trio with Hudi, written purely from the public spec
(hudi.apache.org/tech-specs + the timeline/file-layout docs). No hudi
jar, no Java: a Hudi table is a base path holding

- ``.hoodie/hoodie.properties`` — java-properties table config
  (``hoodie.table.name``, ``hoodie.table.type=COPY_ON_WRITE``,
  ``hoodie.table.version``, partition-path fields, …);
- the TIMELINE in ``.hoodie/``: instant files named
  ``<instantTime>.<action>[.<state>]`` with the three-phase
  requested → inflight → completed lifecycle. Instant times are
  ``yyyyMMddHHmmssSSS`` (17-digit, millis). One spec quirk faithfully
  kept: the COMMIT action's inflight file is ``<t>.inflight`` (no
  action name), while every other action spells
  ``<t>.<action>.inflight``;
- completed ``<t>.commit`` files carry HoodieCommitMetadata JSON
  (``partitionToWriteStats`` → per-file write stats), completed
  ``<t>.replacecommit`` additionally carries
  ``partitionToReplaceFileIds`` (the clustering/overwrite mechanism);
- data (base) files named ``<fileId>_<writeToken>_<instantTime>.parquet``
  inside partition-path dirs, each dir holding a
  ``.hoodie_partition_metadata`` marker. FILE GROUPS are keyed by
  (partitionPath, fileId); each commit adds a new FILE SLICE (for COW:
  a new base file) to a group; a snapshot reads, per live group, the
  latest slice whose instant is ≤ the as-of instant.

Supported here:
- timeline write/replay with state transitions and put-if-absent
  atomicity (tmp + rename, refuse existing — Hudi's single-writer
  timeline contract);
- snapshot + time-travel reads (as-of any completed instant),
  replacecommit-aware (replaced file groups drop out of later
  snapshots);
- incremental queries: files (hence rows) written by commits in an
  instant range — the Hudi "incremental pull" primitive;
- metadata-only export of a metacat snapshot (parquet bytes never
  move: canonical ``<fileId>_…`` names are SYMLINKED to the original
  files — the same posture as Hudi's own bootstrap mode, which keeps
  foreign parquet in place and layers Hudi naming/metadata over it);
  re-export is INCREMENTAL: appeared files → ``commit``, vanished
  files → ``replacecommit`` replacing their file groups, unchanged
  snapshot commits nothing;
- import into metacat (record counts from write stats — O(files)
  metadata, no data IO);
- clean (retain last N slices per file group; older base files
  removed, ``<t>.clean`` instant recorded) and rollback of the latest
  commit (its files deleted, ``<t>.rollback`` recorded);
- ``hoodie.populate.meta.fields=false`` (virtual-key) posture: data
  files are NOT required to carry the five ``_hoodie_*`` meta columns —
  the spec'd escape hatch that makes metadata-only adoption of foreign
  parquet legal.

Refused loudly (not silently misread):
- MERGE_ON_READ tables (``.log.`` delta files, compaction timeline) —
  reading a MOR table as COW would drop un-compacted updates;
- completed clean/rollback metadata is stored here as JSON; real Hudi
  serializes those two as Avro (HoodieCleanMetadata /
  HoodieRollbackMetadata). They never affect the live-file replay
  (clean only deletes already-superseded slices), so snapshot /
  incremental / time-travel results are unaffected; reading a
  real-Hudi table whose timeline holds avro clean files skips them
  with a warning rather than guessing.

Scale notes: the timeline is O(commits) driver-side metadata, replay is
a dict fold over write stats (never data); export/import move zero
parquet bytes; incremental pull reads only the commits in range — the
property that makes a daily 100 TB-table sync O(day's churn).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

_HOODIE = ".hoodie"
_COMPLETED_ACTIONS = ("commit", "replacecommit", "clean", "rollback", "savepoint")
_WRITE_TOKEN = "0-1-0"  # taskPartitionId-stageId-attempt; single-writer export


# ---------------------------------------------------------------------------
# instant times — yyyyMMddHHmmssSSS, strictly monotonic per process
# ---------------------------------------------------------------------------

_last_instant = [""]


def new_instant_time() -> str:
    """17-digit commit-time per the spec's millisecond timeline format,
    bumped to stay strictly monotonic if two commits land in one ms."""
    t = time.strftime("%Y%m%d%H%M%S", time.gmtime()) + f"{int(time.time()*1000)%1000:03d}"
    if t <= _last_instant[0]:
        t = str(int(_last_instant[0]) + 1).zfill(17)
    _last_instant[0] = t
    return t


# ---------------------------------------------------------------------------
# hoodie.properties — java-properties serde (subset: no line continuations)
# ---------------------------------------------------------------------------


def write_properties(location: str, props: dict[str, str]) -> str:
    hoodie = os.path.join(location, _HOODIE)
    os.makedirs(hoodie, exist_ok=True)
    dest = os.path.join(hoodie, "hoodie.properties")
    tmp = dest + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write("#Updated at " + time.strftime("%a %b %d %H:%M:%S UTC %Y", time.gmtime()) + "\n")
        for k in sorted(props):
            fh.write(f"{k}={props[k]}\n")
    os.replace(tmp, dest)
    return dest


def read_properties(location: str) -> dict[str, str]:
    path = os.path.join(location, _HOODIE, "hoodie.properties")
    props: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith(("#", "!")):
                continue
            if "=" in line:
                k, _, v = line.partition("=")
                props[k.strip()] = v.strip()
    return props


# ---------------------------------------------------------------------------
# timeline
# ---------------------------------------------------------------------------


@dataclass
class Instant:
    time: str
    action: str
    state: str  # requested | inflight | completed


def _instant_filename(t: str, action: str, state: str) -> str:
    if state == "completed":
        return f"{t}.{action}"
    if state == "inflight" and action == "commit":
        # the spec quirk: commit inflights are "<t>.inflight"
        return f"{t}.inflight"
    return f"{t}.{action}.{state}"


def _parse_instant(name: str) -> Instant | None:
    parts = name.split(".")
    if not parts[0].isdigit() or len(parts[0]) not in (14, 17):
        return None
    t = parts[0]
    if len(parts) == 2:
        if parts[1] == "inflight":
            return Instant(t, "commit", "inflight")
        if parts[1] in _COMPLETED_ACTIONS or parts[1] == "deltacommit":
            return Instant(t, parts[1], "completed")
        return None
    if len(parts) == 3 and parts[2] in ("requested", "inflight"):
        return Instant(t, parts[1], parts[2])
    return None


def list_timeline(location: str) -> list[Instant]:
    """All instants, sorted by (time, state-order)."""
    hoodie = os.path.join(location, _HOODIE)
    if not os.path.isdir(hoodie):
        return []
    out = []
    for n in os.listdir(hoodie):
        ins = _parse_instant(n)
        if ins is not None:
            out.append(ins)
    order = {"requested": 0, "inflight": 1, "completed": 2}
    out.sort(key=lambda i: (i.time, order[i.state]))
    return out


def completed_instants(
    location: str,
    actions: tuple[str, ...] = ("commit", "replacecommit", "deltacommit"),
) -> list[Instant]:
    return [i for i in list_timeline(location) if i.state == "completed" and i.action in actions]


def _write_instant_file(location: str, name: str, payload: bytes) -> str:
    hoodie = os.path.join(location, _HOODIE)
    os.makedirs(hoodie, exist_ok=True)
    dest = os.path.join(hoodie, name)
    if os.path.exists(dest):
        raise FileExistsError(
            f"hudi instant {name} already exists (concurrent writer? "
            "the timeline is put-if-absent)"
        )
    tmp = dest + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as fh:
        fh.write(payload)
    os.replace(tmp, dest)
    return dest


def begin_instant(location: str, action: str, instant_time: str | None = None) -> str:
    """requested → inflight; returns the instant time. The two
    transition files are what lets a concurrent reader distinguish
    'planned', 'running', and 'done' — only completed instants are
    visible to snapshots."""
    t = instant_time or new_instant_time()
    _write_instant_file(location, _instant_filename(t, action, "requested"), b"")
    _write_instant_file(location, _instant_filename(t, action, "inflight"), b"")
    return t


def complete_instant(location: str, t: str, action: str, metadata: dict) -> str:
    payload = json.dumps(metadata, indent=2, sort_keys=True).encode()
    return _write_instant_file(location, _instant_filename(t, action, "completed"), payload)


def read_instant_metadata(location: str, ins: Instant) -> dict:
    path = os.path.join(location, _HOODIE, _instant_filename(ins.time, ins.action, ins.state))
    raw = open(path, "rb").read()
    if not raw:
        return {}
    if raw[:4] == b"Obj\x01":  # real-Hudi avro clean/rollback metadata
        import warnings

        warnings.warn(f"skipping avro-serialized {ins.action} metadata at {path}")
        return {}
    return json.loads(raw)


# ---------------------------------------------------------------------------
# snapshot state — file-group replay
# ---------------------------------------------------------------------------


@dataclass
class BaseFile:
    partition_path: str
    file_id: str
    instant_time: str
    path: str  # absolute
    num_records: int
    size_bytes: int


@dataclass
class LogFile:
    """A MOR delta-log file: updates/deletes against one file group's
    base slice, named ``.<fileId>_<baseInstant>.log.<version>_<token>``
    (dot-prefixed = hidden from plain directory listings, per the
    spec's file layout)."""

    partition_path: str
    file_id: str
    base_instant: str  # the base-file slice this log attaches to
    version: int
    path: str  # absolute
    instant_time: str  # deltacommit that wrote it


@dataclass
class HudiTableState:
    location: str
    instant: str  # as-of completed instant time
    properties: dict[str, str]
    # (partition_path, file_id) -> latest live BaseFile
    files: dict[tuple[str, str], BaseFile] = field(default_factory=dict)
    # (partition_path, file_id) -> log files attached to the CURRENT base
    # slice, sorted by (instant_time, version) — MOR tables only
    log_files: dict[tuple[str, str], list[LogFile]] = field(default_factory=dict)
    # completed instant times ≤ as-of: the block-level commit filter
    # (log blocks from crashed/uncommitted writes must not merge)
    valid_instants: frozenset = frozenset()
    table_type: str = "COPY_ON_WRITE"

    @property
    def partition_fields(self) -> list[str]:
        raw = self.properties.get("hoodie.table.partition.fields", "")
        return [c for c in raw.split(",") if c]

    @property
    def record_key_field(self) -> str:
        return self.properties.get("hoodie.table.recordkey.fields", "")

    def has_live_logs(self) -> bool:
        return any(self.log_files.values())


def _base_file_name(file_id: str, instant_time: str) -> str:
    return f"{file_id}_{_WRITE_TOKEN}_{instant_time}.parquet"


def _log_file_name(file_id: str, base_instant: str, version: int) -> str:
    return f".{file_id}_{base_instant}.log.{version}_{_WRITE_TOKEN}"


def _parse_log_file_name(name: str) -> tuple[str, str, int] | None:
    """'.<fileId>_<baseInstant>.log.<version>_<token>' →
    (file_id, base_instant, version)."""
    if not name.startswith(".") or ".log." not in name:
        return None
    head, _, tail = name[1:].partition(".log.")
    fid, _, base = head.rpartition("_")
    ver = tail.split("_", 1)[0]
    if not fid or not base.isdigit() or not ver.isdigit():
        return None
    return fid, base, int(ver)


def read_hudi_table(location: str, instant: str | None = None) -> HudiTableState:
    """Replay the timeline up to ``instant`` (default: latest completed)
    into the live file set. COPY_ON_WRITE resolves per file group to the
    newest base slice; MERGE_ON_READ additionally attaches each group's
    delta-log files (written by ``deltacommit`` instants) to its CURRENT
    base slice — logs referencing an older base instant drop out, which
    is exactly how compaction retires them. File discovery is
    timeline-driven (write stats), not directory listing; Hudi's
    metadata table (``.hoodie/metadata``) is not read — a listing-free
    optimization this layer does not need because the replay already
    carries every path."""
    props = read_properties(location)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise NotImplementedError(f"hoodie.table.type={ttype}")
    done = completed_instants(location)
    if instant is not None:
        done = [i for i in done if i.time <= instant]
        if not done:
            raise ValueError(f"no completed instant at or before {instant}")
    as_of = done[-1].time if done else ""
    state = HudiTableState(
        location, as_of, props,
        valid_instants=frozenset(i.time for i in done),
        table_type=ttype,
    )
    replaced: set[tuple[str, str]] = set()
    raw_logs: dict[tuple[str, str], list[LogFile]] = {}
    for ins in done:
        md = read_instant_metadata(location, ins)
        if ins.action == "replacecommit":
            for part, fids in (md.get("partitionToReplaceFileIds") or {}).items():
                replaced.update((part, fid) for fid in fids)
        for part, stats in (md.get("partitionToWriteStats") or {}).items():
            for st in stats:
                fid = st["fileId"]
                path = st["path"]
                if not os.path.isabs(path):
                    path = os.path.join(location, path)
                parsed = _parse_log_file_name(os.path.basename(path))
                if parsed is not None:
                    if ttype != "MERGE_ON_READ":
                        raise ValueError(
                            f"log file {path} in a COPY_ON_WRITE timeline "
                            "(corrupt table?)"
                        )
                    lfid, base, ver = parsed
                    raw_logs.setdefault((part, fid), []).append(
                        LogFile(part, fid, base, ver, path, ins.time)
                    )
                    continue
                bf = BaseFile(
                    partition_path=part,
                    file_id=fid,
                    instant_time=ins.time,
                    path=path,
                    num_records=int(st.get("numWrites") or 0),
                    size_bytes=int(st.get("fileSizeInBytes") or 0),
                )
                cur = state.files.get((part, fid))
                # newer slice in the same file group wins (COW overwrite /
                # MOR compaction)
                if cur is None or bf.instant_time > cur.instant_time:
                    state.files[(part, fid)] = bf
                # a group re-written after its replacecommit is live again
                if (part, fid) in replaced and ins.time > max(
                    (i.time for i in done if i.action == "replacecommit"), default=""
                ):
                    replaced.discard((part, fid))
    retired = set(replaced)
    for key in replaced:
        state.files.pop(key, None)
    for key, logs in raw_logs.items():
        bf = state.files.get(key)
        if bf is None:
            if key in retired:
                # group retired by a replacecommit (clustering): its logs
                # were folded by the pre-clustering compaction — history,
                # not a live slice
                continue
            # LOG-ONLY file group (real Hudi creates these via Flink /
            # bucket-index pipelines: the first slice is a log file, no
            # base parquet). Its virtual slice anchors at the creation
            # instant carried in the log name; merge_file_slice already
            # merges a null base.
            base_instant = min(lg.base_instant for lg in logs)
            bf = BaseFile(
                partition_path=key[0],
                file_id=key[1],
                instant_time=base_instant,
                path="",  # null-base slice
                num_records=0,
                size_bytes=0,
            )
            state.files[key] = bf
        live = sorted(
            (lg for lg in logs if lg.base_instant == bf.instant_time),
            key=lambda lg: (lg.instant_time, lg.version),
        )
        if live:
            state.log_files[key] = live
    return state


def incremental_slices(
    location: str, begin: str, end: str | None = None
) -> tuple[list[BaseFile], list[LogFile]]:
    """The Hudi incremental-pull primitive: base files AND log files
    WRITTEN by completed instants with begin < instant ≤ end. At 100 TB
    this is the O(churn) sync path — a consumer remembers its last
    instant and reads only the new slices (for MOR, the new log
    records)."""
    bases: list[BaseFile] = []
    logs: list[LogFile] = []
    for ins in completed_instants(location):
        if ins.time <= begin or (end is not None and ins.time > end):
            continue
        md = read_instant_metadata(location, ins)
        for part, stats in (md.get("partitionToWriteStats") or {}).items():
            for st in stats:
                path = st["path"]
                if not os.path.isabs(path):
                    path = os.path.join(location, path)
                parsed = _parse_log_file_name(os.path.basename(path))
                if parsed is not None:
                    lfid, base, ver = parsed
                    logs.append(
                        LogFile(part, st["fileId"], base, ver, path, ins.time)
                    )
                else:
                    bases.append(
                        BaseFile(part, st["fileId"], ins.time, path,
                                 int(st.get("numWrites") or 0),
                                 int(st.get("fileSizeInBytes") or 0))
                    )
    return bases, logs


def incremental_files(location: str, begin: str, end: str | None = None) -> list[BaseFile]:
    """Base files written in (begin, end] — the COW incremental pull."""
    bases, _logs = incremental_slices(location, begin, end)
    return bases


def hudi_snapshot_dataframe(spark: SparkSession, state: HudiTableState):
    """Read the live snapshot as a DataFrame — one parquet read over the
    live base files; hive-style partition dirs rejoin partition columns
    via the encoded path values (they are in the path, not the files,
    when exported from an identity-partitioned source). A MOR snapshot
    with un-compacted logs must merge per slice — that happens inside
    the pyhudi DataSource tasks (one task per file slice), so this
    parquet-only fast path refuses rather than silently dropping
    updates."""
    if state.has_live_logs():
        raise ValueError(
            "MOR snapshot has un-compacted log files; read it with "
            'spark.read.format("pyhudi") (per-slice merge in tasks) or '
            "run compact_mor() first"
        )
    paths = [bf.path for bf in state.files.values()]
    if not paths:
        raise ValueError("empty hudi snapshot")
    df = spark.read.parquet(*paths)
    return df


# ---------------------------------------------------------------------------
# partition metadata markers
# ---------------------------------------------------------------------------


def _ensure_partition_metadata(location: str, partition_path: str, instant: str) -> None:
    pdir = os.path.join(location, partition_path) if partition_path else location
    os.makedirs(pdir, exist_ok=True)
    marker = os.path.join(pdir, ".hoodie_partition_metadata")
    if os.path.exists(marker):
        return
    depth = len([p for p in partition_path.split("/") if p])
    # tmp + atomic rename: concurrent tasks of a distributed write may
    # race on the same partition's marker; both write identical content,
    # rename makes the winner whole
    import uuid as _uuid

    tmp = f"{marker}._tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write("#partition metadata\n")
        fh.write(f"commitTime={instant}\n")
        fh.write(f"partitionDepth={depth}\n")
    os.replace(tmp, marker)


# ---------------------------------------------------------------------------
# export (metacat → hudi) / import (hudi → metacat)
# ---------------------------------------------------------------------------


def _stable_file_id(path: str) -> str:
    """Deterministic fileId per source file so re-exports keep file-group
    identity stable (incremental commits stay O(churn))."""
    return str(uuid.UUID(hashlib.md5(os.path.abspath(path).encode()).hexdigest())) + "-0"


def create_hudi_table(location: str, name: str, partition_fields: list[str]) -> None:
    write_properties(
        location,
        {
            "hoodie.table.name": name,
            "hoodie.table.type": "COPY_ON_WRITE",
            "hoodie.table.version": "6",
            "hoodie.timeline.layout.version": "1",
            "hoodie.table.base.file.format": "PARQUET",
            "hoodie.populate.meta.fields": "false",
            "hoodie.datasource.write.hive_style_partitioning": "true",
            "hoodie.table.partition.fields": ",".join(partition_fields),
            "hoodie.table.checksum": "0",
        },
    )


def _hive_partition_path(partition: dict, fields: list[str]) -> str:
    """Canonical Hive-style partition path. A null partition value —
    whether it arrives as Python ``None`` (the in-process list path) or
    as pandas ``NaN``/``NaT`` (the distributed ``applyInPandas`` path) —
    renders as Hive's ``__HIVE_DEFAULT_PARTITION__`` token, so BOTH
    write paths produce the same layout and upsert key routing."""
    if not fields:
        return ""
    segs = []
    for c in fields:
        v = partition.get(c, None)
        if v is None or v != v:  # None, float NaN, pandas NaT
            v = "__HIVE_DEFAULT_PARTITION__"
        segs.append(f"{c}={v}")
    return "/".join(segs)


def export_hudi_table(table, dest: str) -> str:
    """Mirror a metacat Table's current snapshot as a Hudi COW table at
    ``dest`` — metadata-only, like the Delta/Iceberg exporters: each
    data file gets a canonical ``<fileId>_<token>_<instant>.parquet``
    name SYMLINKED to the original parquet (zero bytes moved; the
    bootstrap posture). Re-export is incremental: appeared files commit
    as a new ``commit`` instant, vanished files as a ``replacecommit``
    replacing their file groups; an unchanged snapshot writes nothing
    and returns the current latest instant."""
    snap = table.current_snapshot
    if snap is not None and table._resolve_deletes(snap):
        raise ValueError(
            "unresolved merge-on-read delete entries; run "
            "rewrite_data_files() before export — Hudi COW has no "
            "row-level delete encoding for foreign files"
        )
    from iceberg_metadata_pipeline_spark.catalog.partitioning import parse_transform

    ident = [
        pf for pf in (table.default_spec or [])
        if parse_transform(pf.transform)[0] == "identity"
    ]
    part_cols = [pf.source for pf in ident]
    files = [] if snap is None else table.snapshot_files(snap["snapshot_id"])
    first = not os.path.exists(os.path.join(dest, _HOODIE, "hoodie.properties"))
    if first:
        create_hudi_table(dest, table.name if hasattr(table, "name") else "export", part_cols)
        prev_by_src: dict[str, BaseFile] = {}
    else:
        state = read_hudi_table(dest)
        prev_by_src = {os.path.realpath(bf.path): bf for bf in state.files.values()}
    cur = {os.path.realpath(os.path.abspath(f.path)): f for f in files}
    appeared = sorted(set(cur) - set(prev_by_src))
    vanished = sorted(set(prev_by_src) - set(cur))
    if not first and not appeared and not vanished:
        done = completed_instants(dest)
        return done[-1].time if done else ""
    # 1) vanished file groups → replacecommit (the clustering/overwrite verb)
    if vanished:
        t = begin_instant(dest, "replacecommit")
        by_part: dict[str, list[str]] = {}
        for src in vanished:
            bf = prev_by_src[src]
            by_part.setdefault(bf.partition_path, []).append(bf.file_id)
        complete_instant(
            dest, t, "replacecommit",
            {
                "partitionToWriteStats": {},
                "partitionToReplaceFileIds": {p: sorted(v) for p, v in by_part.items()},
                "compacted": False,
                "operationType": "CLUSTER",
                "extraMetadata": {},
            },
        )
    # 2) appeared files → commit with one write-stat per file
    if appeared or first:
        t = begin_instant(dest, "commit")
        by_part: dict[str, list[dict]] = {}
        for src in appeared:
            f = cur[src]
            part_vals = {pf.source: (f.partition or {}).get(pf.name) for pf in ident}
            ppath = _hive_partition_path(part_vals, part_cols)
            _ensure_partition_metadata(dest, ppath, t)
            fid = _stable_file_id(src)
            link_rel = os.path.join(ppath, _base_file_name(fid, t)) if ppath else _base_file_name(fid, t)
            link_abs = os.path.join(dest, link_rel)
            if not os.path.exists(link_abs):
                os.symlink(src, link_abs)
            by_part.setdefault(ppath, []).append(
                {
                    "fileId": fid,
                    "path": link_rel,
                    "prevCommit": "null",
                    "numWrites": int(f.record_count),
                    "numDeletes": 0,
                    "numUpdateWrites": 0,
                    "numInserts": int(f.record_count),
                    "totalWriteBytes": int(f.file_size_bytes),
                    "fileSizeInBytes": int(f.file_size_bytes),
                    "partitionPath": ppath,
                }
            )
        complete_instant(
            dest, t, "commit",
            {
                "partitionToWriteStats": by_part,
                "compacted": False,
                "operationType": "INSERT",
                "extraMetadata": {
                    "schema": json.dumps(table.schema.jsonValue()),
                },
            },
        )
        return t
    done = completed_instants(dest)
    return done[-1].time if done else ""


def import_hudi_table(
    spark: SparkSession, catalog, location: str, namespace: str, name: str,
    instant: str | None = None,
):
    """Register a Hudi snapshot's live base files into a metacat table
    (metadata-only; counts from write stats). Partition values are
    parsed back from hive-style partition paths so pruning survives."""
    from iceberg_metadata_pipeline_spark.catalog.metacat import DataFileEntry

    state = read_hudi_table(location, instant)
    if state.has_live_logs():
        raise ValueError(
            "MOR snapshot has un-compacted log files; a metadata-only "
            "import would register base files and RESURRECT rows the logs "
            "update or delete — run compact_mor() first, or query in "
            'place with spark.read.format("pyhudi")'
        )
    # schema from the latest commit that recorded one; else parquet footer
    schema = None
    for ins in reversed(completed_instants(location, ("commit",))):
        if instant is not None and ins.time > instant:
            continue
        md = read_instant_metadata(location, ins)
        raw = (md.get("extraMetadata") or {}).get("schema")
        if raw:
            schema = T.StructType.fromJson(json.loads(raw))
            break
    if schema is None:
        any_path = next(iter(state.files.values())).path
        schema = spark.read.parquet(any_path).schema
    part_fields = state.partition_fields
    entries = []
    for (ppath, _fid), bf in sorted(state.files.items()):
        part = {}
        for seg in [s for s in ppath.split("/") if s]:
            if "=" in seg:
                k, _, v = seg.partition("=")
                if v != "__HIVE_DEFAULT_PARTITION__":
                    part[k] = v
        entries.append(
            DataFileEntry(
                path=os.path.realpath(bf.path),
                record_count=bf.num_records,
                file_size_bytes=bf.size_bytes or os.path.getsize(bf.path),
                format="PARQUET",
                partition=part,
            )
        )
    t = catalog.create_table(namespace, name, schema).refresh()
    if part_fields:
        from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField

        spec_id = t.set_partition_spec(
            [PartitionField(c, "identity", c) for c in part_fields]
        )
        for e in entries:
            if e.partition:
                e.spec_id = spec_id
    t.append_files(entries, dedupe=False)
    return t.refresh()


# ---------------------------------------------------------------------------
# table services: clean + rollback
# ---------------------------------------------------------------------------


def clean_hudi(location: str, retain_slices: int = 1, dry_run: bool = False) -> list[str]:
    """KEEP_LATEST_FILE_VERSIONS cleaning: per LIVE file group, retain
    the newest ``retain_slices`` base files and delete older slices;
    file groups replaced by a completed replacecommit (clustering) have
    ALL their slices deleted — the post-clustering reclaim real Hudi's
    cleaner performs. Records a ``<t>.clean`` instant listing the
    deletions. Never touches files outside the table dir (symlink
    targets survive — only the link goes), and never a live slice."""
    state = read_hudi_table(location)
    live_groups = set(state.files)
    live_paths = {os.path.abspath(bf.path) for bf in state.files.values()}
    live_paths.update(
        os.path.abspath(lg.path)
        for logs in state.log_files.values()
        for lg in logs
    )
    # savepointed snapshots are pinned: their files are never reclaimed
    live_paths.update(_savepointed_paths(location))
    by_group: dict[tuple[str, str], list[BaseFile]] = {}
    # MOR: log files are not slices themselves — they ride with the base
    # slice whose instant they attach to, and die exactly when it does
    logs_by_slice: dict[tuple[str, str, str], list[str]] = {}
    for ins in completed_instants(location):
        md = read_instant_metadata(location, ins)
        for part, stats in (md.get("partitionToWriteStats") or {}).items():
            for st in stats:
                path = st["path"]
                apath = path if os.path.isabs(path) else os.path.join(location, path)
                parsed = _parse_log_file_name(os.path.basename(path))
                if parsed is not None:
                    _fid, base, _ver = parsed
                    logs_by_slice.setdefault(
                        (part, st["fileId"], base), []
                    ).append(apath)
                    continue
                by_group.setdefault((part, st["fileId"]), []).append(
                    BaseFile(part, st["fileId"], ins.time, apath, 0, 0)
                )
    doomed: list[str] = []
    for key, slices in by_group.items():
        slices.sort(key=lambda b: b.instant_time)
        if key in live_groups:
            old = slices[:-retain_slices] if retain_slices > 0 else slices[:-1]
        else:
            old = slices  # replaced group: reclaim every slice
        for bf in old:
            p = os.path.abspath(bf.path)
            if p not in live_paths and os.path.lexists(p):
                doomed.append(p)
                # a reclaimed base slice takes its attached logs with it
                for lp in logs_by_slice.get(
                    (key[0], key[1], bf.instant_time), []
                ):
                    lp = os.path.abspath(lp)
                    if lp not in live_paths and os.path.lexists(lp):
                        doomed.append(lp)
    if dry_run:
        return doomed
    for p in doomed:
        os.remove(p)
    if doomed:
        t = begin_instant(location, "clean")
        complete_instant(
            location, t, "clean",
            {
                "startCleanTime": t,
                "policy": "KEEP_LATEST_FILE_VERSIONS",
                "retainedFileVersions": retain_slices,
                "deletePathPatterns": [os.path.relpath(p, location) for p in doomed],
                "totalFilesDeleted": len(doomed),
            },
        )
    return doomed


def rollback_hudi(location: str, instant: str) -> list[str]:
    """Undo the LATEST completed commit/replacecommit: delete the base
    files it wrote, remove its timeline files, record ``<t>.rollback``.
    Refuses to roll back a non-latest instant (later slices may stack
    on its file groups — the same guard real Hudi applies)."""
    done = completed_instants(location)
    if not done or done[-1].time != instant:
        raise ValueError(
            f"can only roll back the latest completed instant "
            f"({done[-1].time if done else 'none'}), not {instant}"
        )
    ins = done[-1]
    md = read_instant_metadata(location, ins)
    removed: list[str] = []
    for _part, stats in (md.get("partitionToWriteStats") or {}).items():
        for st in stats:
            p = st["path"]
            apath = p if os.path.isabs(p) else os.path.join(location, p)
            if os.path.lexists(apath):
                os.remove(apath)
                removed.append(apath)
    hoodie = os.path.join(location, _HOODIE)
    for state in ("completed", "inflight", "requested"):
        f = os.path.join(hoodie, _instant_filename(ins.time, ins.action, state))
        if os.path.exists(f):
            os.remove(f)
    t = begin_instant(location, "rollback")
    complete_instant(
        location, t, "rollback",
        {
            "startRollbackTime": t,
            "commitsRollback": [instant],
            "totalFilesDeleted": len(removed),
            "instantsRollback": [{"commitTime": instant, "action": ins.action}],
        },
    )
    return removed


# ---------------------------------------------------------------------------
# MERGE_ON_READ: log-block format, delta writes, per-slice merge, compaction
# ---------------------------------------------------------------------------
#
# The Hudi log-file format (hudi.apache.org/tech-specs "Log File Format"):
# a log file is a sequence of blocks, each
#
#   MAGIC "#HUDI#" (6 bytes)
#   u64 BE block size        (bytes from after this field through the
#                             trailing length, inclusive)
#   u32 BE log format version (1)
#   u32 BE block type ordinal
#   header map               (u32 count, then per entry u32 key ordinal,
#                             u32 byte length, UTF-8 value)
#   u64 BE content length
#   content bytes
#   footer map               (same serde as the header)
#   u64 BE total block length (same value as block size — lets readers
#                             traverse the file backwards)
#
# Block types used here: COMMAND (0, rollback markers), DELETE (1),
# AVRO_DATA (3). An AVRO_DATA content is [u32 version][u32 record count]
# then per record [u32 size][avro binary datum] — the record schema rides
# in the SCHEMA header. A DELETE content is [u32 version][u32 count] then
# per key [u32 size][UTF-8 record key]; real Hudi wraps delete keys in a
# HoodieDeleteRecordList avro — ours is self-consistent writer/reader
# serde of the same information, documented divergence.
#
# Correctness rules the reader enforces (the MOR crux):
# - a block merges ONLY if its INSTANT_TIME header names a COMPLETED
#   timeline instant ≤ the as-of time (blocks from crashed/in-flight
#   writers are invisible — the timeline, not the file, is the commit);
# - a COMMAND block with TARGET_INSTANT_TIME masks earlier blocks of
#   that instant in the same file (log-level rollback marker);
# - within a slice, blocks apply in (instant_time, log version) order;
#   the last writer of a record key wins, delete beats earlier upsert.

_LOG_MAGIC = b"#HUDI#"
_LOG_FORMAT_VERSION = 1
BLOCK_COMMAND, BLOCK_DELETE, BLOCK_CORRUPT, BLOCK_AVRO_DATA = 0, 1, 2, 3
(
    HEADER_INSTANT_TIME,
    HEADER_TARGET_INSTANT_TIME,
    HEADER_SCHEMA,
    HEADER_COMMAND_BLOCK_TYPE,
) = 0, 1, 2, 3


def _write_meta_map(out, entries: dict[int, str]) -> None:
    import struct

    out.write(struct.pack(">I", len(entries)))
    for k in sorted(entries):
        v = entries[k].encode()
        out.write(struct.pack(">II", k, len(v)))
        out.write(v)


def _read_meta_map(inp) -> dict[int, str]:
    import struct

    (n,) = struct.unpack(">I", inp.read(4))
    out: dict[int, str] = {}
    for _ in range(n):
        k, ln = struct.unpack(">II", inp.read(8))
        out[k] = inp.read(ln).decode()
    return out


def append_log_block(
    path: str,
    block_type: int,
    headers: dict[int, str],
    content: bytes,
    footers: dict[int, str] | None = None,
) -> None:
    """Append one block to a log file (create if absent). Appends are
    the only write mode — Hudi log files are append-only by design."""
    import io
    import struct

    body = io.BytesIO()
    body.write(struct.pack(">II", _LOG_FORMAT_VERSION, block_type))
    _write_meta_map(body, headers)
    body.write(struct.pack(">Q", len(content)))
    body.write(content)
    _write_meta_map(body, footers or {})
    payload = body.getvalue()
    size = len(payload) + 8  # + trailing total-length field
    with open(path, "ab") as fh:
        fh.write(_LOG_MAGIC)
        fh.write(struct.pack(">Q", size))
        fh.write(payload)
        fh.write(struct.pack(">Q", size))


def read_log_blocks(path: str) -> list[tuple[int, dict[int, str], bytes]]:
    """Parse every block of a log file → [(type, headers, content)].
    Corruption (bad magic, truncated block, trailer mismatch) raises —
    never silently skipped."""
    import io
    import struct

    with open(path, "rb") as fh:
        data = fh.read()
    out: list[tuple[int, dict[int, str], bytes]] = []
    pos = 0
    while pos < len(data):
        if data[pos : pos + 6] != _LOG_MAGIC:
            raise ValueError(f"{path}@{pos}: bad log block magic")
        pos += 6
        (size,) = struct.unpack_from(">Q", data, pos)
        pos += 8
        block = data[pos : pos + size]
        if len(block) != size:
            raise ValueError(f"{path}@{pos}: truncated log block")
        pos += size
        b = io.BytesIO(block)
        ver, btype = struct.unpack(">II", b.read(8))
        if ver != _LOG_FORMAT_VERSION:
            raise ValueError(f"{path}: log format version {ver}")
        headers = _read_meta_map(b)
        (clen,) = struct.unpack(">Q", b.read(8))
        content = b.read(clen)
        if len(content) != clen:
            raise ValueError(f"{path}: truncated block content")
        _footers = _read_meta_map(b)
        (trailer,) = struct.unpack(">Q", b.read(8))
        if trailer != size:
            raise ValueError(
                f"{path}: block trailer {trailer} != size {size}"
            )
        out.append((btype, headers, content))
    return out


# --- record serde (flat primitive schemas) --------------------------------

_SPARK_TO_AVRO = {
    "long": "long", "integer": "int", "double": "double", "float": "float",
    "string": "string", "boolean": "boolean", "binary": "bytes",
}


def _avro_schema_of(schema: T.StructType) -> dict:
    fields = []
    for f in schema.fields:
        t = _SPARK_TO_AVRO.get(f.dataType.typeName())
        if t is None:
            raise NotImplementedError(
                f"MOR record serde: column {f.name} has type "
                f"{f.dataType.simpleString()} — flat primitives only; "
                "cast/flatten before writing"
            )
        fields.append({"name": f.name, "type": ["null", t] if f.nullable else t})
    return {"type": "record", "name": "HoodieRecord", "fields": fields}


def _encode_data_block(records: list[dict], avro_schema: dict) -> bytes:
    import io
    import struct

    from iceberg_metadata_pipeline_spark.catalog import avro_io

    out = io.BytesIO()
    out.write(struct.pack(">II", 1, len(records)))
    for rec in records:
        buf = io.BytesIO()
        avro_io.write_datum(buf, avro_schema, rec)
        payload = buf.getvalue()
        out.write(struct.pack(">I", len(payload)))
        out.write(payload)
    return out.getvalue()


def _decode_data_block(content: bytes, headers: dict[int, str]) -> list[dict]:
    import io
    import json as _json
    import struct

    from iceberg_metadata_pipeline_spark.catalog import avro_io

    schema = _json.loads(headers[HEADER_SCHEMA])
    b = io.BytesIO(content)
    _ver, count = struct.unpack(">II", b.read(8))
    recs = []
    for _ in range(count):
        (sz,) = struct.unpack(">I", b.read(4))
        recs.append(avro_io.read_datum(io.BytesIO(b.read(sz)), schema))
    return recs


def _encode_data_block_arrow(batch, avro_schema: dict) -> bytes | None:
    """Vectorized twin of :func:`_encode_data_block` (optimization r13):
    one column-wise avro encode over the Arrow batch + a numpy
    interleave of the 4-byte big-endian record-length prefixes.
    Byte-identical output (pinned in tests/test_round13_opt.py); returns
    None when the schema falls outside the flat vectorized subset (the
    caller then uses the per-record reference path). NaN doubles stay
    VALUES here — the MOR serde's pinned semantics."""
    import struct

    import numpy as np

    from iceberg_metadata_pipeline_spark.ingest import avro_vector

    plan = avro_vector.compile_plan(avro_schema)
    if plan is None:
        return None
    body, lens = avro_vector.encode_batch(plan, batch, nan_as_null=False)
    n = len(lens)
    head = struct.pack(">II", 1, n)
    if n == 0:
        return head
    # interleave [>I length][record body] without a per-record loop
    out = np.empty(4 * n + len(body), np.uint8)
    rec_off = np.zeros(n + 1, np.int64)
    np.cumsum(lens + 4, out=rec_off[1:])
    len_be = lens.astype(">u4").view(np.uint8).reshape(n, 4)
    out[rec_off[:-1, None] + np.arange(4)] = len_be
    src_off = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=src_off[1:])
    idx = np.arange(len(body), dtype=np.int64) + np.repeat(
        rec_off[:-1] + 4 - src_off[:-1], lens
    )
    out[idx] = np.frombuffer(body, np.uint8)
    return head + out.tobytes()


def _decode_data_block_arrow(content: bytes, headers: dict[int, str]):
    """Vectorized twin of :func:`_decode_data_block`: the 4-byte length
    prefixes give every record start for free, so the whole block
    decodes as one Arrow batch (no structural scan, no per-record
    dicts). Returns None when the schema is outside the flat subset."""
    import json as _json
    import struct

    from iceberg_metadata_pipeline_spark.ingest import avro_vector

    schema = _json.loads(headers[HEADER_SCHEMA])
    plan = avro_vector.compile_plan(schema)
    if plan is None:
        return None
    _ver, count = struct.unpack_from(">II", content, 0)
    starts = [0] * count
    pos = 8
    unpack = struct.unpack_from
    for i in range(count):
        starts[i] = pos + 4
        pos += 4 + unpack(">I", content, pos)[0]
    return avro_vector.decode_batch(plan, content, count, record_starts=starts)


def _encode_delete_block(keys: list[str]) -> bytes:
    import io
    import struct

    out = io.BytesIO()
    out.write(struct.pack(">II", 1, len(keys)))
    for k in keys:
        kb = str(k).encode()
        out.write(struct.pack(">I", len(kb)))
        out.write(kb)
    return out.getvalue()


def _decode_delete_block(content: bytes) -> list[str]:
    import io
    import struct

    b = io.BytesIO(content)
    _ver, count = struct.unpack(">II", b.read(8))
    keys = []
    for _ in range(count):
        (sz,) = struct.unpack(">I", b.read(4))
        keys.append(b.read(sz).decode())
    return keys


# --- per-slice merge (the MOR read path) -----------------------------------


def _data_block_table(content: bytes, headers: dict[int, str]):
    """One data block → an Arrow table: the vectorized decode, or the
    per-record reference decode when the schema is outside its subset."""
    import pyarrow as pa

    batch = _decode_data_block_arrow(content, headers)
    if batch is not None:
        return pa.Table.from_batches([batch])
    return pa.Table.from_pylist(_decode_data_block(content, headers))


def conform_table(table, schema):
    """``table``'s columns by name as ``schema`` (a column it lacks reads
    as nulls)."""
    import pyarrow as pa

    have = set(table.column_names)
    return pa.Table.from_arrays(
        [
            table.column(f.name).cast(f.type)
            if f.name in have
            else pa.nulls(table.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def merge_file_slice(
    base_path: str | None,
    logs: list[tuple[str, str]],
    key_field: str,
    valid_instants: frozenset | set,
    as_of: str = "",
    schema=None,
):
    """Merge one file slice — base parquet rows + its log blocks — into
    one Arrow table (columns as ``schema``, by default the first data
    source's). ``logs`` is [(path, deltacommit instant)] already sorted
    in apply order. A row survives unless a LATER valid block names its
    record key, as an upsert or a delete: each block is an equality
    delete at its instant over everything before it, and within one
    block the last duplicate of a key wins. One reverse sweep applies
    that rule; only the key column becomes Python values, as
    ``str(value)`` — the form delete blocks store. Rows come out base
    first, then each block's survivors in apply order. This runs INSIDE
    a task (one per slice), exactly like Hudi's own MOR scan, so nothing
    here is driver-sized."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # (rows, None) per data source, (None, keys) per delete block
    layers = [(pq.read_table(base_path), None)] if base_path is not None else []
    for lpath, _linstant in logs:
        blocks = read_log_blocks(lpath)
        rolled = {
            h.get(HEADER_TARGET_INSTANT_TIME)
            for bt, h, _c in blocks
            if bt == BLOCK_COMMAND
        }
        for bt, h, content in blocks:
            it = h.get(HEADER_INSTANT_TIME)
            if (
                it is None
                or it not in valid_instants
                or (as_of and it > as_of)
                or it in rolled
            ):
                continue
            if bt == BLOCK_AVRO_DATA:
                layers.append((_data_block_table(content, h), None))
            elif bt == BLOCK_DELETE:
                layers.append((None, _decode_delete_block(content)))
            elif bt != BLOCK_COMMAND:
                raise NotImplementedError(
                    f"{lpath}: log block type {bt} (COMMAND/DELETE/"
                    "AVRO_DATA implemented)"
                )
    if schema is None:
        schema = next((t.schema for t, _k in layers if t is not None and t.num_columns), None)
    if schema is None:
        return pa.table({})
    named: set[str] = set()  # keys a later block upserts or deletes
    kept = []
    for table, deleted in reversed(layers):
        if table is None:
            named.update(deleted)
            continue
        if not table.num_rows:
            continue
        keys = [str(k) for k in table.column(key_field).to_pylist()]
        take = []
        for i in range(len(keys) - 1, -1, -1):
            if keys[i] not in named:
                named.add(keys[i])
                take.append(i)
        if take:
            kept.append(conform_table(table.take(take[::-1]), schema))
    return pa.concat_tables(kept[::-1]) if kept else schema.empty_table()


# --- MOR write path ---------------------------------------------------------

_SPARK_TO_ARROW_NAME = {
    "long": "int64", "integer": "int32", "double": "float64",
    "float": "float32", "string": "string", "boolean": "bool_",
    "binary": "binary",
}


def _arrow_schema_of(schema: T.StructType):
    import pyarrow as pa

    fields = []
    for f in schema.fields:
        nm = _SPARK_TO_ARROW_NAME.get(f.dataType.typeName())
        if nm is None:
            raise NotImplementedError(
                f"MOR base-file writer: column {f.name} has type "
                f"{f.dataType.simpleString()} — flat primitives only"
            )
        fields.append(pa.field(f.name, getattr(pa, nm)(), f.nullable))
    return pa.schema(fields)


def create_mor_table(
    location: str,
    name: str,
    partition_fields: list[str],
    record_key_field: str,
    schema: T.StructType,
) -> None:
    """A MERGE_ON_READ table needs what COW does not: a record key (the
    merge identity) and a create schema (log blocks carry rows, so the
    row shape must be pinned before the first base file exists)."""
    if record_key_field not in [f.name for f in schema.fields]:
        raise ValueError(f"record key {record_key_field!r} not in schema")
    _avro_schema_of(schema)  # fail fast on unsupported types
    write_properties(
        location,
        {
            "hoodie.table.name": name,
            "hoodie.table.type": "MERGE_ON_READ",
            "hoodie.table.version": "6",
            "hoodie.timeline.layout.version": "1",
            "hoodie.table.base.file.format": "PARQUET",
            "hoodie.populate.meta.fields": "false",
            "hoodie.datasource.write.hive_style_partitioning": "true",
            "hoodie.table.partition.fields": ",".join(partition_fields),
            "hoodie.table.recordkey.fields": record_key_field,
            "hoodie.table.create.schema": json.dumps(schema.jsonValue()),
            "hoodie.table.checksum": "0",
        },
    )


def _mor_schema(props: dict[str, str]) -> T.StructType:
    raw = props.get("hoodie.table.create.schema")
    if not raw:
        raise ValueError("hoodie.table.create.schema missing (not a table "
                         "created by create_mor_table?)")
    return T.StructType.fromJson(json.loads(raw))


def _group_file_id(partition_path: str, idx: int) -> str:
    return (
        str(uuid.UUID(hashlib.md5(f"{partition_path}#{idx}".encode()).hexdigest()))
        + "-0"
    )


def bulk_insert_mor(location: str, rows, n_file_groups: int = 2) -> str:
    """Initial load: split rows per partition into ``n_file_groups``
    file groups by record-key hash, write parquet base files, record one
    ``deltacommit``. A DataFrame input takes the DISTRIBUTED path (one
    Spark task per file group — hudi_mor_dist.bulk_insert_mor_df); a
    list[dict] runs in-process, kept for the pure-Python oracle fuzz
    (tests/test_hudi_mor.py) and byte-parity with the distributed twin
    (same md5 placement, same naming, same stats)."""
    if not isinstance(rows, list):
        from iceberg_metadata_pipeline_spark.catalog.hudi_mor_dist import (
            bulk_insert_mor_df,
        )

        return bulk_insert_mor_df(rows, location, n_file_groups)
    import pyarrow as pa
    import pyarrow.parquet as pq

    props = read_properties(location)
    schema = _mor_schema(props)
    key_field = props["hoodie.table.recordkey.fields"]
    part_fields = [c for c in props.get("hoodie.table.partition.fields", "").split(",") if c]
    arrow_schema = _arrow_schema_of(schema)
    t = begin_instant(location, "deltacommit")
    by_group: dict[tuple[str, int], list[dict]] = {}
    for r in rows:
        ppath = _hive_partition_path({c: r.get(c) for c in part_fields}, part_fields)
        g = int(hashlib.md5(str(r[key_field]).encode()).hexdigest(), 16) % n_file_groups
        by_group.setdefault((ppath, g), []).append(r)
    stats: dict[str, list[dict]] = {}
    for (ppath, g), group_rows in sorted(by_group.items()):
        _ensure_partition_metadata(location, ppath, t)
        fid = _group_file_id(ppath, g)
        rel = os.path.join(ppath, _base_file_name(fid, t)) if ppath else _base_file_name(fid, t)
        dest = os.path.join(location, rel)
        pq.write_table(pa.Table.from_pylist(group_rows, schema=arrow_schema), dest)
        stats.setdefault(ppath, []).append(
            {
                "fileId": fid,
                "path": rel,
                "prevCommit": "null",
                "numWrites": len(group_rows),
                "numDeletes": 0,
                "numUpdateWrites": 0,
                "numInserts": len(group_rows),
                "totalWriteBytes": os.path.getsize(dest),
                "fileSizeInBytes": os.path.getsize(dest),
                "partitionPath": ppath,
            }
        )
    complete_instant(
        location, t, "deltacommit",
        {
            "partitionToWriteStats": stats,
            "compacted": False,
            "operationType": "BULK_INSERT",
            "extraMetadata": {"schema": json.dumps(schema.jsonValue())},
        },
    )
    return t


def _key_index(state: HudiTableState) -> dict[str, tuple[str, str]]:
    """record key → owning (partition_path, file_id). Base-file keys via
    a single-column columnar read per group plus keys upserted through
    logs — the simple index (real Hudi: bloom filters in base-file
    footers; same contract, cheaper plumbing)."""
    import pyarrow.parquet as pq

    key_field = state.record_key_field
    idx: dict[str, tuple[str, str]] = {}
    for key, bf in state.files.items():
        if bf.path:  # a log-only group's keys live in its logs below
            for v in pq.read_table(bf.path, columns=[key_field]).column(key_field).to_pylist():
                idx[str(v)] = key
        for lg in state.log_files.get(key, []):
            for bt, h, content in read_log_blocks(lg.path):
                if bt == BLOCK_AVRO_DATA and h.get(HEADER_INSTANT_TIME) in state.valid_instants:
                    batch = _decode_data_block_arrow(content, h)
                    if batch is not None:
                        for v in batch.column(key_field).to_pylist():
                            idx[str(v)] = key
                    else:
                        for rec in _decode_data_block(content, h):
                            idx[str(rec[key_field])] = key
    return idx


def _next_log_version(state: HudiTableState, key: tuple[str, str]) -> int:
    return 1 + max((lg.version for lg in state.log_files.get(key, [])), default=0)


def _new_log_only_fid_from_count(ppath: str, n_existing: int) -> str:
    """Deterministic fileId for a log-only group created in partition
    ``ppath``: seeded by the partition and how many groups it already
    has, so re-running the same sequence reproduces the layout — and so
    distributed writer tasks derive the SAME id without coordination."""
    return _group_file_id(f"{ppath}#logonly", n_existing)


def _new_log_only_fid(ppath: str, state: HudiTableState) -> str:
    n = sum(1 for (p, _f) in state.files if p == ppath)
    return _new_log_only_fid_from_count(ppath, n)


def _append_delta_write(
    location: str,
    route: dict[tuple[str, str], tuple[int, bytes]],
    op: str,
    n_updates: dict[tuple[str, str], int],
    n_deletes: dict[tuple[str, str], int],
    state: HudiTableState,
    block_type: int,
    headers_extra: dict[int, str],
) -> str:
    """Shared deltacommit tail: one new log file per touched group, one
    completed instant listing them. Groups absent from ``state.files``
    are being CREATED by this commit as log-only groups — their slice
    anchors at this instant."""
    t = begin_instant(location, "deltacommit")
    stats: dict[str, list[dict]] = {}
    for key, (version, content) in sorted(route.items()):
        ppath, fid = key
        bf = state.files.get(key)
        base_instant = bf.instant_time if bf is not None else t
        if bf is None:
            _ensure_partition_metadata(location, ppath, t)
        rel = os.path.join(ppath, _log_file_name(fid, base_instant, version)) if ppath else _log_file_name(fid, base_instant, version)
        dest = os.path.join(location, rel)
        append_log_block(
            dest, block_type,
            {HEADER_INSTANT_TIME: t, **headers_extra},
            content,
        )
        stats.setdefault(ppath, []).append(
            {
                "fileId": fid,
                "path": rel,
                "prevCommit": base_instant if bf is not None else "null",
                "numWrites": n_updates.get(key, 0),
                "numDeletes": n_deletes.get(key, 0),
                "numUpdateWrites": n_updates.get(key, 0) if bf is not None else 0,
                "numInserts": 0 if bf is not None else n_updates.get(key, 0),
                "totalWriteBytes": os.path.getsize(dest),
                "fileSizeInBytes": os.path.getsize(dest),
                "logVersion": version,
                "partitionPath": ppath,
            }
        )
    complete_instant(
        location, t, "deltacommit",
        {
            "partitionToWriteStats": stats,
            "compacted": False,
            "operationType": op,
            "extraMetadata": {},
        },
    )
    return t


def upsert_mor(location: str, rows) -> str:
    """UPSERT: each record routes to the file group owning its key (new
    keys hash among the groups of their partition) and lands as an
    AVRO_DATA block in a NEW log-file version of that group's current
    slice — no base file is rewritten; that is the point of MOR.
    DataFrame input → distributed path (key-index join + one task per
    touched group); list[dict] → in-process fixture path."""
    if not isinstance(rows, list):
        from iceberg_metadata_pipeline_spark.catalog.hudi_mor_dist import (
            upsert_mor_df,
        )

        return upsert_mor_df(rows, location)
    props = read_properties(location)
    schema = _mor_schema(props)
    key_field = props["hoodie.table.recordkey.fields"]
    part_fields = [c for c in props.get("hoodie.table.partition.fields", "").split(",") if c]
    avro_schema = _avro_schema_of(schema)
    state = read_hudi_table(location)
    idx = _key_index(state)
    groups_of_part: dict[str, list[tuple[str, str]]] = {}
    for key in state.files:
        groups_of_part.setdefault(key[0], []).append(key)
    per_group: dict[tuple[str, str], list[dict]] = {}
    for r in rows:
        k = str(r[key_field])
        key = idx.get(k)
        if key is None:
            ppath = _hive_partition_path({c: r.get(c) for c in part_fields}, part_fields)
            cands = sorted(groups_of_part.get(ppath, []))
            if not cands:
                # empty/partial table: CREATE a log-only file group for
                # this partition (real Hudi's Flink/bucket-index posture —
                # first slice is a log file; compaction writes the first
                # base). One new group per partition per commit.
                key = (ppath, _new_log_only_fid(ppath, state))
                groups_of_part.setdefault(ppath, []).append(key)
            else:
                key = cands[int(hashlib.md5(k.encode()).hexdigest(), 16) % len(cands)]
        per_group.setdefault(key, []).append(r)
    route = {
        key: (
            _next_log_version(state, key),
            _encode_data_block(recs, avro_schema),
        )
        for key, recs in per_group.items()
    }
    return _append_delta_write(
        location, route, "UPSERT",
        {k: len(v) for k, v in per_group.items()}, {}, state,
        BLOCK_AVRO_DATA,
        {HEADER_SCHEMA: json.dumps(avro_schema, separators=(",", ":"))},
    )


def delete_mor(location: str, keys) -> str:
    """Row-level DELETE: record keys land as a DELETE block in the
    owning group's log. Keys not present anywhere are a no-op (SQL
    DELETE semantics). DataFrame input → distributed path; list →
    in-process fixture path."""
    if not isinstance(keys, list):
        from iceberg_metadata_pipeline_spark.catalog.hudi_mor_dist import (
            delete_mor_df,
        )

        return delete_mor_df(keys, location)
    state = read_hudi_table(location)
    idx = _key_index(state)
    per_group: dict[tuple[str, str], list[str]] = {}
    for k in keys:
        key = idx.get(str(k))
        if key is not None:
            per_group.setdefault(key, []).append(str(k))
    route = {
        key: (_next_log_version(state, key), _encode_delete_block(ks))
        for key, ks in per_group.items()
    }
    return _append_delta_write(
        location, route, "DELETE", {},
        {k: len(v) for k, v in per_group.items()}, state,
        BLOCK_DELETE, {},
    )


def compact_mor(location: str, spark=None) -> str:
    """Compaction: per file group with live logs, merge the slice and
    write a NEW base file under a ``commit`` instant (a compaction's
    completed action on a MOR timeline IS ``commit``). Readers at
    instants ≥ t pick the new base and the old logs detach (their
    base_instant no longer matches); time travel before t still merges
    the old slice. With a SparkSession, groups compact as one Spark
    task each (hudi_mor_dist.compact_mor_dist — same unit as the read
    path); without one, in-process (fixture/fuzz path)."""
    if spark is not None:
        from iceberg_metadata_pipeline_spark.catalog.hudi_mor_dist import (
            compact_mor_dist,
        )

        return compact_mor_dist(spark, location)
    import pyarrow.parquet as pq

    props = read_properties(location)
    schema = _mor_schema(props)
    key_field = props["hoodie.table.recordkey.fields"]
    arrow_schema = _arrow_schema_of(schema)
    state = read_hudi_table(location)
    if not state.has_live_logs():
        raise ValueError("nothing to compact: no live log files")
    t = begin_instant(location, "commit")
    stats: dict[str, list[dict]] = {}
    for key in sorted(state.log_files):
        ppath, fid = key
        bf = state.files[key]
        merged = merge_file_slice(
            bf.path or None,  # None: log-only group's first base
            [(lg.path, lg.instant_time) for lg in state.log_files[key]],
            key_field,
            state.valid_instants,
            state.instant,
            arrow_schema,
        )
        rel = os.path.join(ppath, _base_file_name(fid, t)) if ppath else _base_file_name(fid, t)
        dest = os.path.join(location, rel)
        pq.write_table(merged, dest)
        stats.setdefault(ppath, []).append(
            {
                "fileId": fid,
                "path": rel,
                "prevCommit": bf.instant_time,
                "numWrites": merged.num_rows,
                "numDeletes": 0,
                "numUpdateWrites": 0,
                "numInserts": 0,
                "totalWriteBytes": os.path.getsize(dest),
                "fileSizeInBytes": os.path.getsize(dest),
                "partitionPath": ppath,
            }
        )
    complete_instant(
        location, t, "commit",
        {
            "partitionToWriteStats": stats,
            "compacted": True,
            "operationType": "COMPACT",
            "extraMetadata": {"schema": json.dumps(schema.jsonValue())},
        },
    )
    return t


# ---------------------------------------------------------------------------
# savepoint + restore
# ---------------------------------------------------------------------------


def savepoint_hudi(location: str, instant: str | None = None) -> str:
    """SAVEPOINT: mark a completed instant's snapshot as protected —
    clean_hudi will not reclaim any base file (or attached log) that
    snapshot references, and restore_hudi can come back to it. Records
    a ``<t>.savepoint`` instant whose metadata pins the protected file
    list (the same shape real Hudi's savepoint metadata carries)."""
    done = completed_instants(location)
    if not done:
        raise ValueError("nothing to savepoint: no completed instants")
    target = instant or done[-1].time
    if target not in {i.time for i in done}:
        raise ValueError(f"no completed instant {target}")
    state = read_hudi_table(location, target)
    pinned = sorted(
        [os.path.relpath(bf.path, location) for bf in state.files.values()]
        + [
            os.path.relpath(lg.path, location)
            for logs in state.log_files.values()
            for lg in logs
        ]
    )
    t = begin_instant(location, "savepoint")
    complete_instant(
        location, t, "savepoint",
        {
            "savepointedAt": target,
            "comments": "savepoint_hudi",
            "partitionMetadata": {},
            "pinnedFiles": pinned,
        },
    )
    return t


def _savepointed_paths(location: str) -> set[str]:
    out: set[str] = set()
    for ins in [i for i in list_timeline(location)
                if i.state == "completed" and i.action == "savepoint"]:
        md = read_instant_metadata(location, ins)
        for rel in md.get("pinnedFiles") or []:
            out.add(os.path.abspath(os.path.join(location, rel)))
    return out


def restore_hudi(location: str, savepoint_time: str) -> list[str]:
    """RESTORE to a savepoint: roll back every completed write instant
    AFTER the savepointed snapshot (newest first, reusing the rollback
    guard), deleting the files those instants wrote. DESTRUCTIVE by
    design — Hudi's restore rewinds the timeline, unlike Delta's
    RESTORE which appends a compensating commit; that difference is the
    two formats' actual semantics, kept faithfully."""
    sps = [
        i for i in list_timeline(location)
        if i.state == "completed" and i.action == "savepoint"
        and i.time == savepoint_time
    ]
    if not sps:
        raise ValueError(f"no savepoint {savepoint_time}")
    target = read_instant_metadata(location, sps[0])["savepointedAt"]
    removed: list[str] = []
    while True:
        done = completed_instants(location)
        if not done or done[-1].time <= target:
            break
        removed.extend(rollback_hudi(location, done[-1].time))
    return removed


def cluster_hudi(
    location: str, target_file_rows: int = 1_000_000, spark=None
) -> str:
    """CLUSTERING (the COW sibling of compact_mor and Delta's OPTIMIZE):
    bin-pack small base files into ~``target_file_rows`` files per
    partition under ONE ``replacecommit`` — the spec's clustering verb:
    ``partitionToReplaceFileIds`` retires the old file groups atomically
    with the new groups' write stats, so readers see either the old
    layout or the new, never both. Row count is asserted unchanged
    before the instant completes. MOR tables with live logs must
    compact_mor first (clustering replaces base files; orphaned logs
    would silently drop updates). Groups pack independently — the
    distributed form is one task per partition, the same unit as real
    Hudi's clustering plan — taken when a SparkSession is passed
    (hudi_mor_dist.cluster_hudi_dist); the in-process loop remains as
    the fixture/fuzz path."""
    if spark is not None:
        from iceberg_metadata_pipeline_spark.catalog.hudi_mor_dist import (
            cluster_hudi_dist,
        )

        return cluster_hudi_dist(spark, location, target_file_rows)
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = read_hudi_table(location)
    if state.has_live_logs():
        raise ValueError(
            "live log files present; run compact_mor() before clustering "
            "(replacing a base file would orphan its logs' updates)"
        )
    by_part: dict[str, list[BaseFile]] = {}
    for (_ppath, _fid), bf in state.files.items():
        if bf.num_records < target_file_rows:
            by_part.setdefault(bf.partition_path, []).append(bf)
    plan = {p: bfs for p, bfs in by_part.items() if len(bfs) > 1}
    if not plan:
        return state.instant
    t = begin_instant(location, "replacecommit")
    stats: dict[str, list[dict]] = {}
    replaced: dict[str, list[str]] = {}
    for ppath, bfs in sorted(plan.items()):
        tables = [pq.read_table(bf.path) for bf in sorted(bfs, key=lambda b: b.file_id)]
        merged = pa.concat_tables(tables)
        n_before = sum(tb.num_rows for tb in tables)
        n_files = max(1, -(-merged.num_rows // target_file_rows))
        rows_per = -(-merged.num_rows // n_files)
        written = 0
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
            dest = os.path.join(location, rel)
            pq.write_table(chunk, dest)
            written += chunk.num_rows
            stats.setdefault(ppath, []).append(
                {
                    "fileId": fid,
                    "path": rel,
                    "prevCommit": "null",
                    "numWrites": chunk.num_rows,
                    "numDeletes": 0,
                    "numUpdateWrites": 0,
                    "numInserts": chunk.num_rows,
                    "totalWriteBytes": os.path.getsize(dest),
                    "fileSizeInBytes": os.path.getsize(dest),
                    "partitionPath": ppath,
                }
            )
        if written != n_before:
            raise RuntimeError(
                f"clustering row-count mismatch in {ppath!r}: {n_before} in, "
                f"{written} out — refusing to complete the instant"
            )
        replaced[ppath] = sorted(bf.file_id for bf in bfs)
    complete_instant(
        location, t, "replacecommit",
        {
            "partitionToWriteStats": stats,
            "partitionToReplaceFileIds": replaced,
            "compacted": False,
            "operationType": "CLUSTER",
            "extraMetadata": {},
        },
    )
    return t
