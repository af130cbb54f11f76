"""Real Iceberg table-format (spec v2) writer + reader — no jar, no deps.

The reference's warehouse is a genuine Iceberg HadoopCatalog
(ImportParquetFolders.java:49-50): ``<table>/metadata/v{N}.metadata.json``
+ ``version-hint.text`` + avro manifest lists + avro manifests. The
metacat catalog (metacat.py) reimplements the *semantics* over its own
JSON; this module closes the *format* gap in both directions using the
from-scratch avro codec (avro_io.py) and the public table spec:

    https://iceberg.apache.org/spec/        (v2 tables)

- ONE snapshot writer. ``_data_entry``/``_delete_entry`` build manifest
  entries (typed identity partition values, v3 ``first_row_id``),
  ``_write_manifest`` writes one avro manifest and returns its
  manifest-list row, and ``_commit_snapshot`` writes the manifest list,
  appends the snapshot, logs its base in ``metadata-log`` and claims
  ``v{base+1}.metadata.json`` atomically (``_claim_metadata_version``).
  ``_commit`` is the one retry loop: a lost claim rebuilds on the new
  latest metadata, so concurrent writers stack instead of superseding
  each other. Its callers:

  - ``export_iceberg_table(table, dest)`` — a spec-v2/v3 Iceberg table
    directory for a metacat table's current snapshot. A full export is
    fresh metadata (the skeleton ``create_iceberg_table_dir`` also
    publishes) plus one data manifest and one delete manifest (position
    and equality delete files; predicate deletes materialize as
    position deletes; v3 mints deletion vectors). A refresh of an
    existing mirror commits only the churn: new files and delete files
    (``_mirror_commit``, the table's own sequence numbers), a
    delete-free rewrite (affected manifests rewritten to survivors), or
    a pure append. METADATA-ONLY: data-file paths point at the original
    parquet (absolute paths are legal per spec), the same philosophy as
    the reference's no-copy registration
    (ImportParquetFolders.java:102-117). A real Iceberg runtime pointed
    at ``dest`` can open the table.
  - ``commit_iceberg_append(location, files)`` — a direct append or
    overwrite on ANY v2/v3 directory (the pyice writer's commit);
    pyrest's writer posts a manifest and list written by the same
    ``_write_manifest``/``_write_manifest_list`` through REST instead.
  - ``create_iceberg_table_dir`` and ``add_column_with_default`` —
    metadata-only commits through the same claim.
- ``read_iceberg_table(location)`` — parse a real Iceberg table dir
  (ours or one written by the actual runtime): latest metadata JSON →
  current snapshot → manifest list → manifests → live data files +
  Spark schema. Schema-driven avro decoding means stats maps written as
  Iceberg's array<k/v-record> shape read fine.
- ``import_iceberg_table(...)`` — register a real Iceberg table's live
  files into metacat (the jar-free version of
  tests/test_iceberg_interop.py's ingest direction).

Deliberate scope bounds (documented, loud):

- A full export lists only the CURRENT snapshot (every snapshot listed
  must have a readable manifest list); a mirror refresh stacks its
  snapshot on the mirror's history. Time travel stays a metacat feature.
- Delete entries export in the spec's encodings; an entry kind other
  than position, equality or predicate refuses until
  ``rewrite_data_files`` folds it.
- Hidden partitioning: IDENTITY transform fields are carried through —
  the exported spec declares them with proper source-ids/field-ids and
  each data file's partition record holds its typed values, so a real
  reader prunes on them. Non-identity transforms (bucket/truncate/
  calendar) are dropped from the exported spec: metacat encodes calendar
  values as strings where the Iceberg spec wants epoch-relative ints,
  and its bucket hash is xxhash64, not murmur3 — exporting either would
  make a real reader prune WRONGLY. Dropping them is pruning-neutral
  (files and rows stay exact).

Scale note: this is driver-side metadata I/O — O(#files) tiny records,
~100k entries for a 100 TB table, well under a second of avro encoding.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from iceberg_metadata_pipeline_spark.catalog import avro_io
from iceberg_metadata_pipeline_spark.catalog.metacat import (
    LINEAGE_FILE,
    Catalog,
    DataFileEntry,
    RowDelete,
    Table,
    apply_deletes,
    local_frame,
    plain_path,
)

# ---------------------------------------------------------------------------
# schema conversion: Spark StructType <-> Iceberg schema JSON (with field ids)
# ---------------------------------------------------------------------------

_PRIM_TO_ICE = {
    "boolean": "boolean",
    "tinyint": "int",
    "smallint": "int",
    "integer": "int",
    "int": "int",
    "bigint": "long",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    # Spark TimestampType is an instant (session-tz) → timestamptz;
    # TimestampNTZ is the wall-clock 'timestamp'
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}

_ICE_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "date": T.DateType(),
    "timestamptz": T.TimestampType(),
    "timestamp": T.TimestampNTZType(),
    "uuid": T.StringType(),
    "time": T.LongType(),  # microseconds-of-day; no Spark TIME type
}


class _IdGen:
    def __init__(self, start: int = 0):
        self.last = start

    def next(self) -> int:
        self.last += 1
        return self.last


def _spark_type_to_ice(dt: T.DataType, ids: _IdGen):
    s = dt.simpleString()
    if s in _PRIM_TO_ICE:
        return _PRIM_TO_ICE[s]
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", s)
    if m:
        return f"decimal({m.group(1)}, {m.group(2)})"
    if isinstance(dt, T.ArrayType):
        eid = ids.next()
        return {
            "type": "list",
            "element-id": eid,
            "element": _spark_type_to_ice(dt.elementType, ids),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = ids.next(), ids.next()
        return {
            "type": "map",
            "key-id": kid,
            "key": _spark_type_to_ice(dt.keyType, ids),
            "value-id": vid,
            "value": _spark_type_to_ice(dt.valueType, ids),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        return {"type": "struct", "fields": _ice_fields(dt, ids)}
    raise ValueError(f"no Iceberg mapping for Spark type {s!r}")


def _ice_fields(st: T.StructType, ids: _IdGen) -> list[dict]:
    out = []
    for f in st.fields:
        fid = ids.next()  # parent field id assigned before nested ids, per spec examples
        out.append(
            {
                "id": fid,
                "name": f.name,
                "required": not f.nullable,
                "type": _spark_type_to_ice(f.dataType, ids),
            }
        )
    return out


def spark_schema_to_iceberg(st: T.StructType, schema_id: int = 0) -> tuple[dict, int]:
    """→ (Iceberg schema JSON, last-column-id)."""
    ids = _IdGen()
    fields = _ice_fields(st, ids)
    return {"type": "struct", "schema-id": schema_id, "fields": fields}, ids.last


def _ice_type_to_spark(t) -> T.DataType:
    if isinstance(t, str):
        if t in _ICE_TO_SPARK:
            return _ICE_TO_SPARK[t]
        m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        m = re.fullmatch(r"fixed\[(\d+)\]", t)
        if m:
            return T.BinaryType()
        raise ValueError(f"unknown Iceberg type {t!r}")
    kind = t["type"]
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"], _ice_type_to_spark(f["type"]), not f.get("required", False)
                )
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(
            _ice_type_to_spark(t["element"]), not t.get("element-required", False)
        )
    if kind == "map":
        return T.MapType(
            _ice_type_to_spark(t["key"]),
            _ice_type_to_spark(t["value"]),
            not t.get("value-required", False),
        )
    raise ValueError(f"unknown Iceberg type {t!r}")


def iceberg_schema_to_spark(schema: dict) -> T.StructType:
    return _ice_type_to_spark(dict(schema, type="struct"))


# ---------------------------------------------------------------------------
# avro schemas for manifests (field ids per the spec's Manifests section)
# ---------------------------------------------------------------------------


def _opt(name: str, typ, fid: int) -> dict:
    return {"name": name, "type": ["null", typ], "default": None, "field-id": fid}


def _req(name: str, typ, fid: int) -> dict:
    return {"name": name, "type": typ, "field-id": fid}


def manifest_entry_schema(
    partition_fields: list[dict] | None = None, format_version: int = 2
) -> dict:
    """v2 ``manifest_entry`` avro schema. Partition struct r102 carries
    the identity partition fields (field-ids 1000+), or is the
    unpartitioned empty record — see module docstring scope bounds.
    ``format_version=3`` adds the row-lineage ``first_row_id`` data-file
    field (spec v3, field-id 142)."""
    for pf in partition_fields or []:
        if pf["source_type"] not in _PART_AVRO:
            raise ValueError(
                f"identity partition on unsupported source type "
                f"{pf['source_type']!r}: no spec-typed manifest encoding "
                "here (e.g. decimal needs fixed-bytes); drop the partition "
                "field or widen _PART_AVRO"
            )
    r102_fields = [
        {
            "name": pf["name"],
            "type": ["null", _PART_AVRO[pf["source_type"]]],
            "default": None,
            "field-id": 1000 + i,
        }
        for i, pf in enumerate(partition_fields or [])
    ]
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            _req("content", "int", 134),
            _req("file_path", "string", 100),
            _req("file_format", "string", 101),
            _req("partition", {"type": "record", "name": "r102", "fields": r102_fields}, 102),
            _req("record_count", "long", 103),
            _req("file_size_in_bytes", "long", 104),
            _opt("column_sizes", _kv_array("k117_v118", 117, 118, "long"), 108),
            _opt("value_counts", _kv_array("k119_v120", 119, 120, "long"), 109),
            _opt("null_value_counts", _kv_array("k121_v122", 121, 122, "long"), 110),
            _opt("nan_value_counts", _kv_array("k138_v139", 138, 139, "long"), 137),
            _opt("lower_bounds", _kv_array("k126_v127", 126, 127, "bytes"), 125),
            _opt("upper_bounds", _kv_array("k129_v130", 129, 130, "bytes"), 128),
            _opt("key_metadata", "bytes", 131),
            _opt("split_offsets", {"type": "array", "items": "long"}, 132),
            _opt("equality_ids", {"type": "array", "items": "int"}, 135),
            _opt("sort_order_id", "int", 140),
        ],
    }
    if format_version >= 3:
        data_file["fields"].append(_opt("first_row_id", "long", 142))
        # v3 deletion-vector fields: the puffin blob a DV entry pins
        data_file["fields"].append(_opt("referenced_data_file", "string", 143))
        data_file["fields"].append(_opt("content_offset", "long", 144))
        data_file["fields"].append(_opt("content_size_in_bytes", "long", 145))
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _req("status", "int", 0),
            _opt("snapshot_id", "long", 1),
            _opt("sequence_number", "long", 3),
            _opt("file_sequence_number", "long", 4),
            _req("data_file", data_file, 2),
        ],
    }


def _kv_array(name: str, kid: int, vid: int, vtype: str) -> dict:
    """Iceberg encodes int-keyed maps as array<record{key,value}> with
    logicalType map (avro maps require string keys)."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [_req("key", "int", kid), _req("value", vtype, vid)],
        },
        "logicalType": "map",
    }


def manifest_list_schema(format_version: int = 2) -> dict:
    """``format_version=3`` adds the row-lineage ``first_row_id``
    manifest field (spec v3, field-id 520): the starting row id to
    assign to null-``first_row_id`` ADDED data files in the manifest."""
    field_summary = {
        "type": "record",
        "name": "r508",
        "fields": [
            _req("contains_null", "boolean", 509),
            _opt("contains_nan", "boolean", 518),
            _opt("lower_bound", "bytes", 510),
            _opt("upper_bound", "bytes", 511),
        ],
    }
    return {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            _req("manifest_path", "string", 500),
            _req("manifest_length", "long", 501),
            _req("partition_spec_id", "int", 502),
            _req("content", "int", 517),
            _req("sequence_number", "long", 515),
            _req("min_sequence_number", "long", 516),
            _req("added_snapshot_id", "long", 503),
            _req("added_files_count", "int", 504),
            _req("existing_files_count", "int", 505),
            _req("deleted_files_count", "int", 506),
            _req("added_rows_count", "long", 512),
            _req("existing_rows_count", "long", 513),
            _req("deleted_rows_count", "long", 514),
            _opt("partitions", {"type": "array", "items": field_summary}, 507),
            _opt("key_metadata", "bytes", 519),
        ]
        + ([_opt("first_row_id", "long", 520)] if format_version >= 3 else []),
    }


# ---------------------------------------------------------------------------
# identity partitions: metacat's string values -> typed manifest values
# ---------------------------------------------------------------------------


_PART_AVRO = {
    "bigint": "long",
    "long": "long",
    "int": "int",
    "integer": "int",
    "smallint": "int",
    "tinyint": "int",
    "boolean": "boolean",
    "double": "double",
    "float": "float",
    "date": {"type": "int", "logicalType": "date"},
    # Spark TimestampType (instant) → timestamptz; NTZ → timestamp. Both
    # are epoch-micros longs in manifests per the spec's Avro appendix.
    "timestamp": {
        "type": "long",
        "logicalType": "timestamp-micros",
        "adjust-to-utc": True,
    },
    "timestamp_ntz": {
        "type": "long",
        "logicalType": "timestamp-micros",
        "adjust-to-utc": False,
    },
    "string": "string",
}


def _identity_spec(table: Table) -> list[dict]:
    """The exportable (identity-only) partition fields of the default
    spec: [{name, source, source_type}] — see module docstring for why
    non-identity transforms are dropped."""
    from iceberg_metadata_pipeline_spark.catalog.partitioning import parse_transform

    types = {f.name: f.dataType.simpleString() for f in table.schema.fields}
    out = []
    for pf in table.default_spec:
        if parse_transform(pf.transform)[0] == "identity":
            out.append(
                {"name": pf.name, "source": pf.source, "source_type": types[pf.source]}
            )
    return out


def _typed_partition_value(raw, source_type: str):
    """metacat stores partition values as path-parsed strings; Iceberg
    manifests store them typed."""
    import datetime as _dt

    if raw is None:
        return None
    if source_type in ("bigint", "long", "int", "integer", "smallint", "tinyint"):
        return int(raw)
    if source_type == "boolean":
        return str(raw).lower() in ("true", "1")
    if source_type in ("double", "float"):
        return float(raw)
    if source_type == "date":
        return (_dt.date.fromisoformat(str(raw)) - _dt.date(1970, 1, 1)).days
    if source_type in ("timestamp", "timestamp_ntz"):
        # metacat stores the Spark partition-dir render (ISO, space sep);
        # manifests store epoch micros (exact integer arithmetic)
        ts = _dt.datetime.fromisoformat(str(raw))
        return (ts - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if source_type == "string":
        return str(raw)
    raise ValueError(
        f"identity partition on unsupported source type {source_type!r}: "
        "no spec-typed manifest encoding here (e.g. decimal needs "
        "fixed-bytes); drop the partition field or widen _PART_AVRO"
    )


# ---------------------------------------------------------------------------
# the one snapshot writer: manifest entries, manifests, manifest list,
# atomic version claim
# ---------------------------------------------------------------------------


@dataclass
class _Shape:
    """What every manifest of one commit records in its header: the
    format version, the current schema JSON and the default partition
    spec, plus that spec's identity fields as
    ``[{name, source_type}]`` (typed per ``_PART_AVRO``)."""

    fv: int
    schema: dict
    spec_id: int
    spec: list
    spec_fields: list


def _shape(md: dict, spec_fields: list | None = None) -> _Shape:
    """The manifest shape of table metadata ``md``; ``spec_fields``
    overrides the identity fields derived from the spec (the exporter
    passes the metacat table's, pyrest the served ones)."""
    schemas = md.get("schemas") or []
    cur_id = md.get("current-schema-id", 0)
    spec_id = int(md.get("default-spec-id", 0) or 0)
    return _Shape(
        int(md["format-version"]),
        next((s for s in schemas if s.get("schema-id", 0) == cur_id), schemas[0]),
        spec_id,
        next(
            (
                s["fields"]
                for s in md.get("partition-specs", [])
                if s.get("spec-id", 0) == spec_id
            ),
            [],
        ),
        _spec_identity_fields(md) if spec_fields is None else spec_fields,
    )


def _new_ids() -> tuple[int, str]:
    """A fresh (snapshot id, commit uuid) pair."""
    return uuid.uuid4().int & 0x7FFFFFFFFFFFFFFF, str(uuid.uuid4())


def _entry(snapshot_id: int, seq: int, data_file: dict) -> dict:
    """An ADDED manifest entry at data and file sequence number ``seq``."""
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": data_file,
    }


def _data_entry(
    f: DataFileEntry,
    snapshot_id: int,
    seq: int,
    spec_fields: list[dict],
    first_row_id: int | None = None,
) -> dict:
    """The ADDED manifest entry of one data file: typed identity
    partition values (files registered before the spec carry nulls,
    never pruned — as in metacat) and, on v3, its ``first_row_id``."""
    data_file = {
        "content": 0,
        "file_path": os.path.abspath(f.path),
        "file_format": f.format or "PARQUET",
        "partition": {
            pf["name"]: _typed_partition_value(
                (f.partition or {}).get(pf["name"]), pf["source_type"]
            )
            for pf in spec_fields
        },
        "record_count": int(f.record_count),
        "file_size_in_bytes": int(f.file_size_bytes),
    }
    if first_row_id is not None:
        data_file["first_row_id"] = int(first_row_id)
    return _entry(snapshot_id, seq, data_file)


def _delete_parts(deletes, default_seq: int) -> list[tuple]:
    """The live parts of metacat position/equality delete entries as
    ``(path, content, seq, key_cols, rows)``: a directory expands to its
    parquet parts, and zero-row parts are skipped (they delete nothing,
    and every export of the same state must list the same parts)."""
    from iceberg_metadata_pipeline_spark.ingest.discover import (
        find_parquet_files,
    )

    import pyarrow.parquet as _pq

    out = []
    for d in deletes:
        content = 1 if d["kind"] == "position" else 2
        cols = tuple(d.get("key_cols") or ()) if content == 2 else ()
        root = d["path"]
        for p in sorted(find_parquet_files(root) if os.path.isdir(root) else [root]):
            rows = _pq.read_metadata(p).num_rows
            if rows:
                seq = int(d.get("seq") or default_seq)
                out.append((os.path.abspath(p), content, seq, cols, rows))
    return out


def _delete_entry(part: tuple, snapshot_id: int, source_ids: dict) -> dict:
    """The ADDED manifest entry of one ``_delete_parts`` part; equality
    columns resolve to field ids of the exported schema."""
    path, content, seq, cols, rows = part
    data_file = {
        "content": content,
        "file_path": path,
        "file_format": "PARQUET",
        "partition": {},
        "record_count": int(rows),
        "file_size_in_bytes": os.path.getsize(path),
    }
    if content == 2:
        bad = [c for c in cols if c not in source_ids]
        if bad:
            raise ValueError(f"equality delete keys {bad} not in the exported schema")
        data_file["equality_ids"] = [source_ids[c] for c in cols]
    return _entry(snapshot_id, seq, data_file)


def _write_manifest(
    path: str,
    shape: _Shape,
    entries: list[dict],
    snapshot_id: int,
    seq: int,
    content: int = 0,
    first_row_id: int | None = None,
) -> dict:
    """Write one avro manifest (``content`` 0 = data, 1 = deletes) and
    return its manifest-list row. Delete manifests carry the
    unpartitioned spec: spec-id 0 on an unpartitioned table, else the
    empty spec 1 that ``_commit_snapshot`` declares. The row's sequence
    number is the commit's (never below an entry's), its min the
    entries' lowest; ADDED and EXISTING entries count separately."""
    deletes = content != 0
    spec_id = (1 if shape.spec_fields else 0) if deletes else shape.spec_id
    avro_io.write_container(
        path,
        manifest_entry_schema([] if deletes else shape.spec_fields, shape.fv),
        entries,
        extra_meta={
            "schema": json.dumps(shape.schema, separators=(",", ":")).encode(),
            "schema-id": str(shape.schema.get("schema-id", 0)).encode(),
            "partition-spec": json.dumps(
                [] if deletes else shape.spec, separators=(",", ":")
            ).encode(),
            "partition-spec-id": str(spec_id).encode(),
            "format-version": str(shape.fv).encode(),
            "content": b"deletes" if deletes else b"data",
        },
    )
    seqs = [int(e["sequence_number"]) for e in entries]
    added = [e for e in entries if e["status"] == 1]
    existing = [e for e in entries if e["status"] == 0]

    def records(es):
        return sum(int(e["data_file"].get("record_count") or 0) for e in es)

    return {
        "manifest_path": os.path.abspath(path),
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": max([seq] + seqs),
        "min_sequence_number": min(seqs, default=seq),
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(added),
        "existing_files_count": len(existing),
        "deleted_files_count": 0,
        "added_rows_count": records(added),
        "existing_rows_count": records(existing),
        "deleted_rows_count": 0,
        **({"first_row_id": first_row_id} if shape.fv >= 3 else {}),
    }


def _write_manifest_list(
    path: str, fv: int, rows: list[dict], snapshot_id: int, parent, seq: int
) -> None:
    avro_io.write_container(
        path,
        manifest_list_schema(fv),
        rows,
        extra_meta={
            "format-version": str(fv).encode(),
            "snapshot-id": str(snapshot_id).encode(),
            "parent-snapshot-id": str("null" if parent is None else parent).encode(),
            "sequence-number": str(seq).encode(),
        },
    )


def _current_manifests(location: str, md: dict) -> tuple[list[dict], int, int]:
    """The current snapshot's manifest-list rows, normalized to this
    writer's list schema (foreign lists may carry extra optional
    fields), with its total-records and total-data-files."""
    sid = md.get("current-snapshot-id")
    if sid in (None, -1):
        return [], 0, 0
    snap = next(s for s in md["snapshots"] if int(s["snapshot-id"]) == int(sid))
    mlist = _clean_path(snap["manifest-list"])
    if not os.path.isabs(mlist):
        mlist = os.path.join(location, "metadata", os.path.basename(mlist))
    _, _, rows = avro_io.read_container(mlist)
    keep = [f["name"] for f in manifest_list_schema(md["format-version"])["fields"]]
    summary = snap.get("summary", {})
    return (
        [{k: r.get(k) for k in keep} for r in rows],
        int(summary.get("total-records", 0)),
        int(summary.get("total-data-files", 0)),
    )


def _version_of(meta_path: str | None) -> int | None:
    m = re.fullmatch(r"v(\d+)\.metadata\.json", os.path.basename(meta_path or ""))
    return int(m.group(1)) if m else None


def _read_base(location: str) -> tuple[str | None, dict | None]:
    """The metadata a commit builds on: the highest vN by directory
    listing — the version hint is best-effort and can lag mid-race, and
    a hinted-but-stale base would make every retry lose again — else a
    metastore-style ``00000-<uuid>.metadata.json``; (None, None) when
    ``location`` holds no table yet. An unparseable latest version (a
    torn write) reads as ``{}``: a full export still claims the version
    above it, and every commit that builds on its content refuses."""
    versions = list_metadata_versions(location)
    try:
        path = (
            os.path.join(location, "metadata", f"v{versions[-1]}.metadata.json")
            if versions
            else _latest_metadata_path(location)
        )
    except FileNotFoundError:
        return None, None
    try:
        with open(path) as fh:
            return path, json.load(fh)
    except ValueError:  # JSONDecodeError, or undecodable bytes
        return path, {}


def _claim_metadata_version(
    location: str, metadata: dict, version: int
) -> str | None:
    """ATOMICALLY claim v<version>.metadata.json — ``os.link`` fails
    with FileExistsError if another writer got there first, which is
    exactly HadoopTableOperations' rename-without-replace commit claim.
    Returns the path, or None on conflict (caller rebuilds + retries)."""
    meta_dir = os.path.join(location, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    meta_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    tmp = meta_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(metadata, fh, indent=2)
    try:
        os.link(tmp, meta_path)
    except FileExistsError:
        os.unlink(tmp)
        return None
    os.unlink(tmp)
    # the hint is best-effort and must only ADVANCE: a slower claimant
    # overwriting a newer hint would point readers (and a committer's
    # retry) at a stale-but-existing version
    hint = os.path.join(meta_dir, "version-hint.text")
    try:
        with open(hint) as fh:
            cur = int(fh.read().strip())
    except (OSError, ValueError):
        cur = -1
    if version > cur:
        tmp_h = f"{hint}.tmp-{version}"
        with open(tmp_h, "w") as fh:
            fh.write(str(version))
        os.replace(tmp_h, hint)
    return meta_path


def _publish(
    location: str, base: str | None, base_md: dict | None, md: dict
) -> str | None:
    """Claim the version right after ``base`` for ``md``, logging the
    base in ``metadata-log``. None when another writer claimed it
    first. (``_claim_metadata_version`` is looked up at call time, so a
    test can stand a racing writer in front of it.)"""
    if base_md:
        md["metadata-log"] = list(base_md.get("metadata-log", [])) + [
            {
                "timestamp-ms": int(base_md.get("last-updated-ms", 0)),
                "metadata-file": os.path.abspath(base),
            }
        ]
    return _claim_metadata_version(location, md, (_version_of(base) or 0) + 1)


def _commit(location: str, attempt):
    """The one optimistic-concurrency loop every writer commits through:
    ``attempt(base, base_md)`` builds on the latest metadata (``base``
    None for a new table) and returns the claimed path, or None when a
    concurrent commit claimed base+1 first — the next round rebuilds on
    that commit instead of superseding it. Manifests of a lost round
    stay unreferenced until ``expire_iceberg_metadata``."""
    for _attempt in range(8):
        p = attempt(*_read_base(location))
        if p is not None:
            return p
    raise RuntimeError(
        f"commit conflict at {location} persisted through 8 rebuild "
        "retries — writer storm?"
    )


def _commit_snapshot(
    location: str,
    base: str | None,
    base_md: dict | None,
    md: dict,
    rows: list[dict],
    *,
    snapshot_id: int,
    commit_uuid: str,
    seq: int,
    summary: dict,
    timestamp_ms: int | None = None,
    first_row_id: int | None = None,
    next_row_id: int | None = None,
    properties: dict | None = None,
) -> str | None:
    """Commit one snapshot over ``md``: write the manifest list of
    ``rows``, append the snapshot and its snapshot-log entry, move
    ``refs.main``, declare the empty spec a new delete manifest rides,
    merge ``properties``, set ``next-row-id``, and claim the version
    after ``base``. Returns the path, or None on a lost claim."""
    now_ms = int(time.time() * 1000)
    fv = int(md["format-version"])
    parent = md.get("current-snapshot-id")
    parent = None if parent in (None, -1) else int(parent)
    mlist = os.path.join(location, "metadata", f"snap-{snapshot_id}-1-{commit_uuid}.avro")
    _write_manifest_list(mlist, fv, rows, snapshot_id, parent, seq)
    snapshot = {
        "snapshot-id": snapshot_id,
        **({"parent-snapshot-id": parent} if parent is not None else {}),
        "sequence-number": seq,
        **({"first-row-id": first_row_id} if fv >= 3 else {}),
        "timestamp-ms": now_ms if timestamp_ms is None else timestamp_ms,
        "manifest-list": os.path.abspath(mlist),
        "summary": {str(k): str(v) for k, v in summary.items()},
        "schema-id": md.get("current-schema-id", 0),
    }
    new_md = dict(md)
    new_md["last-sequence-number"] = max(seq, int(md.get("last-sequence-number", 0)))
    new_md["last-updated-ms"] = now_ms
    new_md["current-snapshot-id"] = snapshot_id
    new_md["snapshots"] = list(md.get("snapshots", [])) + [snapshot]
    new_md["snapshot-log"] = list(md.get("snapshot-log", [])) + [
        {"timestamp-ms": snapshot["timestamp-ms"], "snapshot-id": snapshot_id}
    ]
    new_md["refs"] = dict(
        md.get("refs", {}), main={"snapshot-id": snapshot_id, "type": "branch"}
    )
    specs = list(md.get("partition-specs", []))
    have = {s.get("spec-id", 0) for s in specs}
    new_md["partition-specs"] = specs + [
        {"spec-id": i, "fields": []}
        for i in sorted({int(r["partition_spec_id"]) for r in rows} - have)
    ]
    if properties:
        new_md["properties"] = dict(
            md.get("properties", {}),
            **{str(k): str(v) for k, v in properties.items()},
        )
    if next_row_id is not None:
        new_md["next-row-id"] = next_row_id
    return _publish(location, base, base_md, new_md)


def _table_metadata(
    location: str,
    spark_schema: T.StructType,
    partition: list[tuple[str, str]],
    properties: dict,
    format_version: int,
    table_uuid: str | None = None,
) -> dict:
    """Metadata of a table with no snapshot yet: what
    ``create_iceberg_table_dir`` publishes and a full export commits its
    one snapshot onto. ``partition`` lists identity fields as
    ``(field name, source column)``."""
    ice_schema, last_col = spark_schema_to_iceberg(spark_schema)
    source_ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
    for _name, col in partition:
        if col not in source_ids:
            raise ValueError(f"partition column {col!r} not in schema")
    spec = [
        {
            "name": name,
            "transform": "identity",
            "source-id": source_ids[col],
            "field-id": 1000 + i,
        }
        for i, (name, col) in enumerate(partition)
    ]
    return {
        "format-version": format_version,
        "table-uuid": table_uuid or str(uuid.uuid4()),
        "location": os.path.abspath(location),
        "last-sequence-number": 0,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": last_col,
        "current-schema-id": 0,
        "schemas": [ice_schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec}],
        "last-partition-id": 999 + len(spec),  # field-ids start at 1000
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {str(k): str(v) for k, v in properties.items()},
        "current-snapshot-id": -1,
        **({"next-row-id": 0} if format_version >= 3 else {}),
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
        "refs": {},
    }


# ---------------------------------------------------------------------------
# the writers: full export, mirror refresh, direct append, table creation
# ---------------------------------------------------------------------------


def export_iceberg_table(table: Table, dest: str, format_version: int = 2) -> str:
    """Write a spec-v2 Iceberg table at ``dest`` mirroring ``table``'s
    current snapshot (metadata-only — data paths point at the originals).
    Returns the metadata JSON path. A v2 refresh of an existing mirror
    without predicate deletes commits only the churn and returns the
    current path when nothing changed; every other export (first, v3,
    predicate deletes, drift) is a full export that claims the next vN
    at dest on each call.

    ``format_version=3`` additionally mints ROW LINEAGE (spec v3): each
    data file gets an explicit ``first_row_id`` (a running prefix sum of
    record counts, starting at the snapshot's ``first-row-id`` = 0), the
    manifest-list entry carries the manifest's ``first_row_id``, and the
    table metadata records ``next-row-id`` — the id the next commit
    would assign from. metacat tables don't track lineage internally, so
    the export MINTS ids (exactly what a real v3 writer does on the
    first commit after upgrading a v2 table)."""
    if format_version not in (2, 3):
        raise ValueError(f"unsupported export format-version {format_version}")
    snap = table.current_snapshot
    pos_deletes: list[dict] = []
    eq_deletes: list[dict] = []
    predicates: list[dict] = []
    files: list[DataFileEntry] = []
    if snap is not None:
        # POSITION and EQUALITY delete entries export natively
        # (content=1/2 files in a delete manifest: the v2 spec's own
        # encodings, required so the REST mirror stays servable after a
        # row-level delete commit).
        deletes = table._resolve_deletes(snap)
        pos_deletes = [d for d in deletes if d["kind"] == "position"]
        eq_deletes = [d for d in deletes if d["kind"] == "equality"]
        other = [d for d in deletes if d["kind"] not in ("position", "equality")]
        predicates = [d for d in other if d["kind"] == "predicate"]
        unknown = [d for d in other if d["kind"] != "predicate"]
        if unknown:
            raise ValueError(
                f"{len(unknown)} unresolved merge-on-read delete entries of "
                f"kinds {sorted({d['kind'] for d in unknown})}; run "
                "rewrite_data_files() before export"
            )
        if predicates:
            # PREDICATE entries have no Iceberg spec encoding — an
            # expression delete is metacat-internal. MATERIALIZE each
            # one as a position-delete parquet: run the predicate ONCE,
            # distributed, over the files it applies to (seq-gated) and
            # emit the matched (file, pos) pairs — exactly the rows the
            # expression deletes, now in the spec's own encoding. The
            # parquet lands under the EXPORT's data dir (the table is
            # not mutated); v3 exports fold these into minted DVs like
            # any other position entry.
            from pyspark.sql import functions as F

            os.makedirs(os.path.join(dest, "data"), exist_ok=True)
            all_files = table.snapshot_files(snap["snapshot_id"])
            for d in predicates:
                applicable = [f for f in all_files if f.seq < d["seq"]]
                if not applicable:
                    continue
                src = table._read_files(applicable, with_lineage=True)
                positions = src.filter(
                    F.coalesce(F.expr(d["expr"]), F.lit(False))
                ).select(F.col("__file").alias("file_path"), F.col("__pos").alias("pos"))
                out_dir = os.path.join(
                    dest, "data", "pred-" + uuid.uuid4().hex[:12]
                )
                positions.write.mode("errorifexists").parquet(out_dir)
                pos_deletes.append(
                    {"kind": "position", "path": out_dir, "seq": d.get("seq")}
                )
        files = table.snapshot_files(snap["snapshot_id"])

    # O(churn) fast path: when dest already mirrors this table and the
    # change since the last export is churn — new data files, new
    # row-level delete entries, or a delete-free rewrite — commit only
    # the diff instead of rewriting the full state. This keeps the REST
    # catalog's per-loadTable re-export O(churn) on append-only AND
    # delete-heavy (CDC/GDPR) tables alike. Predicate entries disable
    # it: each export materializes them into fresh uuid-pathed parquets,
    # so the mirror diff can never match.
    if format_version == 2 and files and not predicates:
        inc = _commit(
            dest,
            lambda base, base_md: _try_incremental_export(
                table, dest, files, pos_deletes, eq_deletes, base, base_md
            ),
        )
        if inc is not _FULL:
            return inc

    seq = int(table.meta.get("last_sequence_number", 0)) or 1
    spec_fields = _identity_spec(table)
    md = _table_metadata(
        dest,
        table.schema,
        [(pf["name"], pf["source"]) for pf in spec_fields],
        table.meta.get("properties", {}),
        format_version,
        table.meta.get("table_uuid"),
    )
    md["last-sequence-number"] = seq
    if format_version >= 3:
        md["next-row-id"] = int(table.meta.get("next_row_id", 0))
    if snap is None:
        return _commit(dest, lambda base, base_md: _publish(dest, base, base_md, dict(md)))

    snapshot_id = int(snap["snapshot_id"])
    shape = _shape(md, spec_fields)
    meta_dir = os.path.join(dest, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    commit_uuid = str(uuid.uuid4())
    if format_version >= 3:
        # carry the table's REAL row lineage (metacat mints first_row_id
        # blocks at commit) into the spec field. Rewritten files
        # materialize __row_id physically and carry None — inheritance
        # would re-mint DIFFERENT ids, so refuse loudly rather than
        # silently corrupt lineage.
        for f in files:
            if f.first_row_id is None:
                raise ValueError(
                    f"{f.path}: no first_row_id (rewritten files track "
                    "lineage via a materialized __row_id column, which "
                    "Iceberg v3 cannot express as metadata) — v3 export "
                    "requires explicit per-file lineage"
                )
    # one data manifest holding the snapshot's complete live file set
    rows = [
        _write_manifest(
            os.path.join(meta_dir, f"{commit_uuid}-m0.avro"),
            shape,
            [
                _data_entry(
                    f,
                    snapshot_id,
                    int(f.seq or seq),
                    spec_fields,
                    f.first_row_id if format_version >= 3 else None,
                )
                for f in files
            ],
            snapshot_id,
            seq,
            first_row_id=0,
        )
    ]
    # one DELETE manifest holding every live position-delete (content=1)
    # and equality-delete (content=2, equality_ids resolved against the
    # exported schema) file — v3 mints deletion vectors from the
    # position entries instead
    del_entries = []
    if pos_deletes and format_version >= 3:
        del_entries = _mint_deletion_vectors(
            table, pos_deletes, meta_dir, commit_uuid, snapshot_id, seq
        )
        pos_deletes = []
    source_ids = {f["name"]: f["id"] for f in shape.schema["fields"]}
    del_entries += [
        _delete_entry(part, snapshot_id, source_ids)
        for part in _delete_parts(pos_deletes + eq_deletes, seq)
    ]
    if del_entries:
        rows.append(
            _write_manifest(
                os.path.join(meta_dir, f"{commit_uuid}-d0.avro"),
                shape,
                del_entries,
                snapshot_id,
                seq,
                content=1,
                first_row_id=0,
            )
        )
    records = sum(int(f.record_count) for f in files)
    summary = {
        "operation": "append",
        "added-data-files": len(files),
        "added-records": records,
        "total-records": records,
        "total-data-files": len(files),
    }

    def attempt(base, base_md):
        fresh = dict(md)
        # carry forward puffin statistics still valid for this snapshot
        # (attach_ndv_statistics wrote them into a PREVIOUS vN; a fresh
        # export must not silently drop table stats the CBO relies on)
        kept = [
            s
            for s in (base_md or {}).get("statistics", [])
            if s.get("snapshot-id") == snapshot_id
            and os.path.exists(s.get("statistics-path", ""))
        ]
        if kept:
            fresh["statistics"] = kept
        return _commit_snapshot(
            dest,
            base,
            base_md,
            fresh,
            rows,
            snapshot_id=snapshot_id,
            commit_uuid=commit_uuid,
            seq=seq,
            summary=summary,
            timestamp_ms=int(snap["timestamp_ms"]),
            first_row_id=0,
        )

    return _commit(dest, attempt)


def _mint_deletion_vectors(
    table: Table, pos_deletes, meta_dir, commit_uuid, snapshot_id, seq
) -> list[dict]:
    """v3 MINTS DELETION VECTORS (the spec's only v3 position encoding),
    distributed: one Spark job reads every position-delete parquet,
    groups by referenced data file, and serializes each file's
    roaring-bitmap DV payload INSIDE its task — the driver collects only
    the O(#referenced files) finished blobs and concatenates the puffin
    container, never a position (flat driver RSS in deleted-row count,
    SCALE.md probe). One manifest entry per referenced file pins its
    blob via content_offset/referenced_data_file. Entries carry max(seq)
    (positions name immutable files, so a higher seq never over-applies)."""
    from iceberg_metadata_pipeline_spark.catalog.puffin import write_dv_puffin
    from iceberg_metadata_pipeline_spark.ingest.discover import (
        find_parquet_files,
    )

    del_paths: list[str] = []
    max_seq = seq
    for d in pos_deletes:
        max_seq = max(max_seq, int(d.get("seq") or seq))
        root = d["path"]
        del_paths.extend(find_parquet_files(root) if os.path.isdir(root) else [root])
    if not del_paths:
        return []
    from pyspark.sql import functions as F

    def _mint_dv(pdf):
        import pandas as _pd

        from iceberg_metadata_pipeline_spark.catalog.puffin import (
            encode_dv_payload,
        )

        ps = pdf["pos"].tolist()
        return _pd.DataFrame(
            {
                "file_path": [pdf["file_path"].iloc[0]],
                "payload": [encode_dv_payload(ps)],
                "cardinality": [len(set(ps))],
            }
        )

    blob_rows = (
        table.spark.read.parquet(*sorted(set(del_paths)))
        .select(
            F.regexp_replace(
                F.col("file_path").cast("string"), "^file:/+", "/"
            ).alias("file_path"),
            F.col("pos").cast("long").alias("pos"),
        )
        .groupBy("file_path")
        .applyInPandas(
            _mint_dv, "file_path string, payload binary, cardinality long"
        )
        .collect()
    )
    if not blob_rows:
        return []
    puffin_path = os.path.join(meta_dir, f"{commit_uuid}-dv.puffin")
    blob_meta = write_dv_puffin(
        puffin_path,
        [(r["file_path"], bytes(r["payload"]), r["cardinality"]) for r in blob_rows],
        snapshot_id=snapshot_id,
        seq=max_seq,
    )
    psize = os.path.getsize(puffin_path)
    return [
        _entry(
            snapshot_id,
            max_seq,
            {
                "content": 1,
                "file_path": os.path.abspath(puffin_path),
                "file_format": "PUFFIN",
                "partition": {},
                "record_count": int(blob_meta[ref]["cardinality"]),
                "file_size_in_bytes": psize,
                "referenced_data_file": ref,
                "content_offset": int(blob_meta[ref]["offset"]),
                "content_size_in_bytes": int(blob_meta[ref]["length"]),
            },
        )
        for ref in sorted(blob_meta)
    ]


# _try_incremental_export's answer when only a full export can express
# the change (None means a lost version claim)
_FULL = "full-export"


def _try_incremental_export(
    table: Table,
    dest: str,
    files,
    pos_deletes,
    eq_deletes,
    base: str | None,
    base_md: dict | None,
) -> str | None:
    """One attempt of the churn-only mirror refresh on the dest's
    metadata at ``base``. Returns the new metadata path, the current one
    when nothing moved, None on a lost version claim, or ``_FULL`` when
    the full export must run: first export, v3, schema/spec/property
    drift, foreign state, delete entries that vanished or changed, a
    rewrite while deletes are live, or anything else this fast path
    cannot prove safe. A pure append on a delete-free mirror is a direct
    append (``_append_attempt``); every other churn is
    ``_mirror_commit``."""
    if not base_md:
        return _FULL
    try:
        info = _table_info(dest, base, base_md, decode_dvs=False)
    except (OSError, ValueError, KeyError):
        return _FULL
    md = info.metadata
    if md.get("format-version") != 2:
        return _FULL
    if any(d.is_dv for d in info.delete_files):
        return _FULL  # a v2 mirror never mints DVs; foreign state
    if md.get("table-uuid") != table.meta.get("table_uuid"):
        return _FULL
    # schema / spec / properties must be unchanged (renames, promotes,
    # spec evolution, property removal all take the full path)
    ice_schema, _ = spark_schema_to_iceberg(table.schema)
    cur_id = md.get("current-schema-id", 0)
    served = next(
        (s for s in md.get("schemas", []) if s.get("schema-id", 0) == cur_id),
        None,
    )
    if served != ice_schema:
        return _FULL
    spec_fields = _identity_spec(table)
    try:
        dest_spec = _spec_identity_fields(md)
    except ValueError:
        return _FULL
    if [(p["name"], p["source"]) for p in dest_spec] != [
        (p["name"], p["source"]) for p in spec_fields
    ]:
        return _FULL
    want_props = {
        str(k): str(v) for k, v in table.meta.get("properties", {}).items()
    }
    have_props = md.get("properties", {})
    if any(k not in want_props for k in have_props):
        return _FULL  # property REMOVAL is inexpressible as an append
    changed = {k: v for k, v in want_props.items() if have_props.get(k) != v}
    prior = {os.path.abspath(f.path) for f in info.files}
    cur = {os.path.abspath(f.path): f for f in files}
    removed = prior - set(cur)
    if removed and (info.delete_files or pos_deletes or eq_deletes):
        # a delete-carrying rewrite keeps the full path: the delete-seq
        # bookkeeping across rewritten manifests is where correctness
        # bugs live
        return _FULL
    new = [f for p, f in sorted(cur.items()) if p not in prior]

    # row-level delete diff: the mirror's live delete files must be a
    # subset of the table's parts (same path, content kind, seq,
    # equality cols) — compaction/purge shrinks the set and takes the
    # full path
    table_seq = int(table.meta.get("last_sequence_number", 0)) or 1
    want = {
        part[0]: part
        for part in _delete_parts(list(pos_deletes) + list(eq_deletes), table_seq)
    }
    for d in info.delete_files:
        part = want.get(os.path.abspath(d.path))
        if part is None or (part[1], part[2], tuple(sorted(part[3]))) != (
            int(d.content),
            int(d.seq),
            tuple(sorted(d.equality_cols or ())),
        ):
            return _FULL
    have = {os.path.abspath(d.path) for d in info.delete_files}
    new_dels = [want[p] for p in sorted(want) if p not in have]

    if not (new or new_dels or removed or changed):
        return info.metadata_path  # nothing moved since the last export
    msid = str((table.current_snapshot or {}).get("snapshot_id", ""))
    if not (removed or have or new_dels):
        return _append_attempt(
            dest, base, md, new, properties=changed or None,
            summary_extra={"metacat-snapshot-id": msid},
        )
    return _mirror_commit(
        table, dest, base, md, spec_fields, files, new, new_dels, removed, changed
    )


def _mirror_commit(
    table: Table,
    dest: str,
    base: str,
    md: dict,
    spec_fields: list[dict],
    files,
    new_files,
    new_dels: list[tuple],
    removed: set,
    changed: dict,
) -> str | None:
    """One O(churn) mirror commit carrying the TABLE's own sequence
    numbers (unlike ``commit_iceberg_append``, which stamps mirror-local
    ones — equality deletes must keep applying only to data committed
    strictly before them when appends and deletes interleave between
    refreshes): new data files in one ADDED manifest, new delete parts
    in one delete manifest, prior manifests carried verbatim. For a
    compaction/rewrite (``removed``), each prior manifest that lists a
    removed file rewrites to its surviving entries (EXISTING, original
    sequence numbers: a rewrite must not change when later deletes
    apply), so the work is O(files in affected manifests + new files).
    ``_FULL`` when a survivor's sequence number cannot be resolved."""
    shape = _shape(md, spec_fields)
    seq = int(table.meta.get("last_sequence_number", 0)) or 1
    snapshot_id, commit_uuid = _new_ids()
    meta_dir = os.path.join(dest, "metadata")
    rows = []
    if new_files:
        rows.append(
            _write_manifest(
                os.path.join(meta_dir, f"{commit_uuid}-m0.avro"),
                shape,
                [_data_entry(f, snapshot_id, int(f.seq or seq), spec_fields) for f in new_files],
                snapshot_id,
                seq,
            )
        )
    if new_dels:
        source_ids = {f["name"]: f["id"] for f in shape.schema["fields"]}
        rows.append(
            _write_manifest(
                os.path.join(meta_dir, f"{commit_uuid}-d0.avro"),
                shape,
                [_delete_entry(part, snapshot_id, source_ids) for part in new_dels],
                snapshot_id,
                seq,
                content=1,
            )
        )
    def gone(e):
        return os.path.abspath(_clean_path(e["data_file"]["file_path"])) in removed

    n_rewritten = 0
    for i, row in enumerate(_current_manifests(dest, md)[0]):
        live = []
        if removed:
            mpath = _clean_path(row["manifest_path"])
            if not os.path.isabs(mpath):
                mpath = os.path.join(meta_dir, os.path.basename(mpath))
            live = [
                e
                for e in avro_io.read_container(mpath)[2]
                if int(e.get("status", 0)) != 2
            ]
        if not any(gone(e) for e in live):
            rows.append(row)
            continue
        n_rewritten += 1
        survivors = []
        for e in live:
            if gone(e):
                continue
            eff_seq = e.get("sequence_number")
            if eff_seq is None:
                eff_seq = row.get("sequence_number")
            if eff_seq is None:
                return _FULL  # cannot prove the survivor's seq
            survivors.append(
                {
                    "status": 0,  # EXISTING: carried through the rewrite
                    "snapshot_id": e.get("snapshot_id") or snapshot_id,
                    "sequence_number": int(eff_seq),
                    "file_sequence_number": int(e.get("file_sequence_number") or eff_seq),
                    "data_file": e["data_file"],
                }
            )
        if survivors:  # else every entry was removed: the manifest drops
            rows.append(
                _write_manifest(
                    os.path.join(meta_dir, f"{commit_uuid}-rw{i}.avro"),
                    shape,
                    survivors,
                    snapshot_id,
                    seq,
                )
            )
    # served-id mapping: the metacat snapshot this mirror commit
    # represents — planTableScan resolves loadTable-served ids through
    # it (time travel + stream tailing over REST)
    summary = {"metacat-snapshot-id": (table.current_snapshot or {}).get("snapshot_id", "")}
    if removed:
        summary.update(
            {
                "operation": "replace",
                "deleted-data-files": len(removed),
                "rewritten-manifests": n_rewritten,
            }
        )
    else:
        summary.update(
            {
                "operation": "overwrite" if new_dels else "append",
                "added-delete-files": len(new_dels),
                "added-records": sum(int(f.record_count) for f in new_files),
            }
        )
    summary.update(
        {
            "added-data-files": len(new_files),
            "total-records": sum(int(f.record_count) for f in files),
            "total-data-files": len(files),
        }
    )
    return _commit_snapshot(
        dest,
        base,
        md,
        md,
        rows,
        snapshot_id=snapshot_id,
        commit_uuid=commit_uuid,
        # a rewrite's snapshot never sits below the mirror's last seq
        seq=max(seq, int(md.get("last-sequence-number", 0))) if removed else seq,
        summary=summary,
        properties=changed,
    )


def create_iceberg_table_dir(
    dest: str,
    spark_schema: T.StructType,
    partition_by: list[str] | None = None,
    properties: dict | None = None,
    format_version: int = 2,
) -> str:
    """Create an EMPTY Iceberg v2/v3 table directory at ``dest`` (no
    snapshot) directly — no metacat table, no sidecar. ``partition_by``
    declares identity partition fields on top-level columns. The
    returned metadata path is v1; commits stack via
    ``commit_iceberg_append``."""
    if format_version not in (2, 3):
        raise ValueError(f"unsupported format-version {format_version}")
    md = _table_metadata(
        dest,
        spark_schema,
        [(c, c) for c in partition_by or []],
        properties or {},
        format_version,
    )
    return _commit(dest, lambda base, base_md: _publish(dest, base, base_md, dict(md)))


def _spec_identity_fields(md: dict) -> list[dict]:
    """The default spec of a loaded metadata dict as the
    [{name, source, source_type}] shape the manifest writer takes —
    identity transforms only; anything else refuses loudly (a direct
    commit cannot compute bucket/truncate partition values)."""
    schemas = md.get("schemas") or ([md["schema"]] if "schema" in md else [])
    cur_id = md.get("current-schema-id", 0)
    schema_json = next(
        (s for s in schemas if s.get("schema-id", 0) == cur_id), schemas[0]
    )
    by_id = {f["id"]: f for f in schema_json["fields"]}
    default_spec_id = md.get("default-spec-id", 0)
    spec_fields = next(
        (
            s["fields"]
            for s in md.get("partition-specs", [])
            if s.get("spec-id", 0) == default_spec_id
        ),
        [],
    )
    out = []
    for pf in spec_fields:
        if pf.get("transform") != "identity" or pf.get("source-id") not in by_id:
            raise ValueError(
                f"direct commit supports identity partition transforms only "
                f"(spec field {pf.get('name')!r} is {pf.get('transform')!r})"
            )
        src = by_id[pf["source-id"]]
        styp = src["type"] if isinstance(src["type"], str) else "nested"
        out.append({"name": pf["name"], "source": src["name"], "source_type": styp})
    return out


def commit_iceberg_append(
    location: str,
    files: list[DataFileEntry],
    *,
    overwrite: bool = False,
    extra_properties: dict | None = None,
    summary_extra: dict | None = None,
) -> str:
    """TRUE manifest-append commit against ANY Iceberg v2/v3 directory —
    whether this repo's exporter, ``create_iceberg_table_dir``, or a
    foreign writer produced it. Writes ONE new avro manifest holding
    only the new files, a new manifest list that re-references the prior
    snapshot's manifests verbatim (append) or drops them (overwrite),
    and the next vN.metadata.json — O(churn) per commit, never a
    rewrite of table history. The commit reads the LIVE latest
    metadata, so appends from different writers stack instead of
    superseding each other (reference parity: the stock
    iceberg-spark-runtime commit path the reference relies on,
    re-expressed jar-free).

    v3 tables mint row lineage: explicit ``first_row_id`` per new file
    from the table's ``next-row-id``. Returns the new metadata path.

    CONCURRENT writers: the new metadata version is claimed ATOMICALLY
    (``_commit``); on conflict the whole commit REBUILDS against the new
    latest metadata and retries — appends never lose each other."""
    return _commit(
        location,
        lambda base, md: _append_attempt(
            location, base, md, files, overwrite=overwrite,
            properties=extra_properties, summary_extra=summary_extra,
        ),
    )


def _append_attempt(
    location: str,
    base: str | None,
    md: dict | None,
    files: list[DataFileEntry],
    *,
    overwrite: bool = False,
    properties: dict | None = None,
    summary_extra: dict | None = None,
) -> str | None:
    """One build+claim attempt of a direct append on ``md``: the next
    sequence number (mirror-local), one ADDED manifest, the prior
    manifests carried unless ``overwrite``."""
    if md is None:
        raise FileNotFoundError(f"no Iceberg metadata under {location}/metadata")
    if not md:
        raise ValueError(f"latest Iceberg metadata {base} is unreadable")
    fv = md.get("format-version")
    if fv not in (2, 3):
        raise ValueError(
            f"direct commit supports format-version 2/3 (table is {fv!r}); "
            "rewrite v1 tables via import/export"
        )
    shape = _shape(md)
    seq = int(md.get("last-sequence-number", 0)) + 1
    snapshot_id, commit_uuid = _new_ids()
    first_row = next_row = int(md.get("next-row-id", 0))
    entries = []
    for f in files:
        fr = None
        if fv >= 3:
            fr = f.first_row_id
            if fr is None:
                fr, next_row = next_row, next_row + int(f.record_count)
        entries.append(_data_entry(f, snapshot_id, seq, shape.spec_fields, fr))
    row = _write_manifest(
        os.path.join(location, "metadata", f"{commit_uuid}-m0.avro"),
        shape,
        entries,
        snapshot_id,
        seq,
        first_row_id=first_row,
    )
    carried, total_records, total_files = (
        ([], 0, 0) if overwrite else _current_manifests(location, md)
    )
    records = sum(int(f.record_count) for f in files)
    return _commit_snapshot(
        location,
        base,
        md,
        md,
        [row] + carried,
        snapshot_id=snapshot_id,
        commit_uuid=commit_uuid,
        seq=seq,
        summary={
            "operation": "overwrite" if overwrite else "append",
            "added-data-files": len(files),
            "added-records": records,
            "total-records": total_records + records,
            "total-data-files": total_files + len(files),
            **(summary_extra or {}),
        },
        first_row_id=first_row,
        next_row_id=next_row if fv >= 3 else None,
        properties=properties,
    )


def _metadata_reachable_paths(meta_path: str) -> set[str]:
    """Every file a metadata version keeps alive: its manifest lists,
    the manifests those lists reference, puffin statistics files, and
    data/delete files that live UNDER the table location (external
    absolute paths are never the table's to reclaim — same rule as
    delta's vacuum)."""
    out: set[str] = set()
    with open(meta_path) as fh:
        md = json.load(fh)
    location = md.get("location", os.path.dirname(os.path.dirname(meta_path)))
    for s in md.get("snapshots", []):
        ml = _clean_path(s.get("manifest-list", ""))
        if not ml:
            continue
        out.add(os.path.abspath(ml))
        if not os.path.exists(ml):
            continue
        _, _, mrows = avro_io.read_container(ml)
        for mf in mrows:
            mp = _clean_path(mf["manifest_path"])
            if not os.path.isabs(mp):
                mp = os.path.join(location, "metadata", os.path.basename(mp))
            out.add(os.path.abspath(mp))
            if not os.path.exists(mp):
                continue
            _, _, entries = avro_io.read_container(mp)
            for e in entries:
                fp = _clean_path(e["data_file"]["file_path"])
                out.add(os.path.abspath(fp))
    for st in md.get("statistics", []):
        p = st.get("statistics-path")
        if p:
            out.add(os.path.abspath(_clean_path(p)))
    return out


def expire_iceberg_metadata(
    location: str, keep_last: int = 2, dry_run: bool = False
) -> list[str]:
    """Expire old metadata VERSIONS of an exported Iceberg dir (the
    HadoopTableOperations layout): keep the newest ``keep_last``
    vN.metadata.json files, delete older ones plus every manifest list /
    manifest / puffin stats / location-internal data file reachable
    ONLY from the dropped versions. Files reachable from any kept
    version survive, so current reads and time travel within the
    retained window are untouched; files OUTSIDE the table location are
    never deleted (metadata-only exports point at foreign parquet — the
    table does not own those bytes). Returns the deleted paths."""
    meta_dir = os.path.join(location, "metadata")
    versions = sorted(
        (
            int(m.group(1)),
            os.path.join(meta_dir, f"v{m.group(1)}.metadata.json"),
        )
        for p in glob.glob(os.path.join(meta_dir, "v*.metadata.json"))
        if (m := re.fullmatch(r"v(\d+)\.metadata\.json", os.path.basename(p)))
    )
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the current version stays)")
    dropped = versions[:-keep_last]
    if not dropped:
        return []
    kept_paths: set[str] = set()
    for _v, p in versions[-keep_last:]:
        kept_paths |= _metadata_reachable_paths(p)
    loc_abs = os.path.abspath(location) + os.sep
    victims: list[str] = []
    for _v, p in dropped:
        for f in sorted(_metadata_reachable_paths(p)):
            if (
                f.startswith(loc_abs)
                and f not in kept_paths
                and os.path.lexists(f)
            ):
                victims.append(f)
        victims.append(os.path.abspath(p))
    # dedupe, preserve order
    seen: set[str] = set()
    victims = [v for v in victims if not (v in seen or seen.add(v))]
    if not dry_run:
        for v in victims:
            os.remove(v)
    return victims


# ---------------------------------------------------------------------------
# read / import: Iceberg v2 directory -> files + schema -> metacat
# ---------------------------------------------------------------------------


@dataclass
class DeleteFileEntry:
    """A live merge-on-read delete file (v2 DELETE manifest content).

    content 1 = position deletes (parquet with ``file_path``/``pos``
    columns), content 2 = equality deletes (parquet holding the equality
    columns themselves; ``equality_cols`` resolves the spec's field ids
    against the current schema)."""

    path: str
    content: int
    seq: int
    record_count: int
    equality_cols: list[str] = field(default_factory=list)
    # v3 deletion vectors (PUFFIN-format position deletes): decoded
    # [(referenced data file, row positions)] — set instead of reading
    # the path as a position-delete parquet. None when the file is not a
    # DV, or when the caller asked for descriptors only
    # (``read_iceberg_table(decode_dvs=False)`` — the executor-side
    # decode path: a task resolves the blob itself from the descriptor)
    dv: list[tuple[str, list[int]]] | None = None
    # DV descriptor (always populated for PUFFIN files): blob offset in
    # the puffin file + the single data file it applies to (None = the
    # blob file may cover several data files; readers filter by ref)
    content_offset: int | None = None
    referenced_data_file: str | None = None
    is_dv: bool = False


@dataclass
class IcebergTableInfo:
    location: str
    metadata_path: str
    schema: T.StructType
    snapshot_id: int | None
    files: list[DataFileEntry] = field(default_factory=list)
    metadata: dict = field(default_factory=dict)
    # identity partition fields of the default spec: [(field_name, source
    # column)] — the subset metacat can prune on after import
    identity_partition: list[tuple[str, str]] = field(default_factory=list)
    # live position/equality delete files (merge-on-read state); callers
    # must apply these before trusting row contents — see
    # import_iceberg_table's materializing path
    delete_files: list[DeleteFileEntry] = field(default_factory=list)
    # v3 default values: column name -> typed initial-default — applied
    # to rows from data files written BEFORE the column existed
    defaults: dict = field(default_factory=dict)


def _latest_metadata_path(location: str) -> str:
    meta_dir = os.path.join(location, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = int(fh.read().strip())
        p = os.path.join(meta_dir, f"v{v}.metadata.json")
        if os.path.exists(p):
            return p
    # Fall back to listing (the hint write is best-effort in the real
    # runtime). Sort by the numeric version — 'v10' must beat 'v9', which
    # plain lexicographic order gets wrong; metastore-style
    # 00000-<uuid>.metadata.json names sort the same either way.
    cands = sorted(
        glob.glob(os.path.join(meta_dir, "*.metadata.json")),
        key=lambda p: (
            int(m.group(1)) if (m := re.match(r"v?(\d+)", os.path.basename(p))) else -1,
            os.path.basename(p),
        ),
    )
    if not cands:
        raise FileNotFoundError(f"no Iceberg metadata under {meta_dir}")
    return cands[-1]


def _clean_path(p: str) -> str:
    return p.removeprefix("file:")


def list_metadata_versions(location: str) -> list[int]:
    """Sorted vN metadata versions present (HadoopTableOperations
    layout) — the offset axis for incremental tailing."""
    return sorted(
        int(m.group(1))
        for p in glob.glob(os.path.join(location, "metadata", "v*.metadata.json"))
        if (m := re.fullmatch(r"v(\d+)\.metadata\.json", os.path.basename(p)))
    )


def read_iceberg_table(
    location: str, decode_dvs: bool = True, version: int | None = None
) -> IcebergTableInfo:
    """Parse a real Iceberg v2 table directory into its live data files +
    Spark schema. Works on tables written by export_iceberg_table AND by
    the actual runtime (schema-driven avro decode; both stats-map shapes
    fine because decoding follows the file's own embedded schema).

    ``decode_dvs=False`` returns puffin deletion-vector entries as
    DESCRIPTORS only (path + content_offset + referenced_data_file, no
    decoded positions) — plan-time state stays O(#delete files) so a
    distributed reader can decode per task instead of shipping billions
    of positions from the driver.

    ``version=N`` reads the pinned vN.metadata.json instead of the
    version-hint's latest — the time-travel axis the incremental stream
    diffs along."""
    if version is not None:
        meta_path = os.path.join(
            location, "metadata", f"v{int(version)}.metadata.json"
        )
        if not os.path.exists(meta_path):
            raise FileNotFoundError(f"no metadata version v{version} at {location}")
    else:
        meta_path = _latest_metadata_path(location)
    with open(meta_path) as fh:
        md = json.load(fh)
    return _table_info(location, meta_path, md, decode_dvs)


def _table_info(
    location: str, meta_path: str, md: dict, decode_dvs: bool = True
) -> IcebergTableInfo:
    """``read_iceberg_table`` over metadata already parsed from
    ``meta_path``."""
    if md.get("format-version") not in (1, 2, 3):
        raise ValueError(f"unsupported format-version {md.get('format-version')!r}")
    schemas = md.get("schemas") or ([md["schema"]] if "schema" in md else [])
    cur_id = md.get("current-schema-id", 0)
    schema_json = next(
        (s for s in schemas if s.get("schema-id", 0) == cur_id), schemas[0]
    )
    spark_schema = iceberg_schema_to_spark(schema_json)
    defaults = {
        f["name"]: f["initial-default"]
        for f in schema_json["fields"]
        if "initial-default" in f and f["initial-default"] is not None
    }

    # identity fields of the default spec → (partition field name, source
    # column name, source type) for value carry-through
    field_names = {f["id"]: f["name"] for f in schema_json["fields"]}
    field_types = {
        f["id"]: (f["type"] if isinstance(f["type"], str) else "nested")
        for f in schema_json["fields"]
    }
    default_spec_id = md.get("default-spec-id", 0)
    spec_fields = next(
        (
            s["fields"]
            for s in md.get("partition-specs", [])
            if s.get("spec-id", 0) == default_spec_id
        ),
        [],
    )
    ident = [
        (pf["name"], field_names[pf["source-id"]], field_types[pf["source-id"]])
        for pf in spec_fields
        if pf.get("transform") == "identity" and pf.get("source-id") in field_names
    ]

    snap_id = md.get("current-snapshot-id")
    if snap_id in (None, -1):
        return IcebergTableInfo(
            location, meta_path, spark_schema, None, [], md,
            [(n, s) for n, s, _ in ident], defaults=defaults,
        )
    snap = next(s for s in md["snapshots"] if int(s["snapshot-id"]) == int(snap_id))
    if "manifest-list" in snap:
        mlist = _clean_path(snap["manifest-list"])
        if not os.path.isabs(mlist):
            mlist = os.path.join(location, "metadata", os.path.basename(mlist))
        _, _, manifest_files = avro_io.read_container(mlist)
    elif "manifests" in snap:
        # spec-v1 layout: manifest paths embedded in the snapshot, no
        # manifest-list file; fabricate data-manifest descriptors (v1 has
        # no delete manifests, so content=0 is exact)
        manifest_files = [
            {"manifest_path": p, "content": 0} for p in snap["manifests"]
        ]
    else:
        raise ValueError(
            f"snapshot {snap_id} has neither 'manifest-list' nor 'manifests'"
        )

    id_to_name = {f["id"]: f["name"] for f in schema_json["fields"]}
    files: list[DataFileEntry] = []
    delete_files: list[DeleteFileEntry] = []
    for mf in manifest_files:
        mpath = _clean_path(mf["manifest_path"])
        if not os.path.isabs(mpath):
            mpath = os.path.join(location, "metadata", os.path.basename(mpath))
        _, mmeta, entries = avro_io.read_container(mpath)
        if int(mf.get("content", 0)) != 0:
            # DELETE manifest: live rows = data minus these position/
            # equality deletes. Surface them — import_iceberg_table
            # applies them by materializing live rows (the alternative,
            # importing data files alone, would RESURRECT deleted rows).
            m_seq = int(mf.get("sequence_number") or 0)
            for e in entries:
                if int(e.get("status", 0)) == 2:  # DELETED
                    continue
                df = e["data_file"]
                content = int(df.get("content", 0))
                if content not in (1, 2):
                    raise ValueError(
                        f"delete manifest entry with content={content} "
                        "(expected 1=position or 2=equality)"
                    )
                eq_ids = df.get("equality_ids") or []
                missing = [i for i in eq_ids if i not in id_to_name]
                if missing:
                    raise ValueError(
                        f"equality delete references unknown field ids {missing}"
                    )
                dpath = _clean_path(df["file_path"])
                dv = None
                is_dv = str(df.get("file_format", "")).upper() == "PUFFIN"
                ref = df.get("referenced_data_file")
                off = df.get("content_offset")
                if is_dv:
                    if content != 1:
                        raise ValueError(
                            f"PUFFIN delete file with content={content} "
                            "(deletion vectors are position deletes)"
                        )
                    if decode_dvs:
                        # decode the roaring bitmap(s) here — O(deleted
                        # positions) driver-side metadata; the anti-join
                        # applying them stays distributed
                        from iceberg_metadata_pipeline_spark.catalog.puffin import (
                            read_deletion_vectors,
                        )

                        dv = read_deletion_vectors(
                            dpath, None if off is None else int(off)
                        )
                        if ref is not None:
                            dv = [
                                (r, p)
                                for r, p in dv
                                if plain_path(r) == plain_path(str(ref))
                            ]
                            if not dv:
                                raise ValueError(
                                    f"{dpath}: no deletion vector for referenced "
                                    f"data file {ref}"
                                )
                delete_files.append(
                    DeleteFileEntry(
                        path=dpath,
                        content=content,
                        seq=int(e.get("sequence_number") or m_seq),
                        record_count=int(df["record_count"]),
                        equality_cols=[id_to_name[i] for i in eq_ids],
                        dv=dv,
                        content_offset=None if off is None else int(off),
                        referenced_data_file=None if ref is None else str(ref),
                        is_dv=is_dv,
                    )
                )
            continue
        # v2 sequence-number inheritance: ADDED entries written by real
        # runtimes leave sequence_number null and inherit the manifest's
        # (spec: "sequence number inheritance"); defaulting to 0 instead
        # would make every equality delete (del_seq > data_seq) swallow
        # rows committed at/after the delete, e.g. CDC re-inserted keys
        m_seq = int(mf.get("sequence_number") or 0)
        # v3 row-lineage inheritance: an ADDED data file with a null
        # first_row_id is assigned the manifest's first_row_id plus the
        # record counts of the ADDED files before it in the manifest
        m_first = mf.get("first_row_id")
        next_row = int(m_first) if m_first is not None else None
        for e in entries:
            if int(e.get("status", 0)) == 2:  # DELETED
                continue
            df = e["data_file"]
            if int(df.get("content", 0)) != 0:
                raise NotImplementedError(
                    "delete file entry inside a data manifest; compact the "
                    "source table before import"
                )
            # carry identity partition values into metacat's string form
            # (path-dir representation: ints as digits, dates as ISO) so
            # imported files stay PRUNABLE under the declared spec
            raw_part = df.get("partition") or {}
            part: dict = {}
            for pname, _src, styp in ident:
                v = raw_part.get(pname)
                if v is None:
                    continue
                if styp == "date" and isinstance(v, int):
                    import datetime as _dt

                    v = (_dt.date(1970, 1, 1) + _dt.timedelta(days=v)).isoformat()
                elif styp in ("timestamp", "timestamptz") and isinstance(v, int):
                    # manifests store epoch micros; metacat's pruner
                    # (partitioning._comparable) compares ISO renders, so a
                    # raw digit string would silently mis-prune every file
                    import datetime as _dt

                    v = str(_dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v))
                part[pname] = str(v)
            # the running counter advances ONLY for entries whose
            # first_row_id inheritance actually assigned (spec: explicit
            # first_row_id entries do not consume from the manifest's
            # inherited range — a spec-valid external manifest may mix
            # explicit and null entries, and advancing on explicit ones
            # would shift every later null entry's _row_id)
            fr = df.get("first_row_id")
            if fr is None and next_row is not None and int(e.get("status", 0)) == 1:
                fr = next_row
                next_row += int(df["record_count"])
            files.append(
                DataFileEntry(
                    path=_clean_path(df["file_path"]),
                    record_count=int(df["record_count"]),
                    file_size_bytes=int(df["file_size_in_bytes"]),
                    format=str(df.get("file_format", "PARQUET")),
                    seq=int(e.get("sequence_number") or m_seq),
                    partition=part,
                    first_row_id=None if fr is None else int(fr),
                )
            )
    return IcebergTableInfo(
        location, meta_path, spark_schema, int(snap_id), files, md,
        [(n, s) for n, s, _ in ident], delete_files, defaults=defaults,
    )


def _live_rows_dataframe(
    spark: SparkSession, info: IcebergTableInfo, lineage: bool = False
):
    """Materialize the live rows of a merge-on-read snapshot: data files
    minus position deletes (delete.seq >= data.seq, matched on
    (file, row position)) minus equality deletes (delete.seq > data.seq,
    matched null-safely on the delete file's equality columns).

    Fully distributed: data files scan with ``_metadata.file_path`` /
    ``row_index`` (exact file-relative positions, no zipWithIndex
    shuffle), and metacat's ``apply_deletes`` applies every delete file
    as one broadcast anti-join per delete shape, with the per-file
    sequence map (rows = #files) broadcast only when a delete applies
    to some files but not others."""
    from pyspark.sql import functions as F

    cols = [f.name for f in info.schema.fields]
    seqs = {plain_path(f.path): f.seq for f in info.files}
    data = (
        spark.read.schema(info.schema)
        .parquet(*[f.path for f in info.files])
        .withColumn("__file", F.expr(LINEAGE_FILE))
        .withColumn("__pos", F.col("_metadata.row_index"))
    )
    if lineage:
        missing = [f.path for f in info.files if f.first_row_id is None]
        if missing:
            raise ValueError(
                f"row lineage requested but {len(missing)} data files carry "
                f"no first_row_id (not a v3 lineage table?): {missing[:3]}"
            )
        seq_map = local_frame(
            spark,
            [(plain_path(f.path), f.seq, int(f.first_row_id)) for f in info.files],
            "__file string, __data_seq long, __frid long",
        )
        data = data.join(F.broadcast(seq_map), "__file")

    if info.defaults:
        # v3 initial-default: rows from files written BEFORE a column
        # existed materialize the default — per-file column presence
        # comes from the parquet footers (O(#files) driver metadata, the
        # module's standing posture) and ships as one broadcast flag map;
        # files that HAVE the column keep their values, including
        # explicit nulls (the spec's distinction the naive coalesce()
        # would get wrong)
        import pyarrow.parquet as pq

        dcols = [c for c in info.defaults if c in {f.name for f in info.schema.fields}]
        have = {f.path: set(pq.read_schema(f.path).names) for f in info.files}
        flag_rows = [
            tuple([plain_path(f.path)] + [c in have[f.path] for c in dcols])
            for f in info.files
        ]
        flags = local_frame(
            spark,
            flag_rows,
            ", ".join(["__file string"] + [f"__has_{i} boolean" for i in range(len(dcols))]),
        )
        data = data.join(F.broadcast(flags), "__file")
        for i, c in enumerate(dcols):
            data = data.withColumn(
                c,
                F.when(F.col(f"__has_{i}"), F.col(c)).otherwise(
                    F.lit(info.defaults[c]).cast(info.schema[c].dataType)
                ),
            )

    deletes = []
    for d in info.delete_files:
        if d.content == 1:
            # position deletes apply to data of the same sequence too;
            # a decoded deletion vector has its positions in hand
            deletes.append(
                RowDelete("position", d.seq + 1, path=d.path)
                if d.dv is None
                else RowDelete(
                    "position",
                    d.seq + 1,
                    positions=[(ref, p) for ref, ps in d.dv for p in ps],
                )
            )
        elif d.content == 2:
            if not d.equality_cols:
                raise ValueError(f"equality delete {d.path} has no equality_ids")
            deletes.append(
                RowDelete("equality", d.seq, path=d.path, keys=tuple(d.equality_cols))
            )
    data = apply_deletes(data, deletes, seqs)

    if lineage:
        # spec v3 metadata columns: _row_id = the file's first_row_id +
        # the row's position; MOR-deleted rows are already gone, and the
        # SURVIVORS keep their original ids (positions are file-relative,
        # deletes don't renumber) — exactly the stable-identity guarantee
        # row lineage exists for
        return data.select(
            *cols,
            (F.col("__frid") + F.col("__pos")).alias("_row_id"),
            F.col("__data_seq").alias("_last_updated_sequence_number"),
        )
    return data.select(*cols)


def import_iceberg_table(
    spark: SparkSession,
    catalog: Catalog,
    location: str,
    namespace: str,
    name: str,
) -> Table:
    """Register a real Iceberg table's live data files into metacat —
    the jar-free twin of tests/test_iceberg_interop.py's ingest
    direction. Metadata-only (no data copied), one atomic commit.
    Identity partition fields are re-declared and each file's values
    carried, so partition pruning survives the import.

    A snapshot with live merge-on-read delete files takes the
    MATERIALIZING path instead: live rows (data minus position/equality
    deletes, sequence-number-correct) are computed distributed and
    written as fresh files — the import doubles as the compaction the
    deletes would eventually need anyway. Partition pruning still works:
    append_dataframe routes rows through the declared spec."""
    from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField

    info = read_iceberg_table(location)
    table = catalog.create_table(namespace, name, info.schema)
    if info.delete_files:
        if info.identity_partition:
            table.set_partition_spec(
                [
                    PartitionField(src, "identity", pname)
                    for pname, src in info.identity_partition
                ]
            )
            table = table.refresh()
        table.append_dataframe(_live_rows_dataframe(spark, info))
        return table
    if info.identity_partition:
        spec_id = table.set_partition_spec(
            [
                PartitionField(src, "identity", pname)
                for pname, src in info.identity_partition
            ]
        )
        for f in info.files:
            if f.partition:
                f.spec_id = spec_id
    if info.files:
        table.append_files(info.files)
    return table


def add_column_with_default(
    location: str, name: str, ice_type: str, initial_default
) -> str:
    """Iceberg v3 DEFAULT VALUES: add an optional column to an existing
    v3 table as a pure metadata commit — the new field carries
    ``initial-default`` (what readers materialize for rows in data files
    written BEFORE the column existed) and ``write-default``. No data
    file is touched; at 100 TB this is the difference between a JSON
    write and a full-table backfill. Returns the new metadata path."""

    def attempt(base, md):
        if md is None:
            raise FileNotFoundError(f"no Iceberg metadata under {location}/metadata")
        if not md:
            raise ValueError(f"latest Iceberg metadata {base} is unreadable")
        if int(md.get("format-version", 2)) < 3:
            raise ValueError(
                "initial-default requires format-version 3 (v2 readers would "
                "silently show null); re-export with format_version=3"
            )
        schemas = md.get("schemas") or []
        cur_id = md.get("current-schema-id", 0)
        schema_json = next(s for s in schemas if s.get("schema-id", 0) == cur_id)
        if any(f["name"] == name for f in schema_json["fields"]):
            raise ValueError(f"column {name!r} already exists")
        if not isinstance(ice_type, str) or ice_type not in (
            "boolean", "int", "long", "float", "double", "string", "date",
            "timestamp", "timestamptz",
        ):
            raise NotImplementedError(
                f"initial-default on type {ice_type!r}: JSON-literal primitives "
                "only (binary/uuid/nested need the spec's single-value "
                "serialization, not implemented)"
            )
        new_fid = int(md["last-column-id"]) + 1
        new_schema = {
            "type": "struct",
            "schema-id": cur_id + 1,
            "fields": schema_json["fields"]
            + [
                {
                    "id": new_fid,
                    "name": name,
                    "required": False,
                    "type": ice_type,
                    "initial-default": initial_default,
                    "write-default": initial_default,
                }
            ],
        }
        md2 = dict(
            md,
            schemas=schemas + [new_schema],
            **{
                "current-schema-id": cur_id + 1,
                "last-column-id": new_fid,
                "last-updated-ms": int(time.time() * 1000),
            },
        )
        return _publish(location, base, md, md2)

    return _commit(location, attempt)


def read_iceberg_snapshot(spark: SparkSession, location: str):
    """Scan an Iceberg table's live rows (MOR deletes applied,
    v3 initial-defaults materialized) without lineage columns."""
    info = read_iceberg_table(location)
    return _live_rows_dataframe(spark, info)


def read_iceberg_with_lineage(spark: SparkSession, location: str):
    """Scan a v3 Iceberg table's live rows WITH the spec's row-lineage
    metadata columns: ``_row_id`` (stable table-wide row identity —
    first_row_id + file-relative position, null-inherited per spec) and
    ``_last_updated_sequence_number`` (the data file's sequence number).
    MOR deletes apply first; surviving rows keep their original ids.

    Scale shape identical to the plain import scan: one broadcast of the
    O(#files) (path, seq, first_row_id) map, positions from the parquet
    reader's ``_metadata.row_index`` (no zipWithIndex shuffle)."""
    info = read_iceberg_table(location)
    return _live_rows_dataframe(spark, info, lineage=True)


# ---------------------------------------------------------------------------
# Iceberg VIEW spec (public view-spec: format-version 1 view metadata)
# ---------------------------------------------------------------------------


def export_iceberg_view(catalog, namespace: str, name: str, dest: str) -> str:
    """Write a metacat view as Iceberg view metadata (the public
    view-spec's ``view-metadata.json``): one SQL representation
    (dialect ``spark``), versioned — re-export of a changed definition
    appends a new version entry and moves ``current-version-id``, so
    version history accumulates exactly like the spec's version-log.
    The view's output schema is planned with LIMIT 0 through the
    catalog's SQL front (schema-only, no execution); a view whose
    dependencies are gone exports with an empty schema rather than
    failing (the spec allows schema evolution per version).
    Returns the metadata JSON path."""
    import glob as _glob

    sql = catalog.view_definition(namespace, name)
    try:
        from iceberg_metadata_pipeline_spark.catalog.sqlfront import catalog_sql

        df = catalog_sql(catalog, f"SELECT * FROM ({sql}) LIMIT 0")
        ice_schema, _ = spark_schema_to_iceberg(df.schema)
    except Exception:  # noqa: BLE001 — dependency gone; schema unknown
        ice_schema = {"type": "struct", "schema-id": 0, "fields": []}

    meta_dir = os.path.join(dest, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    now_ms = int(time.time() * 1000)
    existing = sorted(
        _glob.glob(os.path.join(meta_dir, "*.metadata.json")),
        key=lambda p: int(re.match(r"v?(\d+)", os.path.basename(p)).group(1)),
    )
    if existing:
        with open(existing[-1]) as fh:
            md = json.load(fh)
        cur = next(
            v for v in md["versions"] if v["version-id"] == md["current-version-id"]
        )
        if any(
            r.get("type") == "sql" and r.get("sql") == sql
            for r in cur.get("representations", [])
        ):
            return existing[-1]  # definition unchanged — idempotent export
        next_v = int(re.match(r"v?(\d+)", os.path.basename(existing[-1])).group(1)) + 1
        version_id = max(v["version-id"] for v in md["versions"]) + 1
    else:
        md = {
            "view-uuid": str(uuid.uuid4()),
            "format-version": 1,
            "location": os.path.abspath(dest),
            "properties": {},
            "schemas": [],
            "versions": [],
            "version-log": [],
            "current-version-id": 0,
        }
        next_v, version_id = 1, 1
    schema_id = len(md["schemas"])
    ice_schema = dict(ice_schema, **{"schema-id": schema_id})
    md["schemas"].append(ice_schema)
    md["versions"].append(
        {
            "version-id": version_id,
            "timestamp-ms": now_ms,
            "schema-id": schema_id,
            "summary": {"operation": "replace" if version_id > 1 else "create"},
            "default-namespace": [namespace],
            "representations": [
                {"type": "sql", "sql": sql, "dialect": "spark"}
            ],
        }
    )
    md["version-log"].append({"timestamp-ms": now_ms, "version-id": version_id})
    md["current-version-id"] = version_id
    meta_path = os.path.join(meta_dir, f"v{next_v}.metadata.json")
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(md, fh, indent=2)
    os.replace(meta_path + ".tmp", meta_path)
    return meta_path
