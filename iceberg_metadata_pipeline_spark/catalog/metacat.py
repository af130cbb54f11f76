"""Parquet-backed snapshot catalog with Iceberg-style semantics.

The reference registers raw parquet folders as Iceberg tables in a
HadoopCatalog at file:///warehouse — metadata-only appends, data files
never rewritten (ImportParquetFolders.java:102-117), one atomic commit
per folder, snapshot history, and Spark-visible metadata tables.

The Iceberg runtime jar is unavailable in this environment, so this module
re-expresses the same semantics Spark-natively: a directory layout mirroring
the Hadoop catalog (``<warehouse>/<namespace>/<table>/metadata/v{N}.metadata.json``
+ ``version-hint.text``), JSON table metadata with a snapshot log, and scans
that reconstruct a DataFrame from the registered file list via
``spark.read.schema(...).parquet(*files)``. Capabilities mapped:

- metadata-only file registration  → ``Table.append_files``  (A10)
- create-or-load idempotent ingest → ``Catalog.create_table`` (A9)
- namespace ensure                 → ``Catalog.ensure_namespace`` (A7)
- snapshot / time travel           → ``Table.scan(snapshot_id=, as_of_ms=)``
- metadata tables                  → ``Table.snapshots_df/files_df/history_df``
- drop with purge                  → ``Catalog.drop_table`` (A12)
- compaction (rewrite_data_files)  → ``Table.rewrite_data_files``

Scale notes (100 TB): manifests are SHARDED — each commit writes one
immutable per-snapshot delta file (``metadata/snap-<id>.json`` holding the
files added and the paths removed by that commit) and the metadata JSON
holds only O(1)-sized snapshot records. A snapshot's full file list is
reconstructed by walking parent pointers and applying deltas (cached per
Table handle). Commit I/O is therefore O(changed files) + O(#snapshots),
never O(#files-in-table) — at 100 TB / ~400k files with frequent commits,
rewriting full manifests per commit (the naive design, and what a single
JSON document forces) is GBs of metadata churn per append; deltas mirror
Iceberg's manifest-list structure (ImportParquetFolders.java:102-117
commits through the same AppendFiles path). ``expire_snapshots``
checkpoints the oldest surviving snapshot to a full manifest so dropped
parents are never needed again. Scans pass the reconstructed file list to
the DataSource, and Spark still applies parquet row-group pruning per
file; min/max file-level pruning is layered in ``Table.scan(filter=...)``
using the per-file column stats captured at registration (the same stats
ImportParquetFolders registers via DataFiles.Builder.withMetrics).
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class DataFileEntry:
    path: str
    record_count: int
    file_size_bytes: int
    format: str = "PARQUET"
    # optional per-column min/max stats for file-level pruning
    stats: dict[str, Any] = field(default_factory=dict)
    # on-disk column types (DDL strings) captured from the footer at
    # registration — lets scans read old files under their REAL types and
    # cast up after type promotion (int→long etc.), like Iceberg's
    # field-id-based promotion but name-keyed
    types: dict[str, str] = field(default_factory=dict)
    # hidden-partitioning metadata (Iceberg spec v2): the partition tuple
    # this file belongs to and the spec that derived it. Files registered
    # before partitioning (or externally) carry neither and are simply
    # never pruned by partition — correctness does not depend on them.
    partition: dict[str, Any] = field(default_factory=dict)
    spec_id: int | None = None
    # data sequence number (Iceberg v2): the commit order this file was
    # added at. MOR delete entries carry the sequence of THEIR commit and
    # apply only to files with a strictly lower sequence — this is what
    # lets an MOR UPDATE/MERGE commit its rewritten rows and the delete
    # of their old copies atomically without the delete eating the new
    # rows. Files from pre-sequence metadata default to 0 (every stamped
    # delete applies — the old behavior).
    seq: int = 0
    # row lineage (Iceberg v3): the table-wide row id of this file's first
    # row — a row's stable ``_row_id`` is first_row_id + its position.
    # Files whose rows were REWRITTEN (compaction) materialize a physical
    # ``__row_id`` column instead (recorded in ``types``) and carry None
    # here; pre-lineage files carry None and expose NULL row ids.
    first_row_id: int | None = None

    def to_json(self) -> dict:
        doc = {
            "path": self.path,
            "record_count": self.record_count,
            "file_size_bytes": self.file_size_bytes,
            "format": self.format,
            "stats": self.stats,
            "types": self.types,
        }
        if self.partition:
            doc["partition"] = self.partition
        if self.spec_id is not None:
            doc["spec_id"] = self.spec_id
        if self.seq:
            doc["seq"] = self.seq
        if self.first_row_id is not None:
            doc["first_row_id"] = self.first_row_id
        return doc

    @staticmethod
    def from_json(d: dict) -> "DataFileEntry":
        return DataFileEntry(
            d["path"], d["record_count"], d["file_size_bytes"], d.get("format", "PARQUET"),
            d.get("stats", {}), d.get("types", {}),
            d.get("partition", {}), d.get("spec_id"), d.get("seq", 0),
            d.get("first_row_id"),
        )


# ``_metadata.file_path`` is a URI (``file:`` scheme, a space reads
# ``%20``); manifests and delete files hold plain paths. This renders the
# plain path, decoding only paths with an escape (url_decode is costly per
# row); ``+`` is literal in a URI path, so it is shielded from form decoding.
LINEAGE_FILE = (
    "CASE WHEN contains(_metadata.file_path, '%') THEN url_decode(replace("
    "regexp_replace(_metadata.file_path, '^file:/+', '/'), '+', '%2B')) "
    "ELSE regexp_replace(_metadata.file_path, '^file:/+', '/') END"
)


def plain_path(p: str) -> str:
    """The manifest-side twin of LINEAGE_FILE: no ``file:`` scheme, and
    local paths absolute, as Spark qualifies them."""
    p = re.sub(r"^file:/+", "/", p)
    return p if "://" in p else os.path.abspath(p)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side table as SQL ``VALUES`` (a LocalRelation):
    broadcasting it runs no Spark job, unlike createDataFrame's RDD."""
    if not rows:
        return spark.createDataFrame([], schema)
    cols = [c.split() for c in schema.split(",")]

    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return "NULL" if v is None else str(int(v))

    values = ", ".join("(" + ", ".join(map(lit, r)) + ")" for r in rows)
    casts = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    names = ", ".join(n for n, _ in cols)
    return spark.sql(f"SELECT {casts} FROM VALUES {values} AS t({names})")


@dataclass
class RowDelete:
    """One merge-on-read delete for ``apply_deletes``: it removes matching
    rows whose data sequence is below ``seq`` (None: in every file).
    Predicates match where ``expr`` is TRUE; position deletes match the
    ``file_path``/``pos`` rows of the parquet at ``path`` or in-memory
    ``positions`` (deletion vectors); equality deletes match the ``keys``
    columns of the parquet at ``path``."""

    kind: str  # "predicate" | "position" | "equality"
    seq: int | None
    expr: str | None = None
    path: str | None = None
    keys: tuple[str, ...] = ()
    positions: list[tuple[str, int]] = field(default_factory=list)


def live_deletes(
    deletes: list[RowDelete], file_seqs: dict[str, int] | None
) -> list[RowDelete]:
    """The deletes that can remove a row of the files ``file_seqs`` maps
    (plain path → data sequence): one at or below every sequence is
    dropped, one above all of them loses its condition (``seq=None``)."""
    seqs = (file_seqs or {}).values()
    lo, hi = min(seqs, default=0), max(seqs, default=0)
    return [
        d if d.seq is None or d.seq <= hi else dataclasses.replace(d, seq=None)
        for d in deletes
        if d.seq is None or d.seq > lo
    ]


def apply_deletes(
    df: DataFrame,
    deletes: list[RowDelete],
    file_seqs: dict[str, int] | None = None,
) -> DataFrame:
    """Remove what ``deletes`` delete from ``df``, in a plan sized by the
    delete shapes, not by history (Iceberg's delete-file index,
    https://iceberg.apache.org/spec/#scan-planning): predicates fold into
    one Filter; position deletes into one broadcast LEFT ANTI join on
    ``(__file, __pos)``; equality deletes into one per key-column tuple,
    keys matched null-safely (``<=>``, per the spec). The delete files of
    a shape are one parquet scan, each row tagged with its delete's
    sequence by its file's path. The table side never shuffles.

    ``df`` carries ``__file`` (a plain path, see LINEAGE_FILE) and, for
    position deletes, ``__pos``. Deletes that keep a sequence after
    ``live_deletes`` compare it with the row's ``__data_seq``, attached
    by one broadcast join of ``file_seqs`` unless ``df`` carries it."""
    spark = df.sparkSession
    live = live_deletes(deletes, file_seqs)
    top = max((file_seqs or {}).values(), default=0) + 1  # above every file

    def gated(ds: list[RowDelete]) -> bool:
        return any(d.seq is not None for d in ds)

    attach = gated(live) and "__data_seq" not in df.columns
    if attach:
        seq_map = local_frame(spark, list(file_seqs.items()), "__sf string, __data_seq long")
        df = df.join(F.broadcast(seq_map), F.col("__file") == F.col("__sf")).drop("__sf")
    preds = []
    for d in live:
        if d.kind == "predicate":
            hit = F.coalesce(F.expr(d.expr), F.lit(False))
            preds.append(hit if d.seq is None else hit & (F.col("__data_seq") < d.seq))
    if preds:
        df = df.filter(~functools.reduce(lambda a, b: a | b, preds))

    def scan(ds: list[RowDelete], schema, cols: list) -> DataFrame:
        # an explicit read schema: files written before a type promotion
        # read widened, where inference would refuse the mix
        dseq = F.lit(top)
        if gated(ds):
            path = F.expr(LINEAGE_FILE)
            for d in ds:
                root = plain_path(d.path)
                hit = (path == root) | path.startswith(root + "/")
                dseq = F.when(hit, top if d.seq is None else d.seq).otherwise(dseq)
        return spark.read.schema(schema).parquet(*[d.path for d in ds]).select(
            *[c.alias(f"__d{i}") for i, c in enumerate(cols)],
            dseq.cast("long").alias("__dseq"),
        )

    def anti_join(df: DataFrame, ds, frames, on: list[str], null_safe: bool) -> DataFrame:
        eq = (lambda a, b: a.eqNullSafe(b)) if null_safe else (lambda a, b: a == b)
        cond = functools.reduce(
            lambda a, b: a & b, [eq(F.col(c), F.col(f"__d{i}")) for i, c in enumerate(on)]
        )
        if gated(ds):
            cond = cond & (F.col("__data_seq") < F.col("__dseq"))
        dels = functools.reduce(DataFrame.unionByName, frames)
        return df.join(F.broadcast(dels), cond, "left_anti")

    norm = lambda c: F.regexp_replace(F.col(c).cast("string"), r"^file:/+", "/")  # noqa: E731
    pos = [d for d in live if d.kind == "position"]
    frames = []
    if any(d.path for d in pos):
        cols = [norm("file_path"), F.col("pos")]
        frames.append(scan([d for d in pos if d.path], "file_path string, pos long", cols))
    mem = [(f, p, top if d.seq is None else d.seq) for d in pos for f, p in d.positions]
    if mem:  # deletion vectors can hold millions of positions: an RDD
        frames.append(
            spark.createDataFrame(mem, "f string, p long, s long").select(
                norm("f").alias("__d0"), F.col("p").alias("__d1"), F.col("s").alias("__dseq")
            )
        )
    if frames:
        df = anti_join(df, pos, frames, ["__file", "__pos"], False)
    by_keys: dict[tuple[str, ...], list[RowDelete]] = {}
    for d in live:
        if d.kind == "equality":
            by_keys.setdefault(tuple(d.keys), []).append(d)
    for keys, ds in by_keys.items():
        schema = T.StructType([T.StructField(k, df.schema[k].dataType) for k in keys])
        frames = [scan(ds, schema, [F.col(k) for k in keys])]
        df = anti_join(df, ds, frames, list(keys), True)
    return df.drop("__data_seq") if attach else df


class Table:
    """One catalog table: schema + snapshot log over immutable data files."""

    def __init__(self, spark: SparkSession, location: str, meta: dict, version: int = 1):
        self.spark = spark
        self.location = location
        self.meta = meta
        self.version = version  # metadata version this handle last read/wrote
        self._manifest_cache: dict[int, list[DataFileEntry]] = {}
        self._deletes_cache: dict[int, list[dict]] = {}

    # -- metadata access ---------------------------------------------------
    def refresh(self) -> "Table":
        """Re-read the latest committed metadata from disk (after a lost
        CAS, the basis for rebase-and-retry)."""
        meta_dir = os.path.join(self.location, "metadata")
        with open(os.path.join(meta_dir, "version-hint.text")) as fh:
            version = int(fh.read().strip())
        with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as fh:
            self.meta = json.load(fh)
        self.version = version
        self._manifest_cache.clear()
        self._deletes_cache.clear()
        return self

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.meta["schema"])

    @property
    def properties(self) -> dict:
        return self.meta.setdefault("properties", {})

    @property
    def current_snapshot(self) -> dict | None:
        sid = self.meta.get("current_snapshot_id")
        if sid is None:
            return None
        return next(s for s in self.meta["snapshots"] if s["snapshot_id"] == sid)

    # -- hidden partitioning (Iceberg partition specs) ---------------------
    @property
    def partition_specs(self) -> dict[int, list]:
        """All declared specs by id (spec evolution keeps old ids alive:
        files written under an old spec stay prunable under THAT spec)."""
        from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField

        return {
            int(sid): [PartitionField.from_json(f) for f in fields]
            for sid, fields in self.meta.get("partition_specs", {}).items()
        }

    @property
    def default_spec(self) -> list:
        sid = self.meta.get("default_spec_id")
        if sid is None:
            return []
        return self.partition_specs.get(sid, [])

    def set_partition_spec(self, fields: list) -> int:
        """Declare (or evolve to) a new partition spec — metadata-only,
        like Iceberg's ``ALTER TABLE ... WRITE ORDERED BY``/spec evolution:
        existing data files are NOT rewritten; they keep their old spec_id
        and stay prunable under it, while new writes lay out under the new
        spec. Returns the new spec id."""
        for f in fields:
            if not any(sf.name == f.source for sf in self.schema.fields):
                raise ValueError(f"partition source column {f.source} not in schema")
        specs = self.meta.setdefault("partition_specs", {})
        new_id = max((int(s) for s in specs), default=-1) + 1
        specs[str(new_id)] = [f.to_json() for f in fields]
        self.meta["default_spec_id"] = new_id
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1
        return new_id

    def _schema_types(self) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in self.schema.fields}

    def _select_snapshot(
        self, snapshot_id: int | None = None, as_of_ms: int | None = None
    ) -> dict | None:
        snaps = self.meta["snapshots"]
        if snapshot_id is not None:
            snap = next((s for s in snaps if s["snapshot_id"] == snapshot_id), None)
            if snap is None:
                raise ValueError(f"no snapshot {snapshot_id}")
            return snap
        if as_of_ms is not None:
            eligible = [s for s in snaps if s["timestamp_ms"] <= as_of_ms]
            return max(eligible, key=lambda s: s["timestamp_ms"]) if eligible else None
        return self.current_snapshot

    def snapshot_files(self, snapshot_id: int | None = None, as_of_ms: int | None = None) -> list[DataFileEntry]:
        snap = self._select_snapshot(snapshot_id, as_of_ms)
        if snap is None:
            return []
        return self._resolve_manifest(snap)

    def _manifest_file(self, snap: dict) -> str:
        return os.path.join(self.location, "metadata", snap["manifest_file"])

    def _parent(self, snap: dict) -> dict:
        """The parent record a delta-chain walk continues from."""
        pid = snap["parent_snapshot_id"]
        parent = next((s for s in self.meta["snapshots"] if s["snapshot_id"] == pid), None)
        if parent is None:
            raise ValueError(
                f"snapshot {snap['snapshot_id']} parent {pid} expired without checkpoint"
            )
        return parent

    def _resolve_manifest(self, snap: dict) -> list[DataFileEntry]:
        """Reconstruct a snapshot's full file list from its delta chain:
        walk parent pointers back to a root or checkpoint (``full`` delta),
        then apply removed/added going forward. Cached per snapshot on this
        handle — a scan does the walk once, not per call."""
        sid = snap["snapshot_id"]
        cached = self._manifest_cache.get(sid)
        if cached is not None:
            return cached
        delta = self._snapshot_delta(snap)
        parent_id = snap.get("parent_snapshot_id")
        if delta.get("full") or parent_id is None:
            base: list[DataFileEntry] = []
        else:
            base = self._resolve_manifest(self._parent(snap))
        removed = set(delta.get("removed_paths", ()))
        files = [f for f in base if f.path not in removed] + [
            DataFileEntry.from_json(f) for f in delta.get("added", ())
        ]
        self._manifest_cache[sid] = files
        return files

    def _resolve_deletes(self, snap: dict) -> list[dict]:
        """Accumulate merge-on-read delete entries along the delta chain.
        A 'replace' commit that rewrote the whole table through scan()
        clears them (the rows are physically gone); checkpoints carry the
        then-live set forward."""
        sid = snap["snapshot_id"]
        cached = self._deletes_cache.get(sid)
        if cached is not None:
            return cached
        delta = self._snapshot_delta(snap)
        own = list(delta.get("added_deletes", ()))
        parent_id = snap.get("parent_snapshot_id")
        if delta.get("clears_deletes") or delta.get("full") or parent_id is None:
            result = own
        else:
            result = self._resolve_deletes(self._parent(snap)) + own
        self._deletes_cache[sid] = result
        return result

    # -- commits -----------------------------------------------------------
    def _commit(
        self,
        operation: str,
        added: list[DataFileEntry],
        removed_paths: set[str] | None = None,
        added_deletes: list[dict] | None = None,
        clears_deletes: bool = False,
        branch: str | None = None,
        preserve_seq: bool = False,
    ) -> int:
        """One atomic commit of a manifest DELTA: writes an immutable
        per-snapshot delta file (O(changed files)), then CASes the metadata
        JSON whose snapshot records are O(1) each. A lost CAS leaves only a
        harmless orphan delta file (new snapshot id on retry).

        ``branch`` commits onto that branch's lineage instead of main
        (write-audit-publish: staged snapshots are invisible to main scans
        until ``publish_branch`` fast-forwards). The branch is created at
        the current main head if it doesn't exist yet."""
        removed_paths = removed_paths or set()
        if branch is not None:
            refs = self.meta.setdefault("refs", {})
            r = refs.get(branch)
            if r is not None and r["type"] != "branch":
                raise ValueError(f"ref {branch} is a {r['type']}, not a branch")
            parent = (
                r["snapshot_id"] if r is not None else self.meta.get("current_snapshot_id")
            )
        else:
            parent = self.meta.get("current_snapshot_id")
        base = self.snapshot_files(snapshot_id=parent) if parent is not None else []
        # stamp this commit's data sequence number on everything it adds;
        # delete entries that already carry a seq keep it (maintenance
        # commits re-register surviving entries — re-stamping would make
        # them apply to files added since their original commit)
        seq = int(self.meta.get("last_sequence_number", 0)) + 1
        if not preserve_seq:
            for f in added:
                f.seq = seq
        # row lineage (Iceberg v3 next-row-id): every NEW file gets the
        # next block of table-wide row ids, sized by its row count — even
        # rewrite outputs carrying materialized __row_id columns (rows
        # whose materialized id is NULL, e.g. MERGE-inserted rows landing
        # in a rewritten file, inherit first_row_id + position; non-null
        # ids win, so carried ids and fresh blocks never collide). Only
        # metadata-only re-registrations (entries that already carry an
        # id) are left alone.
        next_row_id = int(self.meta.get("next_row_id", 0))
        for f in added:
            if f.first_row_id is None:
                f.first_row_id = next_row_id
                next_row_id += f.record_count
            else:
                # files registered WITH explicit lineage (e.g. imported
                # from an Iceberg v3 table) must push next-row-id past
                # their block, or a later append would mint overlapping ids
                next_row_id = max(next_row_id, int(f.first_row_id) + f.record_count)
        self.meta["next_row_id"] = next_row_id
        # preserve_seq: a metadata-only re-registration (stats update)
        # keeps each file's original sequence — re-stamping would exempt
        # the files from every pending MOR delete
        added_deletes = [
            d if "seq" in d else dict(d, seq=seq) for d in (added_deletes or [])
        ]
        result = [f for f in base if f.path not in removed_paths] + added
        snapshot_id = int(uuid.uuid4().int % (1 << 62))
        manifest_name = f"snap-{snapshot_id}.json"
        _write_manifest_delta(
            os.path.join(self.location, "metadata", manifest_name),
            added,
            removed_paths,
            full=parent is None,
            added_deletes=added_deletes or [],
            clears_deletes=clears_deletes,
        )
        self.meta["snapshots"].append(
            {
                "snapshot_id": snapshot_id,
                "parent_snapshot_id": parent,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "manifest_file": manifest_name,
                "n_added": len(added),
                "n_removed": len(removed_paths),
                "n_files": len(result),
                "n_records": int(sum(f.record_count for f in result)),
            }
        )
        if branch is not None:
            prev_ref = self.meta.get("refs", {}).get(branch) or {}
            self.meta.setdefault("refs", {})[branch] = {
                "snapshot_id": snapshot_id,
                "type": "branch",
                # advancing a branch is not re-creating it: keep its birth
                # time (ref-age retention and .refs depend on it)
                "created_ms": prev_ref.get("created_ms", int(time.time() * 1000)),
            }
        else:
            self.meta["current_snapshot_id"] = snapshot_id
        self.meta["last_sequence_number"] = seq
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1
        self._manifest_cache[snapshot_id] = result
        return snapshot_id

    def append_files(
        self,
        files: list[DataFileEntry],
        dedupe: bool = True,
        branch: str | None = None,
        extra_properties: dict[str, str] | None = None,
    ) -> int:
        """Metadata-only append: one atomic commit registering data files
        in place (zero data movement — ImportParquetFolders.java:102-117).

        Unlike the reference (which re-appends on every run), re-registering
        an already-present path is skipped when ``dedupe`` — re-running an
        import is then a no-op rather than silent row duplication.

        Appends rebase on commit conflict: an append is order-independent,
        so losing the CAS just means re-reading the winner's manifest and
        re-applying (Iceberg's retry semantics for AppendFiles). Rewrite
        ops (delete/update/merge/compact) do NOT rebase — their manifests
        were derived from the pre-commit snapshot — so they surface
        CommitConflictError to the caller.
        """
        for attempt in range(5):
            if branch is not None:
                r = self.meta.get("refs", {}).get(branch)
                head = r["snapshot_id"] if r else self.meta.get("current_snapshot_id")
            else:
                head = self.meta.get("current_snapshot_id")
            current = self.snapshot_files(snapshot_id=head) if head is not None else []
            known = {f.path for f in current}
            new = [f for f in files if not (dedupe and f.path in known)]
            if not new and head is not None:
                return head
            # re-applied on EVERY attempt: refresh() after a lost CAS
            # reloads metadata from disk, which would silently drop a
            # caller's atomic property rider (e.g. the streaming sink's
            # epoch marker) from the retried commit
            if extra_properties:
                self.properties.update(extra_properties)
            try:
                return self._commit("append", new, branch=branch)
            except CommitConflictError:
                if attempt == 4:
                    raise
                self.refresh()

    def clone_from(self, src: "Table") -> int | None:
        """Zero-copy clone (Iceberg's snapshot procedure): register the
        source's CURRENT visible state into this empty table — O(metadata),
        no data moves; both tables then evolve independently over the
        shared files. Two invariants a naive file copy breaks:

        - entries are deep-copied: ``_commit`` stamps ``seq`` in place, so
          registering the source's cached DataFileEntry objects directly
          would corrupt the SOURCE handle's manifest cache (a source
          delete entry with an intermediate sequence number would suddenly
          'apply' to the re-stamped file and wrongly drop rows until
          refresh());
        - pending merge-on-read delete entries carry over WITH their
          original sequence numbers, and the clone's sequence counter
          starts above the source's — the clone shows the same rows the
          source does (deletes included), while post-clone appends stay
          immune to the inherited deletes."""
        if self.meta.get("current_snapshot_id") is not None:
            raise ValueError("clone target must be an empty table")
        # read-semantics state must come along, not just files: the rename
        # map and column defaults drive how _read_files resolves on-disk
        # columns, and the partition specs are what entry.spec_id points
        # into — without them the clone scans the same files WRONG
        # (NULLs where the source shows renamed/defaulted values)
        for key in ("column_renames", "column-defaults", "write.sort-order"):
            if key in src.properties:
                self.properties[key] = src.properties[key]
        if src.meta.get("partition_specs"):
            self.meta["partition_specs"] = json.loads(
                json.dumps(src.meta["partition_specs"])
            )
            self.meta["default_spec_id"] = src.meta.get("default_spec_id")
        files = src.snapshot_files()
        if not files:
            if self.properties or self.meta.get("partition_specs"):
                _write_metadata(self.location, self.meta, self.version + 1)
                self.version += 1
            return None
        copies = []
        for f in files:
            e = DataFileEntry.from_json(f.to_json())
            e.seq = f.seq
            copies.append(e)
        deletes = [dict(d) for d in src._resolve_deletes(src.current_snapshot)]
        self.meta["last_sequence_number"] = int(
            src.meta.get("last_sequence_number", 0)
        )
        return self._commit(
            "snapshot-clone", copies, added_deletes=deletes, preserve_seq=True
        )

    def append_dataframe(self, df: DataFrame, branch: str | None = None) -> int:
        """Write-and-register: materialize df as parquet under the table's
        data dir, then commit (the df.writeTo(...).append() analogue).

        If the table declares a partition spec, the derived ``__p_*``
        columns are computed here (hidden partitioning: the WRITER derives
        them, users never supply them) and the write lays files out in
        Hive-style partition directories. Each file's partition tuple is
        recovered from its path and recorded in the manifest entry — that
        tuple is what scan-time pruning consults, never the directory
        listing (at 100 TB, listing is the enemy; the manifest is O(files)
        metadata already in hand)."""
        # schema-merge writes (Iceberg's write.spark.accept-any-schema +
        # mergeSchema): columns the batch carries but the table doesn't
        # are auto-added (metadata-only) before the write — the standing
        # contract a training pipeline wants when upstream adds fields
        if self.properties.get("write.spark.accept-any-schema") == "true":
            known = {f.name for f in self.schema.fields}
            for f in df.schema.fields:
                if f.name not in known:
                    self.add_column(f.name, f.dataType.simpleString())
        # write-default: a DF omitting a defaulted column materializes it
        # (Iceberg v3 — new files always carry the column physically)
        defaults = json.loads(self.properties.get("column-defaults", "{}"))
        for f in self.schema.fields:
            if f.name in defaults and f.name not in df.columns:
                df = df.withColumn(
                    f.name,
                    F.expr(
                        f"CAST({defaults[f.name]['initial']} AS "
                        f"{f.dataType.simpleString()})"
                    ),
                )
        entries = self._write_dataframe(df)
        # incremental bloom maintenance: the 'write.bloom-columns' table
        # property (comma-separated) blooms each batch's NEW files at
        # write time — O(batch), so the table never needs a whole-table
        # compute_table_stats pass to stay point-lookup-prunable
        bloom_cols = [
            c.strip()
            for c in self.properties.get("write.bloom-columns", "").split(",")
            if c.strip()
        ]
        for c in bloom_cols:
            self._attach_blooms(entries, c, bits=8192, k=4)
        return self.append_files(entries, dedupe=False, branch=branch)

    def _write_dataframe(self, df: DataFrame) -> list[DataFileEntry]:
        """Materialize ``df`` under the table's data dir per the current
        partition spec; return manifest entries (not yet committed)."""
        from iceberg_metadata_pipeline_spark.catalog.partitioning import (
            parse_partition_from_path,
            with_partition_columns,
        )

        data_dir = os.path.join(self.location, "data", uuid.uuid4().hex[:12])
        # declared sort order (WRITE ORDERED BY): cluster rows within each
        # write task so per-file min/max ranges are tight — file skipping
        # on the sort columns then prunes like a coarse index. Task-local
        # sort only (no extra shuffle): at 100 TB a global sort per append
        # would dwarf the write itself; Iceberg's write.sort-order makes
        # the same trade.
        order = self.properties.get("write.sort-order")
        if order:
            sort_cols = [
                F.col(c.split()[0]).desc()
                if c.strip().upper().endswith(" DESC")
                else F.col(c.split()[0])
                for c in order.split(",")
            ]
            # write.distribution-mode=range (Iceberg's property): range-
            # partition on the sort key BEFORE the task-local sort, so
            # files cover DISJOINT ranges and stats pruning actually
            # bites. Without it a randomly-partitioned input sorts within
            # tasks but every file still spans ~the full value range.
            # Costs one extra shuffle per write — opt-in, as in Iceberg.
            if self.properties.get("write.distribution-mode") == "range":
                df = df.repartitionByRange(*sort_cols)
            df = df.sortWithinPartitions(*sort_cols)
        # write.parquet.compression-codec (Iceberg property): snappy is
        # Spark's default; zstd trades ~2x better ratio for more write
        # CPU — at 100 TB that ratio IS the storage/scan-IO bill
        codec = self.properties.get("write.parquet.compression-codec")
        spec = self.default_spec
        if spec:
            out, part_cols = with_partition_columns(df, spec, self._schema_types())
            w = out.write.mode("errorifexists").partitionBy(*part_cols)
            if codec:
                w = w.option("compression", codec)
            w.parquet(data_dir)
            entries = scan_parquet_footers(data_dir, self.spark)
            sid = self.meta["default_spec_id"]
            for e in entries:
                e.partition = parse_partition_from_path(e.path, spec)
                e.spec_id = sid
        else:
            w = df.write.mode("errorifexists")
            if codec:
                w = w.option("compression", codec)
            w.parquet(data_dir)
            entries = scan_parquet_footers(data_dir, self.spark)
        return entries

    def truncate(self) -> int:
        """TRUNCATE TABLE: one metadata-only commit removing every file
        from the visible snapshot (no data deleted — previous snapshots
        stay time-travelable until expiry)."""
        return self._commit(
            "truncate",
            [],
            removed_paths={f.path for f in self.snapshot_files()},
            clears_deletes=True,
        )

    def overwrite_dataframe(self, df: DataFrame) -> int:
        """INSERT OVERWRITE: one commit replacing the table's visible
        contents with ``df`` (previous snapshots stay time-travelable;
        pending MOR deletes are moot and cleared)."""
        entries = self._write_dataframe(df)
        return self._commit(
            "overwrite",
            entries,
            removed_paths={f.path for f in self.snapshot_files()},
            clears_deletes=True,
        )

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Dynamic partition overwrite (Iceberg's INSERT OVERWRITE /
        ``overwritePartitions``): ONE commit that replaces exactly the
        partitions ``df`` touches — files in untouched partitions carry
        over as metadata. The replaced set is derived from the WRITTEN
        files' recovered partition tuples, so the semantics match what
        landed on disk (hidden-partition transforms included). At 100 TB
        a daily restatement replaces that day's partitions and never
        reads, lists, or rewrites the other ~3650.

        On an unpartitioned table this degrades (exactly like Spark's
        dynamic mode) to a full overwrite."""
        if not self.default_spec:
            return self.overwrite_dataframe(df)
        entries = self._write_dataframe(df)
        touched = {json.dumps(e.partition, sort_keys=True, default=str) for e in entries}
        removed = {
            f.path
            for f in self.snapshot_files()
            if json.dumps(f.partition, sort_keys=True, default=str) in touched
        }
        return self._commit("overwrite", entries, removed_paths=removed)

    def replace_files(
        self,
        added: list[DataFileEntry],
        removed_paths: set[str],
        operation: str = "replace",
    ) -> int:
        """File-level REPLACE commit: remove ``removed_paths`` from the
        live set and add ``added`` — the commit shape a foreign engine's
        rewrite/compaction posts (its data files already on disk; this
        is metadata-only). Refused when the current snapshot carries
        row-level DELETE entries AND the commit adds files: the caller
        cannot prove the foreign rewrite folded them in, and equality
        deletes would wrongly apply to the replacement files. A PURE
        REMOVAL (``added=[]``) is served even with live deletes — delete
        application is an idempotent anti-join, so dropping a file can
        never resurrect rows. Validates every removed path is currently
        live."""
        snap = self.current_snapshot
        if added and snap is not None and self._resolve_deletes(snap):
            raise ValueError(
                "replace_files on a table with live row-level deletes "
                "refused — compact through rewrite_data_files (which "
                "folds deletes in) instead"
            )
        live = {f.path for f in self.snapshot_files()}
        missing = sorted(set(removed_paths) - live)
        if missing:
            raise ValueError(
                f"replace_files: {len(missing)} removed path(s) not in the "
                f"current snapshot (first: {missing[0]})"
            )
        # mirror the removed-path validation on the ADD side: a path
        # already live (and not being removed in this same commit) would
        # double-register the file and count its rows twice
        dup = sorted(
            {e.path for e in added} & (live - set(removed_paths))
        )
        if dup:
            raise ValueError(
                f"replace_files: {len(dup)} added path(s) already live in "
                f"the current snapshot (first: {dup[0]}) — a re-add would "
                "double-count rows; remove the path in the same commit to "
                "rewrite it"
            )
        return self._commit(operation, added, removed_paths=set(removed_paths))

    def rewrite_data_files(
        self,
        target_num_files: int = 1,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Compaction: read current snapshot, rewrite as N files, commit a
        'replace' snapshot (Iceberg rewrite_data_files; reference's offline
        N→1 analogue is aggregate_parquet.py). Old files stay on disk owned
        by older snapshots until expire_snapshots.

        ``sort_by`` = Iceberg's sort-order rewrite: range-partition + sort
        so each output file carries a tight, disjoint min/max band on the
        sort columns — the layout that makes the stats pruning in
        ``scan(filter=...)`` actually bite at 100 TB (an unsorted table has
        every file spanning the full value range; no band, no pruning).

        ``zorder_by`` = Iceberg's Z-order rewrite: rows cluster along a
        space-filling curve over SEVERAL columns, so every listed column
        gets usable (if not disjoint) per-file min/max bands — a linear
        sort gives the first column perfect bands and the rest none.
        The curve value is bit-interleaved 16-bit column ranks, computed
        as JVM bitwise expressions (codegen-friendly, no UDF); layout is
        range-partition + sort on it, same single shuffle as sort_by."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        files = self.snapshot_files()
        snap = self.current_snapshot
        deletes = self._resolve_deletes(snap) if snap is not None else []
        # lineage-preserving rewrite: carry each row's _row_id through the
        # compaction as a materialized column (Iceberg v3 requires ids to
        # survive rewrites)
        df = self._read_with_row_ids(files, deletes)
        data_dir = os.path.join(self.location, "data", "compact-" + uuid.uuid4().hex[:12])
        if sort_by:
            out = df.repartitionByRange(target_num_files, *sort_by).sortWithinPartitions(
                *sort_by
            )
        elif zorder_by:
            z = _zvalue_column(df, zorder_by)
            out = (
                df.withColumn("__z", z)
                .repartitionByRange(target_num_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            out = df.coalesce(target_num_files)
        out.write.mode("errorifexists").parquet(data_dir)
        # scan() already applied MOR deletes, so the rewrite folds them in:
        # the replace commit clears the delete entries
        return self._commit(
            "replace",
            scan_parquet_footers(data_dir, self.spark),
            removed_paths={f.path for f in self.snapshot_files()},
            clears_deletes=True,
        )

    def plan_compaction(
        self,
        target_file_size_bytes: int = 512 << 20,
        small_file_ratio: float = 0.75,
        min_group_files: int = 2,
    ) -> list[list[DataFileEntry]]:
        """Bin-pack compaction PLANNING (Iceberg's rewrite_data_files
        binpack strategy): pick files smaller than ``small_file_ratio *
        target`` and first-fit-decreasing them into groups of ~target
        bytes. Groups never cross a partition tuple — compacting across
        partitions would destroy partition pruning, the one thing worth
        more than file count at 100 TB. Groups below ``min_group_files``
        are dropped (rewriting one small file buys nothing).

        Planning is pure metadata — O(live files) on the driver, no data
        read — so a scheduler can run it after every commit and only pay
        for execution when the plan is non-empty."""
        threshold = int(target_file_size_bytes * small_file_ratio)
        by_partition: dict[tuple, list[DataFileEntry]] = {}
        for f in self.snapshot_files():
            if f.file_size_bytes < threshold:
                key = (f.spec_id, tuple(sorted((f.partition or {}).items())))
                by_partition.setdefault(key, []).append(f)
        plan: list[list[DataFileEntry]] = []
        for _, files in sorted(by_partition.items(), key=lambda kv: str(kv[0])):
            files.sort(key=lambda f: -f.file_size_bytes)
            bins: list[tuple[int, list[DataFileEntry]]] = []
            for f in files:
                for i, (used, members) in enumerate(bins):
                    if used + f.file_size_bytes <= target_file_size_bytes:
                        bins[i] = (used + f.file_size_bytes, members + [f])
                        break
                else:
                    bins.append((f.file_size_bytes, [f]))
            plan.extend(m for _, m in bins if len(m) >= min_group_files)
        return plan

    def rewrite_small_files(
        self,
        target_file_size_bytes: int = 512 << 20,
        min_group_files: int = 2,
    ) -> int | None:
        """Execute the bin-pack plan: each group is read (with exactly the
        MOR deletes that apply to its files), folded to one file, and the
        whole rewrite lands as ONE replace commit — untouched files are
        carried over by the manifest delta, so commit cost is O(rewritten
        files). Unlike ``rewrite_data_files`` this never touches large
        well-formed files and keeps per-partition layout (new entries
        inherit the group's partition tuple, staying prunable).

        Delete entries stay live for files the plan didn't touch; entries
        whose last covered file was rewritten become inert (Iceberg keeps
        a separate rewrite_position_delete_files action for purging those;
        here expire/rewrite_data_files clears them). Returns the new
        snapshot id, or None when the plan was empty."""
        plan = self.plan_compaction(
            target_file_size_bytes=target_file_size_bytes,
            min_group_files=min_group_files,
        )
        if not plan:
            return None
        snap = self.current_snapshot
        deletes = self._resolve_deletes(snap) if snap is not None else []
        added: list[DataFileEntry] = []
        removed: set[str] = set()
        for group in plan:
            data_dir = os.path.join(
                self.location, "data", "binpack-" + uuid.uuid4().hex[:12]
            )
            self._read_with_row_ids(group, deletes).coalesce(1).write.mode(
                "errorifexists"
            ).parquet(data_dir)
            entries = scan_parquet_footers(data_dir, self.spark)
            for e in entries:
                e.partition = dict(group[0].partition)
                e.spec_id = group[0].spec_id
            added.extend(entries)
            removed.update(f.path for f in group)
        return self._commit("replace", added, removed_paths=removed)

    def rewrite_delete_files(self) -> tuple[int, int]:
        """Purge inert MOR delete entries (Iceberg's
        rewrite_position_delete_files analogue): an entry whose sequence
        is ≤ every live file's sequence can never match anything again —
        the files it covered were rewritten or removed — yet every scan
        still pays its filter/anti-join. One metadata-only commit
        re-registers just the still-live entries (their original
        sequences preserved). Returns (dropped, kept)."""
        snap = self.current_snapshot
        if snap is None:
            return (0, 0)
        deletes = self._resolve_deletes(snap)
        if not deletes:
            return (0, 0)
        files = self._resolve_manifest(snap)
        live = [d for d in deletes if any(f.seq < d["seq"] for f in files)]
        if len(live) == len(deletes):
            return (0, len(deletes))
        self._commit(
            "delete-maintenance", [], added_deletes=live, clears_deletes=True
        )
        return (len(deletes) - len(live), len(live))

    def consolidate_position_deletes(self) -> tuple[int, int]:
        """Merge all pending POSITION delete entries into one deletion-
        vector-style entry (Iceberg v3's direction: one consolidated
        delete structure instead of a pile of per-commit delete files).

        Scans already apply all position entries as one anti-join, but
        each entry is one more delete directory to list and read. This
        op unions their (file_path, pos) pairs, drops pairs whose target
        file is no longer live (dead weight), repartitions by file_path
        (the row-group shape a DV reader wants) and registers one entry.

        Sequence safety: a position pair names an immutable (uuid-pathed)
        file, so pairs can never match rows newer than their entry — the
        merged entry carries max(seq) and stays correct. Non-position
        entries (predicate/equality) pass through untouched with their
        original sequences. Returns (position_entries_before, after)."""
        snap = self.current_snapshot
        if snap is None:
            return (0, 0)
        deletes = self._resolve_deletes(snap)
        pos_entries = [d for d in deletes if d["kind"] == "position"]
        if len(pos_entries) <= 1:
            return (len(pos_entries), len(pos_entries))
        live_paths = {f.path for f in self._resolve_manifest(snap)}
        merged = (
            self.spark.read.parquet(*[d["path"] for d in pos_entries])
            .select("file_path", "pos")
            # stored pairs may carry either the lineage URI form
            # (file:/..., pre-r10 writers) or the plain registered form;
            # compare against plain manifest paths on a normalized copy —
            # the scan anti-join normalizes both sides, so either stored
            # form stays matchable
            .filter(
                F.regexp_replace("file_path", "^file:/+", "/").isin(list(live_paths))
            )
            .distinct()
            .repartition("file_path")
        )
        dv_dir = os.path.join(self.location, "deletes", "dv-" + uuid.uuid4().hex[:12])
        merged.write.mode("errorifexists").parquet(dv_dir)
        keep = [d for d in deletes if d["kind"] != "position"]
        new_entries = list(keep)
        if scan_parquet_footers(dv_dir):  # all pairs may have been dead
            new_entries.append(
                {
                    "kind": "position",
                    "path": dv_dir,
                    "seq": max(d["seq"] for d in pos_entries),
                }
            )
        self._commit(
            "delete-maintenance", [], added_deletes=new_entries, clears_deletes=True
        )
        return (len(pos_entries), 1 if len(new_entries) > len(keep) else 0)

    def build_bloom_filters(self, column: str, bits: int = 8192, k: int = 4) -> int:
        """Attach a per-file Bloom filter on ``column`` to every live
        manifest entry (one metadata-only commit re-registering the same
        files with enriched stats). Min/max pruning is useless for point
        lookups on unclustered high-cardinality columns — every file's
        range spans the probe — but a few KB of bloom bits per file
        prunes them by membership. One scan computes all bitmaps
        distributed (bit positions aggregated per file, the driver
        collects #files small bitmaps); scans consult the filter for
        ``col = literal`` probes via ``_prune_by_stats``. False positives
        only cost an extra file read — never correctness."""
        files = self.snapshot_files()
        if not files:
            return self.meta["current_snapshot_id"]
        new_entries = []
        for f in files:
            e = DataFileEntry.from_json(f.to_json())
            e.seq = f.seq
            new_entries.append(e)
        self._attach_blooms(new_entries, column, bits, k)
        return self._commit(
            "stats-update",
            new_entries,
            removed_paths={f.path for f in files},
            preserve_seq=True,
        )

    def _attach_blooms(
        self, entries: list[DataFileEntry], column: str, bits: int, k: int
    ) -> None:
        """Compute and attach bloom bitmaps for exactly ``entries``
        (mutated in place). One distributed scan over those files; k hash
        positions per value — md5-derived so the SCAN side can test
        membership in pure Python without a Spark job (xxhash64 isn't
        reproducible driver-side). The shuffle carries (file, position)
        pairs, deduplicated map-side by the distinct."""
        import base64

        ctype = self._schema_types().get(column, "string")
        with_rows = [e for e in entries if e.record_count > 0]
        per_file = []
        if with_rows:
            src = (
                self._read_files(with_rows, with_lineage=True)
                .where(F.col(column).isNotNull())
                .select("__file", _bloom_value_expr(column, ctype).alias("__v"))
            )
            pos = src.select(
                "__file",
                F.explode(
                    F.array(*[_bloom_bit_expr("__v", i, bits) for i in range(k)])
                ).alias("bit"),
            ).distinct()
            per_file = (
                pos.groupBy("__file").agg(F.collect_list("bit").alias("bits")).collect()
            )

        bitmaps = {r["__file"]: sorted(r["bits"]) for r in per_file}
        for e in entries:
            # a file with no rows gets the all-zeros bitmap: every probe
            # misses, so empty part files prune away for free
            bm = bitmaps.get(plain_path(e.path), [] if e.record_count == 0 else None)
            if bm is None:
                continue
            packed = bytearray(bits // 8)
            for b in bm:
                packed[b // 8] |= 1 << (b % 8)
            e.stats = dict(e.stats)
            e.stats[f"bloom_{column}"] = {
                "bits": bits,
                "k": k,
                # build-side rendering is _bloom_value_expr; the probe
                # must canonicalize its literal through the SAME rendering
                # (_bloom_canonical) or skip the bloom — a raw SQL literal
                # like `100000` differs from the double rendering and
                # would false-negative the membership test
                "type": ctype,
                "bitmap": base64.b64encode(bytes(packed)).decode(),
            }

    def maintain(
        self,
        small_files_threshold: int = 8,
        chain_threshold: int = 8,
        target_file_size_bytes: int = 512 << 20,
    ) -> dict:
        """One conditional maintenance sweep — the when-to-compact policy
        a scheduler runs after commits (Iceberg leaves this to table
        services; here it's first-class). Each action fires only when its
        trigger is met, so calling this after every commit is safe and
        usually free (all triggers are O(metadata) checks):

        - ≥ ``small_files_threshold`` bin-packable small files → binpack
          rewrite (partition-preserving);
        - any inert MOR delete entries → purge;
        - manifest delta chain ≥ ``chain_threshold`` links → checkpoint;
        - ``history.expire.max-snapshot-age-ms`` table property set and
          snapshots older than it exist → expire_snapshots, keeping at
          least ``history.expire.min-snapshots-to-keep`` (default 1) —
          Iceberg's retention property names, honored automatically.

        Returns {action: effect} for what actually ran."""
        report: dict[str, object] = {}
        # ref-age retention (Iceberg's history.expire.max-ref-age-ms):
        # branches/tags older than the limit are dropped FIRST, so the
        # snapshot expiry below stops protecting their snapshots. Age is
        # the ref's creation time (legacy refs without one fall back to
        # the referenced snapshot's commit time).
        ref_age = self.properties.get("history.expire.max-ref-age-ms")
        if ref_age is not None:
            cutoff = int(time.time() * 1000) - int(ref_age)
            by_id = {s["snapshot_id"]: s for s in self.meta["snapshots"]}
            aged = []
            for name, r in list(self.meta.get("refs", {}).items()):
                born = r.get("created_ms")
                if born is None:
                    snap = by_id.get(r["snapshot_id"])
                    born = snap["timestamp_ms"] if snap else 0
                if born < cutoff:
                    aged.append(name)
            for name in aged:
                del self.meta["refs"][name]
            if aged:
                _write_metadata(self.location, self.meta, self.version + 1)
                self.version += 1
                report["ref_expiry"] = {"dropped_refs": sorted(aged)}
        max_age = self.properties.get("history.expire.max-snapshot-age-ms")
        if max_age is not None:
            keep = int(self.properties.get("history.expire.min-snapshots-to-keep", 1))
            cutoff = int(time.time() * 1000) - int(max_age)
            if any(s["timestamp_ms"] < cutoff for s in self.meta["snapshots"]):
                orphaned = self.expire_snapshots(keep_last=keep, older_than_ms=cutoff)
                report["snapshot_expiry"] = {
                    "orphaned_files": len(orphaned),
                    "snapshots_left": len(self.meta["snapshots"]),
                }
        plan = self.plan_compaction(target_file_size_bytes=target_file_size_bytes)
        n_small = sum(len(g) for g in plan)
        if n_small >= small_files_threshold:
            self.rewrite_small_files(target_file_size_bytes=target_file_size_bytes)
            report["binpack"] = {"rewritten_files": n_small, "groups": len(plan)}
        dropped, _kept = self.rewrite_delete_files()
        if dropped:
            report["delete_purge"] = {"dropped_entries": dropped}
        collapsed = (
            self.rewrite_manifests()
            if self._chain_depth() >= chain_threshold
            else 0
        )
        if collapsed:
            report["manifest_checkpoint"] = {"collapsed_links": collapsed}
        return report

    def _chain_depth(self) -> int:
        """Delta-chain links behind the current snapshot until a full
        checkpoint (what scan-time manifest resolution walks)."""
        snap = self.current_snapshot
        if snap is None or "manifest_file" not in snap:
            return 0
        by_id = {s["snapshot_id"]: s for s in self.meta["snapshots"]}
        depth = 0
        cur = snap
        while cur is not None and "manifest_file" in cur:
            with open(self._manifest_file(cur)) as fh:
                if json.load(fh).get("full"):
                    break
            parent = cur.get("parent_snapshot_id")
            cur = by_id.get(parent) if parent is not None else None
            depth += 1
        return depth

    def rewrite_manifests(self) -> int:
        """Collapse the current snapshot's delta chain into one full
        checkpoint manifest (Iceberg's rewrite_manifests): scans stop
        walking parent deltas, and expiry of ancestors can never strand
        it. O(live files) metadata write, no data movement, no new
        snapshot. Returns the number of chain links collapsed."""
        snap = self.current_snapshot
        if snap is None or "manifest_file" not in snap:
            return 0
        depth = self._chain_depth()
        if depth <= 1:
            return 0  # already a checkpoint (or a root delta)
        files = self._resolve_manifest(snap)
        deletes = self._resolve_deletes(snap)
        old_manifest = self._manifest_file(snap)
        ckpt_name = f"snap-{snap['snapshot_id']}-ckpt-v{self.version + 1}.json"
        _write_manifest_delta(
            os.path.join(self.location, "metadata", ckpt_name),
            files,
            set(),
            full=True,
            added_deletes=deletes,
        )
        snap["manifest_file"] = ckpt_name
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1
        try:
            os.remove(old_manifest)
        except OSError:
            pass
        return depth

    # -- row-level ops (copy-on-write, Iceberg MERGE/DELETE/UPDATE analogue) --
    def _branch_head(self, branch: str | None) -> int | None:
        """Resolve the snapshot a write on ``branch`` rebases on: the branch
        head if the ref exists, else the main head (the branch forks there
        on its first commit — same rule as ``_commit``)."""
        if branch is None:
            return self.meta.get("current_snapshot_id")
        r = self.meta.get("refs", {}).get(branch)
        if r is not None and r["type"] != "branch":
            raise ValueError(f"ref {branch} is a {r['type']}, not a branch")
        return r["snapshot_id"] if r else self.meta.get("current_snapshot_id")

    def _rewrite_with(
        self,
        transform,
        prune_filter: str | None,
        operation: str,
        branch: str | None = None,
    ) -> int:
        """Copy-on-write kernel: files whose stats can't match the predicate
        are carried over untouched (metadata-only); affected files are read,
        transformed, and rewritten; one atomic commit swaps the manifest.
        At 100 TB this is why stats pruning matters: a DELETE touching one
        day rewrites that day's files, not the table. (Merge-on-read —
        delete files + positional merges at scan — is the alternative when
        rewrite amplification dominates; see the ``_mor`` variants.)

        ``branch`` rewrites the BRANCH head (write-audit-publish: stage a
        delete/update/merge, audit via ``scan(ref=)``, then
        ``publish_branch`` — main never sees intermediate states)."""
        head = self._branch_head(branch)
        files = self.snapshot_files(snapshot_id=head)
        if prune_filter is not None:
            from iceberg_metadata_pipeline_spark.catalog.partitioning import (
                split_conjuncts,
            )

            candidates = files
            for conjunct in split_conjuncts(prune_filter):
                candidates = _prune_by_stats(candidates, conjunct)
            affected = {f.path for f in candidates}
        else:
            affected = {f.path for f in files}
        if not affected:
            return head if head is not None else self.meta["current_snapshot_id"]
        # pending MOR deletes must not resurrect rows through the rewrite;
        # the rewritten files get a NEW (higher) sequence so the old delete
        # entries no longer apply to them — exactly right, since they were
        # folded in here. Carried-over files keep their old sequence and
        # stay subject to the live deletes.
        cur = self._select_snapshot(head, None) if head is not None else None
        deletes = self._resolve_deletes(cur) if cur is not None else []
        rewritten = [f for f in files if f.path in affected]
        # row lineage (Iceberg v3 carry-over): every surviving row keeps
        # its _row_id through the rewrite — deletes drop rows (and their
        # ids), updates keep the id on the new row version, which is what
        # lets changelog(compute_updates=True) pair pre/post images. The
        # __row_id column rides through the caller's transform (filters /
        # withColumn assignments touch data columns only).
        src = self._read_with_row_ids(rewritten, deletes)
        out = transform(src)
        data_dir = os.path.join(self.location, "data", f"{operation}-" + uuid.uuid4().hex[:12])
        out.write.mode("errorifexists").parquet(data_dir)
        # delta commit: only the rewritten files move through metadata;
        # carried-over files stay referenced via the parent chain untouched
        return self._commit(
            operation,
            scan_parquet_footers(data_dir, self.spark),
            removed_paths=affected,
            branch=branch,
        )

    def delete_where(self, condition: str, branch: str | None = None) -> int:
        """DELETE FROM t WHERE condition (copy-on-write).

        SQL DELETE removes only rows where the condition is TRUE; rows where
        it evaluates NULL (e.g. a NULL in a predicate column) must be KEPT.
        ``NOT (condition)`` is NULL for those rows and filter would drop
        them, so keep rows where the condition is not-TRUE explicitly."""
        return self._rewrite_with(
            lambda df: df.filter(~F.coalesce(F.expr(condition), F.lit(False))),
            condition,
            "delete",
            branch=branch,
        )

    def delete_where_mor(self, condition: str, branch: str | None = None) -> int:
        """Merge-on-read DELETE: commits a predicate delete ENTRY — no data
        file is read or rewritten (commit cost is one O(1) metadata delta).
        Scans apply the predicate as a keep-where-not-TRUE filter. This is
        the Iceberg MOR tradeoff: frequent small deletes stay cheap at
        write time; ``rewrite_data_files`` folds accumulated deletes back
        into data files when read amplification grows."""
        return self._commit(
            "delete-mor",
            [],
            added_deletes=[{"kind": "predicate", "expr": condition}],
            branch=branch,
        )

    def delete_keys_mor(self, keys: DataFrame, branch: str | None = None) -> int:
        """Merge-on-read DELETE by key set (Iceberg equality-delete files):
        the key DataFrame is written as a delete file and scans anti-join
        it. The delete file shuffles O(deleted keys), never the table —
        at 100 TB deleting a million doc ids writes one small parquet.

        Keys follow SQL ``IN`` semantics: a key with a NULL component
        deletes nothing, so such rows are dropped here (scans match
        equality keys null-safely, as the Iceberg spec requires). When no
        key survives, no delete entry is committed: every later scan would
        list and read an empty delete file until compaction."""
        delete_dir = os.path.join(self.location, "deletes", uuid.uuid4().hex[:12])
        keys.select(
            *[F.col(c).cast(self.schema[c].dataType).alias(c) for c in keys.columns]
        ).na.drop(how="any").write.mode("errorifexists").parquet(delete_dir)
        has_rows = _has_rows(delete_dir)
        return self._commit(
            "delete-mor",
            [],
            added_deletes=(
                [{"kind": "equality", "path": delete_dir, "key_cols": list(keys.columns)}]
                if has_rows
                else []
            ),
            branch=branch,
        )

    def delete_where_positional(self, condition: str, branch: str | None = None) -> int:
        """Merge-on-read DELETE as a POSITION delete file (Iceberg v2's
        third delete shape): matched rows are identified by (file path,
        row ordinal) — one scan of the stats-pruned candidate files finds
        positions, which are written as a small parquet; scans anti-join
        on the lineage columns. Versus a predicate entry, the read-side
        cost no longer depends on predicate complexity, and versus an
        equality entry no key column is required — the trade is one scan
        at write time. Write volume is O(matched rows × ~2 words)."""
        head = self._branch_head(branch)
        files = self.snapshot_files(snapshot_id=head)
        from iceberg_metadata_pipeline_spark.catalog.partitioning import split_conjuncts

        candidates = files
        for conjunct in split_conjuncts(condition):
            candidates = _prune_by_stats(candidates, conjunct)
        cur = self._select_snapshot(head, None) if head is not None else None
        deletes = self._resolve_deletes(cur) if cur is not None else []
        # lineage read over candidates with the proper per-file delete
        # subsets applied — already-dead rows aren't re-listed, and rows
        # in files newer than an old delete are still eligible
        src = self._read_files_with_deletes(candidates, deletes, keep_lineage=True)
        # __file is the plain registered-entry path, so exported delete
        # files match the exported manifests
        positions = src.filter(F.coalesce(F.expr(condition), F.lit(False))).select(
            F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
        )
        delete_dir = os.path.join(self.location, "deletes", uuid.uuid4().hex[:12])
        positions.write.mode("errorifexists").parquet(delete_dir)
        has_rows = _has_rows(delete_dir)
        return self._commit(
            "delete-mor",
            [],
            added_deletes=(
                [{"kind": "position", "path": delete_dir}] if has_rows else []
            ),
            branch=branch,
        )

    def add_position_delete_files(
        self, source_paths: list[str], branch: str | None = None
    ) -> int:
        """Register foreign position-delete files as one MOR delete
        commit — see add_foreign_delete_files."""
        if not source_paths:
            raise ValueError("add_position_delete_files: no delete files")
        return self.add_foreign_delete_files(source_paths, (), branch=branch)

    def add_foreign_delete_files(
        self,
        position_paths: list[str],
        equality_groups: list[tuple[list[str], list[str]]] = (),
        branch: str | None = None,
    ) -> int:
        """Register delete files written by a FOREIGN engine as ONE
        atomic merge-on-read delete commit — the REST catalog's
        row-level DELETE verb (the reference exposes a live catalog any
        engine writes through: entrypoint-spark.sh:85-92).

        ``position_paths``: Iceberg v2 content=1 files
        (``file_path``/``pos`` columns; a ``row`` struct is ignored).
        The rows are rewritten DISTRIBUTED into this table's own
        ``deletes/`` dir with ``file:`` URI prefixes normalized to the
        registered path form, after validating that every referenced
        data file is live in the current snapshot — a delete naming an
        unknown file is a client bug better refused loudly than
        committed inert.

        ``equality_groups``: [(key_columns, paths)] or
        [(key_columns, paths, field_ids)] for content=2 equality-delete
        files (parquet holding the key columns themselves; one group
        per distinct equality_ids set). Key columns must exist in the
        table schema. Per the Iceberg spec a delete file's PARQUET
        column names are not contractual — when ``field_ids`` are given
        (the posted equality_ids), each file resolves its columns BY
        FIELD ID when its footer carries PARQUET:field_id metadata (the
        id-mode read trick: a requested schema with parquet.field.id
        metadata under the session's fieldId posture), falling back to
        name resolution for id-less files; a file matching neither
        refuses loudly. Rows rewrite into ``deletes/`` under the
        LOGICAL column names metacat's equality entries key on.

        Every validation runs BEFORE the first write; the commit is one
        ``delete-mor`` snapshot carrying all entries, so a mixed
        position+equality client commit stays atomic. Cost is
        O(deleted rows), the same commit-time price
        delete_where_positional / delete_where_mor pay."""
        if not position_paths and not equality_groups:
            raise ValueError("add_foreign_delete_files: no delete files")
        head = self._branch_head(branch)
        plans = self._plan_foreign_deletes(position_paths, equality_groups, head)
        entries = []
        for src, template in plans:
            delete_dir = os.path.join(
                self.location, "deletes", uuid.uuid4().hex[:12]
            )
            src.write.mode("errorifexists").parquet(delete_dir)
            if _has_rows(delete_dir):
                entries.append(dict(template, path=delete_dir))
        return self._commit(
            "delete-mor", [], added_deletes=entries, branch=branch
        )

    def _plan_foreign_deletes(
        self,
        position_paths: list[str],
        equality_groups,
        head,
    ) -> list[tuple]:
        """Validate foreign delete files and build (source DataFrame,
        entry template) plans — every validation runs here, BEFORE any
        write, so callers (add_foreign_delete_files and the maintenance
        verb replace_delete_files) stay atomic-or-refused."""
        plans = []  # (src_df, entry_template) — validated, not yet written
        field_names = set(self.schema.fieldNames())
        if position_paths:
            live = sorted(
                {f.path for f in self.snapshot_files(snapshot_id=head)}
            )
            src = self.spark.read.parquet(*position_paths).select(
                F.regexp_replace(
                    F.col("file_path").cast("string"), r"^file:/+", "/"
                ).alias("file_path"),
                F.col("pos").cast("long").alias("pos"),
            )
            live_df = local_frame(self.spark, [(p,) for p in live], "file_path string")
            bad = (
                src.join(F.broadcast(live_df), "file_path", "left_anti")
                .select("file_path")
                .limit(3)
                .collect()
            )
            if bad:
                names = sorted({r["file_path"] for r in bad})
                raise ValueError(
                    "position delete references file(s) not live in the "
                    f"current snapshot (first: {names[0]!r}) — refuse "
                    "rather than commit an inert or stale delete"
                )
            plans.append((src, {"kind": "position"}))
        for group in equality_groups:
            key_cols, paths = group[0], group[1]
            ids = list(group[2]) if len(group) > 2 and group[2] else None
            missing = [c for c in key_cols if c not in field_names]
            if missing:
                raise ValueError(
                    f"equality delete keys {missing} not in the table "
                    "schema"
                )
            if not paths:
                raise ValueError("equality delete group with no files")
            from iceberg_metadata_pipeline_spark.catalog.delta_format import (
                parquet_field_ids,
            )

            id_schema = T.StructType(
                [
                    T.StructField(
                        c,
                        self.schema[c].dataType,
                        True,
                        {"parquet.field.id": i} if ids else None,
                    )
                    for c, i in zip(
                        key_cols, ids or [None] * len(key_cols)
                    )
                ]
            )
            parts = []
            for p in paths:
                fids = parquet_field_ids(p) if ids else {}
                if ids and all(i in fids for i in ids):
                    # scrambled-name file with correct field ids: the
                    # fieldId read resolves columns by id and returns
                    # them under the LOGICAL names
                    parts.append(self.spark.read.schema(id_schema).parquet(p))
                else:
                    import pyarrow.parquet as _pq

                    have = set(_pq.ParquetFile(p).schema_arrow.names)
                    absent = [c for c in key_cols if c not in have]
                    if absent:
                        raise ValueError(
                            f"equality-delete file {p} resolves neither "
                            f"by field id nor by name (missing {absent})"
                        )
                    parts.append(
                        self.spark.read.parquet(p).select(
                            *[F.col(c).cast(self.schema[c].dataType) for c in key_cols]
                        )
                    )
            eq_src = parts[0]
            for extra in parts[1:]:
                eq_src = eq_src.unionByName(extra)
            # optional 4th element: an explicit sequence anchor — a
            # maintenance commit rewriting an equality entry 1:1 passes
            # the REMOVED entry's seq so the replacement keeps applying
            # only to data files committed strictly before the ORIGINAL
            # delete (re-anchoring to the maintenance commit would widen
            # its reach to files appended in between — r11 ADVICE)
            anchor_seq = group[3] if len(group) > 3 else None
            if anchor_seq is not None and int(anchor_seq) < 1:
                raise ValueError(
                    f"equality delete anchor seq {anchor_seq!r} must be >= 1"
                )
            plans.append(
                (
                    eq_src,
                    {
                        "kind": "equality",
                        "key_cols": list(key_cols),
                        **(
                            {"seq": int(anchor_seq)}
                            if anchor_seq is not None
                            else {}
                        ),
                    },
                )
            )
        return plans

    def replace_delete_files(
        self,
        removed_paths: list[str],
        position_paths: list[str] = (),
        equality_groups: list[tuple] = (),
        branch: str | None = None,
    ) -> int:
        """Delete-file MAINTENANCE as ONE atomic commit — the shape a
        foreign engine's ``rewrite_position_delete_files`` / DV
        consolidation posts through the REST catalog (round 11, the
        last writer-verb gap): drop the delete files named in
        ``removed_paths`` from the live MOR set and (optionally)
        register replacement files in the same snapshot.

        Removals resolve at ENTRY granularity: each removed path must
        belong to a live position/equality entry, and every part of
        that entry must be removed together — a maintenance commit that
        splits an entry (removes some parts, keeps others) refuses with
        nothing applied, as does a path not live in the delete set.
        Kept entries carry their original sequence numbers; replacement
        files validate exactly like add_foreign_delete_files (position
        refs must be live data files; equality keys must resolve).
        Scans after the commit pay only the kept+new entries.

        Sequence semantics of replacements (r11 ADVICE): POSITION
        replacements are seq-insensitive (positions name immutable
        files). EQUALITY replacements default to the MAINTENANCE
        commit's sequence number — which widens their reach to data
        files appended between the original delete and this commit, so
        a bare equality rewrite is NOT semantics-preserving. To rewrite
        an equality entry 1:1, pass a 4-tuple group
        ``(key_cols, paths, ids_or_None, original_seq)`` — the
        replacement then anchors to the removed entry's own sequence
        and applies to exactly the same files. (The REST maintenance
        verb cannot carry per-entry seqs — the spec's commitTable
        assigns sequence numbers catalog-side — so equality rewrites
        posted through REST re-anchor; documented there.)"""
        from iceberg_metadata_pipeline_spark.ingest.discover import (
            find_parquet_files,
        )

        if not removed_paths:
            raise ValueError("replace_delete_files: nothing to remove")
        head = self._branch_head(branch)
        cur = self._select_snapshot(head, None)
        deletes = self._resolve_deletes(cur) if cur is not None else []
        removed = {plain_path(str(p)) for p in removed_paths}
        kept, dropped = [], []
        for d in deletes:
            root = d.get("path")
            if not root:  # predicate entries have no file to remove
                kept.append(d)
                continue
            parts = {
                os.path.abspath(p)
                for p in (
                    find_parquet_files(root) if os.path.isdir(root) else [root]
                )
            }
            hit = parts & removed
            if not hit:
                kept.append(d)
            elif hit == parts:
                dropped.append(d)
                removed -= hit
            else:
                raise ValueError(
                    f"maintenance commit splits delete entry {root!r} "
                    f"(removes {len(hit)} of {len(parts)} parts) — an "
                    "entry's files retire together"
                )
        if removed:
            raise ValueError(
                "removed delete file(s) not live in the current delete "
                f"set (first: {sorted(removed)[0]!r})"
            )
        plans = (
            self._plan_foreign_deletes(
                list(position_paths), list(equality_groups), head
            )
            if (position_paths or equality_groups)
            else []
        )
        entries = list(kept)
        for src, template in plans:
            delete_dir = os.path.join(
                self.location, "deletes", uuid.uuid4().hex[:12]
            )
            src.write.mode("errorifexists").parquet(delete_dir)
            if _has_rows(delete_dir):
                entries.append(dict(template, path=delete_dir))
        return self._commit(
            "delete-maintenance",
            [],
            added_deletes=entries,
            clears_deletes=True,
            branch=branch,
        )

    def update_set_mor(
        self, condition: str, assignments: dict[str, str], branch: str | None = None
    ) -> int:
        """Merge-on-read UPDATE: writes only the updated COPIES of matched
        rows as new data files and commits them together with a predicate
        delete entry for the old copies — one atomic commit, no rewrite of
        untouched rows. Sequence numbers keep the delete from eating the
        new copies (it applies only to lower-sequence files). This is
        Iceberg v2's MOR UPDATE shape: write cost is O(matched rows), not
        O(matched files) — at 100 TB, updating 0.1% of a day's rows
        writes 0.1% of the data instead of rewriting every touched file.
        ``rewrite_data_files`` folds the accumulated deletes back in when
        read amplification grows."""
        head = self._branch_head(branch)
        files = self.snapshot_files(snapshot_id=head)
        from iceberg_metadata_pipeline_spark.catalog.partitioning import split_conjuncts

        # stats pruning is conservative, so every row matching the
        # condition lives in a candidate file — only those are read
        candidates = files
        for conjunct in split_conjuncts(condition):
            candidates = _prune_by_stats(candidates, conjunct)
        cur = self._select_snapshot(head, None) if head is not None else None
        deletes = self._resolve_deletes(cur) if cur is not None else []
        src = self._read_files_with_deletes(candidates, deletes)
        matched = src.filter(F.coalesce(F.expr(condition), F.lit(False)))
        cols = []
        for f in self.schema.fields:
            if f.name in assignments:
                cols.append(F.expr(assignments[f.name]).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(f.name))
        updated = matched.select(cols)
        data_dir = os.path.join(self.location, "data", "updmor-" + uuid.uuid4().hex[:12])
        updated.write.mode("errorifexists").parquet(data_dir)
        entries = scan_parquet_footers(data_dir, self.spark)
        if not any(e.record_count for e in entries):
            # no row matched: skip the commit entirely — registering the
            # predicate delete anyway would make EVERY subsequent scan
            # re-evaluate the condition against all lower-sequence files
            # forever (read amplification for a no-op), mirroring the
            # has_rows guards in delete_where_positional / merge_into_mor
            return head if head is not None else self.meta["current_snapshot_id"]
        return self._commit(
            "update-mor",
            entries,
            added_deletes=[{"kind": "predicate", "expr": condition}],
            branch=branch,
        )

    def merge_into_mor(
        self,
        source: DataFrame,
        on: list[str] | None = None,
        when_matched_set: dict[str, str] | None = None,
        insert_not_matched: bool = True,
        branch: str | None = None,
    ) -> int:
        """Merge-on-read MERGE: one atomic commit of (a) new data files
        holding the updated copies of matched target rows plus the
        unmatched-source inserts, and (b) an equality-delete file on the
        matched keys that removes the old copies at read time. Untouched
        target files are never read or rewritten — the join reads the
        target once to find matches, and write volume is O(changed rows).
        The delete file's sequence protects the same-commit new files.

        Same contract as ``merge_into``: matched-row SET expressions may
        reference source columns as ``src_<name>``; source rows with NULL
        join keys never match (SQL equality) and flow to the insert path.
        ``on=None`` falls back to the table's declared identifier fields.
        """
        on = self._default_keys(on)
        head = self._branch_head(branch)
        cur = self._select_snapshot(head, None) if head is not None else None
        deletes = self._resolve_deletes(cur) if cur is not None else []
        target = self._read_files_with_deletes(
            self.snapshot_files(snapshot_id=head), deletes
        )
        src = source.select(*[F.col(c).alias(f"src_{c}") for c in source.columns])
        tgt = target.alias("__tgt")
        joined = tgt.join(src, [tgt[k] == src[f"src_{k}"] for k in on], "inner")
        upd_cols = []
        for f in self.schema.fields:
            if when_matched_set and f.name in when_matched_set:
                e = F.expr(when_matched_set[f.name])
            else:
                e = tgt[f.name]
            upd_cols.append(e.cast(f.dataType).alias(f.name))
        updated = joined.select(upd_cols)
        # old-copy keys come from the PRE-update target values (a SET may
        # rewrite a key column; the delete must still target the old key)
        del_keys = joined.select(*[tgt[k].alias(k) for k in on]).distinct()
        new_rows = updated
        if insert_not_matched:
            tkeys = target.select(*on).distinct()
            inserts = source.join(tkeys, on, "left_anti").select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in self.schema.fields
                ]
            )
            new_rows = updated.unionByName(inserts)
        data_dir = os.path.join(self.location, "data", "mrgmor-" + uuid.uuid4().hex[:12])
        new_rows.write.mode("errorifexists").parquet(data_dir)
        delete_dir = os.path.join(self.location, "deletes", uuid.uuid4().hex[:12])
        del_keys.write.mode("errorifexists").parquet(delete_dir)
        # a match-less merge deletes nothing: no entry for its 0-row file
        has_delete_rows = _has_rows(delete_dir)
        return self._commit(
            "merge-mor",
            scan_parquet_footers(data_dir, self.spark),
            added_deletes=(
                [{"kind": "equality", "path": delete_dir, "key_cols": list(on)}]
                if has_delete_rows
                else []
            ),
            branch=branch,
        )

    def update_set(
        self, condition: str, assignments: dict[str, str], branch: str | None = None
    ) -> int:
        """UPDATE t SET col = expr, ... WHERE condition (copy-on-write)."""

        def transform(df: DataFrame) -> DataFrame:
            cols = []
            for f in df.schema.fields:
                if f.name in assignments:
                    cols.append(
                        F.expr(
                            f"CASE WHEN ({condition}) THEN ({assignments[f.name]}) "
                            f"ELSE {f.name} END"
                        ).cast(f.dataType).alias(f.name)
                    )
                else:
                    cols.append(F.col(f.name))
            return df.select(cols)

        return self._rewrite_with(transform, condition, "update", branch=branch)

    def merge_into(
        self,
        source: DataFrame,
        on: list[str] | None = None,
        when_matched_set: dict[str, str] | None = None,
        insert_not_matched: bool = True,
        branch: str | None = None,
        delete_not_matched_by_source: bool | str = False,
        when_matched: list[dict] | None = None,
        when_not_matched: list[dict] | None = None,
        when_not_matched_by_source: list[dict] | None = None,
    ) -> int:
        """MERGE INTO target USING source ON keys. Copy-on-write
        full-join rewrite — the same shuffle-on-key plan Iceberg's
        copy-on-write MERGE produces. Two calling conventions:

        Legacy scalar form: ``when_matched_set`` (one unconditional
        UPDATE), ``insert_not_matched`` (INSERT * on no-match),
        ``delete_not_matched_by_source`` (True, or a condition string).

        General clause-list form (full Spark/Iceberg MERGE semantics,
        FIRST matching clause wins — evaluation order is list order):
        - ``when_matched``: ``[{"condition": str|None, "action":
          "update"|"delete", "set": {col: expr}}, ...]``
        - ``when_not_matched``: ``[{"condition": str|None, "values":
          {col: expr}|None}, ...]`` — None values = INSERT * (source
          column of the same name); columns absent from an explicit
          ``values`` dict insert NULL.
        - ``when_not_matched_by_source``: same shape as ``when_matched``
          (UPDATE sets may only reference target columns).

        Expressions reference source columns as ``src_<name>`` and
        target columns bare. Source rows with NULL join keys never match
        (SQL equality) and flow to the not-matched path; an unmatched
        source row with NO applicable insert clause simply vanishes."""
        on = self._default_keys(on)
        if when_matched is None:
            when_matched = (
                [{"condition": None, "action": "update", "set": when_matched_set}]
                if when_matched_set
                else []
            )
        if when_not_matched is None:
            when_not_matched = (
                [{"condition": None, "values": None}] if insert_not_matched else []
            )
        if when_not_matched_by_source is None:
            if delete_not_matched_by_source:
                cond = (
                    delete_not_matched_by_source
                    if isinstance(delete_not_matched_by_source, str)
                    else None
                )
                when_not_matched_by_source = [{"condition": cond, "action": "delete"}]
            else:
                when_not_matched_by_source = []

        ins_defaults = json.loads(self.properties.get("column-defaults", "{}"))

        def transform(target: DataFrame) -> DataFrame:
            # Match state comes from explicit presence markers, NOT from
            # join-key nullability: a pre-existing target row whose key is
            # genuinely NULL never matches (SQL equality) and must be kept
            # as-is, not mistaken for an unmatched-source insert.
            src = source.select(
                *[F.col(c).alias(f"src_{c}") for c in source.columns],
                F.lit(True).alias("__src_present"),
            )
            tgt = target.withColumn("__tgt_present", F.lit(True))
            cond = [tgt[k] == src[f"src_{k}"] for k in on]
            joined = tgt.join(src, cond, "full_outer")
            matched = (
                F.col("__src_present").isNotNull() & F.col("__tgt_present").isNotNull()
            )
            insert = F.col("__tgt_present").isNull()
            not_by_source = (
                F.col("__tgt_present").isNotNull() & F.col("__src_present").isNull()
            )

            def flags(clauses: list[dict], base):
                """First-match-wins: clause i applies where its condition
                holds and no earlier clause's did (Spark MERGE order)."""
                out, prior = [], F.lit(False)
                for cl in clauses:
                    c = base
                    if cl.get("condition") is not None:
                        c = c & F.coalesce(F.expr(cl["condition"]), F.lit(False))
                    out.append(c & ~prior)
                    prior = prior | c
                return out

            m_flags = flags(when_matched, matched)
            nbs_flags = flags(when_not_matched_by_source, not_by_source)
            ins_flags = flags(when_not_matched, insert)

            # unmatched source rows vanish unless some insert clause fires
            drop = insert
            for fl in ins_flags:
                drop = drop & ~fl
            for cl, fl in zip(when_matched + when_not_matched_by_source, m_flags + nbs_flags):
                if cl["action"] == "delete":
                    drop = drop | fl

            tgt_cols = []
            for f in target.schema.fields:
                if f.name == "__row_id":
                    # row lineage rides outside MERGE semantics: matched/
                    # kept rows carry their id (v3 carry-over); inserted
                    # rows are NULL here (tgt side of the full join) and
                    # inherit from the new file's first_row_id block
                    tgt_cols.append(tgt["__row_id"].alias("__row_id"))
                    continue
                whens = []
                for cl, fl in zip(when_matched, m_flags):
                    if cl["action"] == "update" and f.name in (cl.get("set") or {}):
                        whens.append((fl, F.expr(cl["set"][f.name])))
                for cl, fl in zip(when_not_matched_by_source, nbs_flags):
                    if cl["action"] == "update" and f.name in (cl.get("set") or {}):
                        whens.append((fl, F.expr(cl["set"][f.name])))
                for cl, fl in zip(when_not_matched, ins_flags):
                    vals = cl.get("values")
                    if vals is None:
                        v = F.col(f"src_{f.name}")
                    elif f.name in vals:
                        v = F.expr(vals[f.name])
                    elif f.name in ins_defaults:
                        # declared column default, same as the INSERT
                        # statement path — an upsert must not produce a
                        # different row than the equivalent INSERT
                        v = F.expr(str(ins_defaults[f.name]["initial"]))
                    else:
                        v = F.lit(None)
                    whens.append((fl, v))
                if whens:
                    e = F.when(whens[0][0], whens[0][1])
                    for c, v in whens[1:]:
                        e = e.when(c, v)
                    expr = e.otherwise(tgt[f.name])
                else:
                    expr = tgt[f.name]
                tgt_cols.append(expr.cast(f.dataType).alias(f.name))
            return joined.filter(~drop).select(tgt_cols)

        # an EMPTY target never reaches the copy-on-write kernel (no files
        # to rewrite → it would no-op and silently LOSE the inserts): run
        # the same transform over an empty frame and append the result
        if not self.snapshot_files(snapshot_id=self._branch_head(branch)):
            empty = self.spark.createDataFrame([], self.schema)
            return self.append_dataframe(transform(empty), branch=branch)
        return self._rewrite_with(transform, None, "merge", branch=branch)

    # -- schema evolution (metadata-only, Iceberg ALTER TABLE analogue) ----
    def add_column(
        self, name: str, data_type: str, default: str | None = None
    ) -> None:
        """ALTER TABLE ADD COLUMN: pure metadata — no data file is touched.
        Scans project the evolved schema over old files; Parquet fills the
        absent column with nulls (exactly Iceberg's add-column contract).
        At 100 TB this is the whole point: schema change is O(1), not a
        table rewrite.

        ``default`` (a SQL literal, e.g. ``"0"`` or ``"'unknown'"``) adds
        Iceberg-v3 initial-default semantics: rows in files written BEFORE
        the column existed read back as the default instead of NULL, and
        appends that omit the column materialize it (write-default). The
        pre-existing/absent decision is per file — footer-recorded column
        sets where available, else the file's data sequence number vs the
        table's sequence at ADD COLUMN time."""
        if any(f.name == name for f in self.schema.fields):
            raise ValueError(f"column {name} already exists")
        fields = self.schema.add(T.StructField(name, _parse_type(data_type))).jsonValue()
        self.meta["schema"] = fields
        if default is not None:
            defaults = json.loads(self.properties.get("column-defaults", "{}"))
            defaults[name] = {
                "initial": default,
                "seq": int(self.meta.get("last_sequence_number", 0)),
            }
            self.properties["column-defaults"] = json.dumps(defaults)
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — metadata-only. Caveat vs real
        Iceberg: Iceberg tracks columns by field id, so renames stay
        readable against old files; Parquet name-based resolution loses the
        old column's data. We therefore remember the rename in properties
        and scans alias old→new at read time."""
        fields = []
        found = False
        for f in self.schema.fields:
            if f.name == old:
                fields.append(T.StructField(new, f.dataType, f.nullable))
                found = True
            else:
                fields.append(f)
        if not found:
            raise ValueError(f"no column {old}")
        self.meta["schema"] = T.StructType(fields).jsonValue()
        renames = json.loads(self.properties.get("column_renames", "{}"))
        # Resolve chains transitively: after a→b then b→c the map must be
        # {c: a} (the on-disk name), not {c: b} — 'b' never existed in files.
        renames[new] = renames.pop(old, old)
        if renames[new] == new:  # renamed back to the on-disk name
            del renames[new]
        self.properties["column_renames"] = json.dumps(renames)
        defaults = json.loads(self.properties.get("column-defaults", "{}"))
        if old in defaults:  # the default follows the column's new name
            defaults[new] = defaults.pop(old)
            self.properties["column-defaults"] = json.dumps(defaults)
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1

    def promote_column(self, name: str, new_type: str) -> None:
        """ALTER TABLE ALTER COLUMN TYPE — metadata-only type promotion
        (Iceberg's evolution surface: int→long, float→double, decimal
        precision widening). Old data files keep their narrow physical
        type; scans read each file under its recorded on-disk type and
        cast up (see ``_read_files``). Narrowing or cross-family changes
        are rejected — they would silently corrupt or fail at read."""
        fld = next((f for f in self.schema.fields if f.name == name), None)
        if fld is None:
            raise ValueError(f"no column {name}")
        old_ddl = fld.dataType.simpleString()
        if not _can_promote(old_ddl, new_type):
            raise ValueError(f"cannot promote {name}: {old_ddl} → {new_type}")
        fields = [
            T.StructField(f.name, _parse_type(new_type) if f.name == name else f.dataType, f.nullable)
            for f in self.schema.fields
        ]
        self.meta["schema"] = T.StructType(fields).jsonValue()
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — metadata-only; the data stays in the
        files (and in older snapshots for time travel) but the evolved
        schema no longer projects it."""
        fields = [f for f in self.schema.fields if f.name != name]
        if len(fields) == len(self.schema.fields):
            raise ValueError(f"no column {name}")
        self.meta["schema"] = T.StructType(fields).jsonValue()
        # Forget any rename mapping for the dropped column: a later re-add
        # of the same name must NOT resurface the old column's data.
        renames = json.loads(self.properties.get("column_renames", "{}"))
        if renames.pop(name, None) is not None:
            self.properties["column_renames"] = json.dumps(renames)
        defaults = json.loads(self.properties.get("column-defaults", "{}"))
        if defaults.pop(name, None) is not None:
            self.properties["column-defaults"] = json.dumps(defaults)
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1

    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> list[str]:
        """Drop old snapshots; return orphaned file paths (files referenced
        only by expired snapshots). ``older_than_ms`` expires only
        snapshots committed before that time (Iceberg's older_than), still
        always retaining the last ``keep_last``. The oldest surviving
        snapshot is checkpointed to a FULL manifest first — its parents are
        about to disappear, so its delta chain must become self-contained.
        (Timestamps are monotonic, so the drop set is always a prefix and
        the survivor chain stays contiguous.) The CURRENT snapshot is
        never dropped even when a rollback moved it before the retention
        window — expiring the head would corrupt the table."""
        snaps = sorted(self.meta["snapshots"], key=lambda s: s["timestamp_ms"])
        idx = max(0, len(snaps) - keep_last)
        cur = self.meta.get("current_snapshot_id")
        if cur is not None:
            cur_idx = next(
                (i for i, s in enumerate(snaps) if s["snapshot_id"] == cur), idx
            )
            idx = min(idx, cur_idx)
        keep, drop = snaps[idx:], snaps[:idx]
        if older_than_ms is not None:
            still = [s for s in drop if s["timestamp_ms"] >= older_than_ms]
            drop = [s for s in drop if s["timestamp_ms"] < older_than_ms]
            keep = still + keep
        # ref-aware retention (Iceberg semantics): a snapshot any branch or
        # tag points at must survive expiry — dropping it would break every
        # ``VERSION AS OF '<ref>'`` read and orphan the branch lineage. The
        # drop set may now have holes; the checkpoint loop below makes each
        # surviving chain island self-contained.
        ref_ids = {r["snapshot_id"] for r in self.meta.get("refs", {}).values()}
        if ref_ids:
            still = [s for s in drop if s["snapshot_id"] in ref_ids]
            drop = [s for s in drop if s["snapshot_id"] not in ref_ids]
            keep = sorted(still + keep, key=lambda s: s["timestamp_ms"])
        return self._drop_snapshots(keep, drop)

    def remove_snapshots(self, snapshot_ids: list[int]) -> list[str]:
        """Expire an EXPLICIT snapshot set (the REST spec's
        ``remove-snapshots`` table update — a foreign client's expire
        posted through commitTable). Same safety rules as
        expire_snapshots, but enforced as refusals rather than silent
        retention: the current snapshot and any ref-protected snapshot
        cannot be named, and unknown ids refuse with nothing applied.
        Returns the orphaned file paths, like expire_snapshots."""
        ids = {int(s) for s in snapshot_ids}
        if not ids:
            return []
        snaps = sorted(self.meta["snapshots"], key=lambda s: s["timestamp_ms"])
        known = {s["snapshot_id"] for s in snaps}
        missing = sorted(ids - known)
        if missing:
            raise ValueError(
                f"remove-snapshots: unknown snapshot id(s) {missing[:3]}"
            )
        cur = self.meta.get("current_snapshot_id")
        if cur in ids:
            raise ValueError(
                "remove-snapshots: cannot expire the CURRENT snapshot "
                f"{cur} — expiring the head would corrupt the table"
            )
        ref_ids = {r["snapshot_id"] for r in self.meta.get("refs", {}).values()}
        protected = sorted(ids & ref_ids)
        if protected:
            raise ValueError(
                f"remove-snapshots: snapshot(s) {protected[:3]} are "
                "protected by a branch or tag ref — drop the ref first"
            )
        keep = [s for s in snaps if s["snapshot_id"] not in ids]
        drop = [s for s in snaps if s["snapshot_id"] in ids]
        return self._drop_snapshots(keep, drop)

    def _drop_snapshots(self, keep: list[dict], drop: list[dict]) -> list[str]:
        """Shared expiry tail: checkpoint survivors whose parents are
        about to disappear (their delta chains must become
        self-contained, live MOR deletes included), persist the new
        snapshot list, delete the dropped snapshots' delta files, and
        return the orphaned data paths (referenced only by dropped
        snapshots). ``keep``/``drop`` must partition the table's
        snapshots, timestamp-sorted."""
        # resolve manifests while the full chain is still present
        live_manifests = {s["snapshot_id"]: self._resolve_manifest(s) for s in keep}
        dropped_paths = {f.path for s in drop for f in self._resolve_manifest(s)}
        live = {f.path for fs in live_manifests.values() for f in fs}
        orphaned = sorted(dropped_paths - live)

        # checkpoint every kept snapshot whose parent is about to disappear
        # (the oldest survivor, plus any ref-protected island): its delta
        # chain must become self-contained before the parents go away.
        keep_ids = {s["snapshot_id"] for s in keep}
        for snap_keep in keep:
            if "manifest_file" not in snap_keep:
                continue
            parent = snap_keep.get("parent_snapshot_id")
            if parent is None or parent in keep_ids:
                continue
            ckpt_name = f"snap-{snap_keep['snapshot_id']}-full.json"
            _write_manifest_delta(
                os.path.join(self.location, "metadata", ckpt_name),
                live_manifests[snap_keep["snapshot_id"]],
                set(),
                full=True,
                # live MOR deletes must survive the chain cut
                added_deletes=self._resolve_deletes(snap_keep),
            )
            snap_keep["manifest_file"] = ckpt_name
            snap_keep["parent_snapshot_id"] = None
        expired_manifests = [
            self._manifest_file(s) for s in drop if "manifest_file" in s
        ]
        self.meta["snapshots"] = keep
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1
        for mf in expired_manifests:
            try:
                os.remove(mf)
            except OSError:
                pass
        return orphaned

    def remove_orphan_files(self, dry_run: bool = False) -> list[str]:
        """Delete files under the table location referenced by NO snapshot
        (Iceberg's remove_orphan_files action): leftovers of crashed writes
        whose commit never happened, and files expired out of every
        snapshot. Only table-owned storage is walked — externally
        registered files are never touched. Returns the orphan paths."""
        referenced: set[str] = set()
        for snap in self.meta["snapshots"]:
            referenced.update(f.path for f in self._resolve_manifest(snap))
            for d in self._resolve_deletes(snap):
                if d.get("path"):
                    referenced.add(d["path"])
        orphans = []
        for sub in ("data", "deletes"):
            base = os.path.join(self.location, sub)
            for dirpath, _dirs, fnames in os.walk(base):
                for fn in fnames:
                    # _SUCCESS/.crc write markers: invisible to readers
                    # (Spark's hidden-file convention), never manifested
                    if fn.startswith((".", "_")):
                        continue
                    p = os.path.join(dirpath, fn)
                    # a referenced path may be a file OR a directory
                    # (multi-part writes register the directory)
                    if p in referenced or dirpath in referenced:
                        continue
                    if any(p.startswith(r + os.sep) for r in referenced):
                        continue
                    orphans.append(p)
        orphans.sort()
        if not dry_run:
            for p in orphans:
                try:
                    os.remove(p)
                except OSError:
                    pass
        return orphans

    def rollback_to_timestamp(self, ts_ms: int) -> int:
        """Iceberg's rollback_to_timestamp: point main at the latest
        snapshot committed at or before ``ts_ms``."""
        snap = self._select_snapshot(as_of_ms=ts_ms)
        if snap is None:
            raise ValueError(f"no snapshot at or before {ts_ms}")
        self.rollback_to_snapshot(snap["snapshot_id"])
        return snap["snapshot_id"]

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE SET TBLPROPERTIES: merge and persist — metadata-only
        version bump, no snapshot (matching Iceberg's property commits)."""
        self.properties.update(props)
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1

    # -- identifier fields (Iceberg's row-identity spec) --------------------
    @property
    def identifier_fields(self) -> list[str]:
        """Columns declared as the table's row identity (Iceberg's
        identifier-field-ids): the default join keys for MERGE and
        streaming upsert when the caller passes none."""
        raw = self.properties.get("identifier-fields", "")
        return [c for c in raw.split(",") if c]

    def set_identifier_fields(self, cols: list[str]) -> None:
        """ALTER TABLE ... SET IDENTIFIER FIELDS a, b — metadata-only.
        Columns must exist and (Iceberg rule) be required-comparable; we
        enforce existence, since nullability is advisory here."""
        names = {f.name for f in self.schema.fields}
        missing = [c for c in cols if c not in names]
        if missing:
            raise ValueError(f"identifier fields not in schema: {missing}")
        if not cols:
            raise ValueError("SET IDENTIFIER FIELDS needs at least one column")
        self.set_properties({"identifier-fields": ",".join(cols)})

    def drop_identifier_fields(self) -> None:
        self.properties.pop("identifier-fields", None)
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1

    def _default_keys(self, on) -> list[str]:
        """Resolve merge/upsert keys: explicit ``on`` wins; otherwise the
        declared identifier fields; otherwise it's an error."""
        if on:
            return on
        fields = self.identifier_fields
        if not fields:
            raise ValueError(
                "no merge keys: pass on=[...] or declare them once with "
                "SET IDENTIFIER FIELDS"
            )
        return fields

    # -- named refs (Iceberg branches and tags) ----------------------------
    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """An immutable named pointer to a snapshot (audit marks, release
        pins). Scanning a tag is time travel by name."""
        self._set_ref(name, snapshot_id, "tag", overwrite=False)

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """A mutable named pointer; ``advance_branch`` moves it, and
        write ops accept ``branch=`` to commit onto its lineage (the
        write-audit-publish path; ``publish_branch`` fast-forwards main)."""
        self._set_ref(name, snapshot_id, "branch", overwrite=False)

    def advance_branch(self, name: str, snapshot_id: int) -> None:
        refs = self.meta.setdefault("refs", {})
        if name not in refs or refs[name]["type"] != "branch":
            raise ValueError(f"no branch {name}")
        self._set_ref(name, snapshot_id, "branch", overwrite=True)

    def _is_ancestor(self, maybe_ancestor: int, of: int) -> bool:
        by_id = {s["snapshot_id"]: s for s in self.meta["snapshots"]}
        cur: int | None = of
        while cur is not None:
            if cur == maybe_ancestor:
                return True
            snap = by_id.get(cur)
            cur = snap.get("parent_snapshot_id") if snap else None
        return False

    def cherrypick_snapshot(self, snapshot_id: int) -> int:
        """Iceberg's ``cherrypick_snapshot``: re-apply one APPEND
        snapshot's added files as a NEW commit on the current head — the
        non-fast-forward WAP publish (main advanced after the audit
        branch forked, so ``publish_branch`` refuses; cherry-picking the
        staged append is the escape). Metadata-only: the staged files are
        re-registered, never rewritten. Restricted to append snapshots,
        as in Iceberg — replays of deletes/overwrites against a moved
        head would silently target different rows."""
        snap = next(
            (s for s in self.meta["snapshots"] if s["snapshot_id"] == snapshot_id),
            None,
        )
        if snap is None:
            raise ValueError(f"no snapshot {snapshot_id}")
        if snap["operation"] != "append":
            raise ValueError(
                f"cherrypick supports append snapshots only, "
                f"{snapshot_id} is {snap['operation']!r}"
            )
        added = [
            DataFileEntry.from_json(d) for d in self._snapshot_delta(snap).get("added", ())
        ]
        current = {f.path for f in self.snapshot_files()}
        added = [f for f in added if f.path not in current]  # idempotent replay
        if not added:  # everything already on the head: no no-op snapshot
            cur = self.meta.get("current_snapshot_id")
            if cur is None:
                raise ValueError("cherrypick onto an empty table with no new files")
            return cur
        # fresh copies: _commit stamps seq in place (see clone_from)
        added = [DataFileEntry.from_json(f.to_json()) for f in added]
        for f in added:
            f.seq = None  # re-stamped with the NEW commit's sequence
        return self._commit("append", added)

    def publish_branch(self, name: str) -> int:
        """Write-audit-publish, step 3 (Iceberg's ``fast_forward('main',
        branch)``): after audits pass on the staged branch, main's head
        moves to the branch head in one metadata CAS — the staged
        snapshots become visible atomically, and nothing is rewritten.
        Requires main's current head to be an ancestor of the branch head
        (a true fast-forward; anything else would silently drop main
        commits that landed after the branch forked)."""
        r = self.meta.get("refs", {}).get(name)
        if r is None or r["type"] != "branch":
            raise ValueError(f"no branch {name}")
        head = r["snapshot_id"]
        cur = self.meta.get("current_snapshot_id")
        if cur is not None and not self._is_ancestor(cur, head):
            raise ValueError(
                f"cannot fast-forward: main head {cur} is not an ancestor of "
                f"branch {name} head {head}"
            )
        self.meta["current_snapshot_id"] = head
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1
        return head

    def rollback_to_snapshot(self, snapshot_id: int) -> None:
        """Iceberg's ``rollback_to_snapshot`` procedure: move main's head
        back to an ANCESTOR snapshot (undo bad commits). Metadata-only and
        reversible until expire_snapshots — the abandoned snapshots stay
        in the log and remain time-travelable."""
        cur = self.meta.get("current_snapshot_id")
        if not any(s["snapshot_id"] == snapshot_id for s in self.meta["snapshots"]):
            raise ValueError(f"no snapshot {snapshot_id}")
        if cur is not None and not self._is_ancestor(snapshot_id, cur):
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of current {cur}; "
                "use a branch for non-linear state"
            )
        self.meta["current_snapshot_id"] = snapshot_id
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1

    def drop_ref(self, name: str) -> None:
        refs = self.meta.setdefault("refs", {})
        if name not in refs:
            raise ValueError(f"no ref {name}")
        del refs[name]
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1

    def _set_ref(
        self, name: str, snapshot_id: int | None, kind: str, overwrite: bool
    ) -> None:
        refs = self.meta.setdefault("refs", {})
        if name in refs and not overwrite:
            raise ValueError(f"ref {name} already exists")
        if snapshot_id is None:
            if self.current_snapshot is None:
                raise ValueError("table has no snapshots to reference")
            snapshot_id = self.current_snapshot["snapshot_id"]
        if not any(s["snapshot_id"] == snapshot_id for s in self.meta["snapshots"]):
            raise ValueError(f"no snapshot {snapshot_id}")
        refs[name] = {
            "snapshot_id": snapshot_id,
            "type": kind,
            "created_ms": int(time.time() * 1000),
        }
        _write_metadata(self.location, self.meta, self.version + 1)
        self.version += 1

    def refs_df(self) -> DataFrame:
        rows = [
            (name, r["type"], r["snapshot_id"], r.get("created_ms"))
            for name, r in sorted(self.meta.get("refs", {}).items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id long, created_ms long"
        )

    # -- reads -------------------------------------------------------------
    def scan_incremental(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Incremental append scan (Iceberg's incremental read): rows ADDED
        by commits strictly AFTER ``from_snapshot_id`` up to and including
        ``to_snapshot_id`` (default: current). This is the CDC feed for
        downstream consumers — at 100 TB a nightly sync reads only the new
        files' rows, never rescans the table. The commit range must be
        append-only (Iceberg raises on overwrite/delete in range too:
        removed rows can't be represented in an append feed)."""
        end = self._select_snapshot(to_snapshot_id, None)
        if end is None:
            return self.spark.createDataFrame([], self.schema)
        by_id = {s["snapshot_id"]: s for s in self.meta["snapshots"]}
        if from_snapshot_id not in by_id:
            raise ValueError(f"no snapshot {from_snapshot_id}")
        added: list[DataFileEntry] = []
        cur: dict | None = end
        while cur is not None and cur["snapshot_id"] != from_snapshot_id:
            if cur["operation"] not in ("append",):
                raise ValueError(
                    f"incremental scan range contains non-append commit "
                    f"{cur['snapshot_id']} ({cur['operation']})"
                )
            added.extend(
                DataFileEntry.from_json(f) for f in self._snapshot_delta(cur).get("added", ())
            )
            parent_id = cur.get("parent_snapshot_id")
            if parent_id is None:
                raise ValueError(
                    f"snapshot {from_snapshot_id} is not an ancestor of "
                    f"{end['snapshot_id']}"
                )
            cur = by_id.get(parent_id)
            if cur is None:
                raise ValueError(f"ancestor {parent_id} expired — range unreadable")
        return self._read_files(added)

    def changelog(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        compute_updates: bool = False,
    ) -> DataFrame:
        """Row-level change feed between two snapshots (Iceberg's
        create_changelog_view): rows present only in the newer snapshot
        come back as ``_change_type='insert'``, rows present only in the
        older as ``'delete'`` (an UPDATE appears as its delete+insert
        pair). Unlike ``scan_incremental`` this handles non-append commits.

        ``compute_updates`` (Iceberg's same-named changelog option) uses
        row lineage to PAIR the two halves of an update: a ``_row_id``
        present on both sides with different column values emits
        ``update_preimage`` + ``update_postimage`` rows instead of an
        unpaired delete+insert — what a CDC consumer needs to apply
        updates as updates. Rows without lineage ids (pre-lineage files)
        fall back to the unpaired classification.

        Cost is O(changed files), not O(table): files carried over between
        the snapshots are identical on both sides, so only files unique to
        either snapshot are read and diffed (the multiset EXCEPT ALL per
        side; the update pairing adds one join keyed on _row_id over the
        same O(changed) rows). At 100 TB a one-day changelog reads that
        day's rewritten files only."""
        old_snap = self._select_snapshot(from_snapshot_id, None)
        new_snap = self._select_snapshot(to_snapshot_id, None)
        if new_snap is None:
            raise ValueError("table has no current snapshot")
        old_files = {f.path: f for f in self._resolve_manifest(old_snap)}
        new_files = {f.path: f for f in self._resolve_manifest(new_snap)}
        old_deletes = self._resolve_deletes(old_snap)
        new_deletes = self._resolve_deletes(new_snap)
        # a file carried over with IDENTICAL applicable deletes contributes
        # the same rows to both sides — skip it; anything else is diffed
        def _applicable(f, deletes):
            return tuple(
                json.dumps(d, sort_keys=True) for d in deletes if f.seq < d["seq"]
            )

        common = {
            p
            for p in old_files.keys() & new_files.keys()
            if _applicable(old_files[p], old_deletes)
            == _applicable(new_files[p], new_deletes)
        }
        changed_old = [f for p, f in old_files.items() if p not in common]
        changed_new = [f for p, f in new_files.items() if p not in common]
        if not compute_updates:
            old_side = self._read_files_with_deletes(changed_old, old_deletes)
            new_side = self._read_files_with_deletes(changed_new, new_deletes)
            inserts = new_side.exceptAll(old_side).withColumn(
                "_change_type", F.lit("insert")
            )
            deletes = old_side.exceptAll(new_side).withColumn(
                "_change_type", F.lit("delete")
            )
            return inserts.unionByName(deletes)

        data_cols = [f.name for f in self.schema.fields]
        def _with_ids(files_list, dels):
            return self._read_with_row_ids(files_list, dels).select(*data_cols, "__row_id")

        old_r, new_r = _with_ids(changed_old, old_deletes), _with_ids(changed_new, new_deletes)
        # rows the other side also has with the SAME id and data are not
        # changes at all (a row that merely moved files in a rewrite)
        o = old_r.select(
            F.col("__row_id").alias("__rid"),
            F.struct(*data_cols).alias("__old"),
        )
        n = new_r.select(
            F.col("__row_id").alias("__rid"),
            F.struct(*data_cols).alias("__new"),
        )
        with_id = o.filter(F.col("__rid").isNotNull()).join(
            n.filter(F.col("__rid").isNotNull()), "__rid", "full_outer"
        )
        unpack = lambda side, tag: F.col(f"{side}.{tag}")  # noqa: E731
        pre = (
            with_id.filter(
                F.col("__old").isNotNull()
                & F.col("__new").isNotNull()
                & ~(F.col("__old") == F.col("__new"))
            )
            .select(*[unpack("__old", c).alias(c) for c in data_cols])
            .withColumn("_change_type", F.lit("update_preimage"))
        )
        post = (
            with_id.filter(
                F.col("__old").isNotNull()
                & F.col("__new").isNotNull()
                & ~(F.col("__old") == F.col("__new"))
            )
            .select(*[unpack("__new", c).alias(c) for c in data_cols])
            .withColumn("_change_type", F.lit("update_postimage"))
        )
        ins = (
            with_id.filter(F.col("__old").isNull())
            .select(*[unpack("__new", c).alias(c) for c in data_cols])
            .withColumn("_change_type", F.lit("insert"))
        )
        del_ = (
            with_id.filter(F.col("__new").isNull())
            .select(*[unpack("__old", c).alias(c) for c in data_cols])
            .withColumn("_change_type", F.lit("delete"))
        )
        # pre-lineage rows (NULL id): classify unpaired, like the legacy path
        legacy_old = old_r.filter(F.col("__row_id").isNull()).drop("__row_id")
        legacy_new = new_r.filter(F.col("__row_id").isNull()).drop("__row_id")
        legacy = (
            legacy_new.exceptAll(legacy_old)
            .withColumn("_change_type", F.lit("insert"))
            .unionByName(
                legacy_old.exceptAll(legacy_new).withColumn(
                    "_change_type", F.lit("delete")
                )
            )
        )
        return pre.unionByName(post).unionByName(ins).unionByName(del_).unionByName(legacy)

    def column_min_max(
        self, column: str, snapshot_id: int | None = None
    ) -> tuple | None:
        """MIN/MAX of a column from manifest statistics alone — zero data
        IO — when every live file carries stats for it and no MOR delete
        is pending (a delete could remove the extreme row); falls back to
        a real scan aggregate otherwise. With count_rows this completes
        the aggregate-pushdown-to-statistics family Iceberg serves from
        manifests."""
        snap = self._select_snapshot(snapshot_id, None)
        if snap is None:
            return None
        files = self._resolve_manifest(snap)
        if not files:
            return None
        if not self._resolve_deletes(snap) and all(
            f.stats.get(column) is not None for f in files
        ):
            mns, mxs = zip(*(f.stats[column] for f in files))
            return (min(mns), max(mxs))
        row = (
            self.scan(snapshot_id=snapshot_id)
            .agg(F.min(column).alias("mn"), F.max(column).alias("mx"))
            .first()
        )
        return (row["mn"], row["mx"])

    def count_rows(self, snapshot_id: int | None = None) -> int:
        """COUNT(*) from manifest metadata alone — no file IO — when no
        MOR delete entries are pending (their matched counts are unknown
        without reading); falls back to a real scan count otherwise. This
        is the aggregate-pushdown-to-statistics path: at 100 TB a row
        count is a driver-side sum over the manifest."""
        snap = self._select_snapshot(snapshot_id, None)
        if snap is None:
            return 0
        if self._resolve_deletes(snap):
            return self.scan(snapshot_id=snap["snapshot_id"]).count()
        return int(sum(f.record_count for f in self._resolve_manifest(snap)))

    def scan(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        filter: str | None = None,
        ref: str | None = None,
        metadata_columns: bool = False,
    ) -> DataFrame:
        """Snapshot-isolated scan. File-level min/max pruning is applied for
        simple ``col <op> literal`` filters before Spark ever lists the
        files (the manifest-pruning analogue); the filter is also applied
        to the DataFrame so Spark pushes it into row-group pruning.
        ``ref`` scans a named branch/tag head (audit reads in WAP).

        ``metadata_columns`` appends Iceberg's hidden metadata columns:
        ``_file``/``_pos`` (Spark's file metadata struct — free) and
        ``_spec_id``/``_partition``/``_row_id``/
        ``_last_updated_sequence_number`` (a broadcast join of the
        manifest's per-file entries; O(files) build side, the data never
        shuffles)."""
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass either ref or snapshot_id, not both")
            r = self.meta.get("refs", {}).get(ref)
            if r is None:
                raise ValueError(f"no ref {ref}")
            snapshot_id = r["snapshot_id"]
        files = self.snapshot_files(snapshot_id, as_of_ms)
        if filter is not None:
            from iceberg_metadata_pipeline_spark.catalog.partitioning import (
                prune_files_by_partition,
                split_conjuncts,
            )

            specs = self.partition_specs
            types = self._schema_types() if specs else {}
            for conjunct in split_conjuncts(filter):
                files = _prune_by_stats(files, conjunct)
                if specs:
                    files = prune_files_by_partition(
                        self.spark, files, specs, types, conjunct
                    )
        snap = self._select_snapshot(snapshot_id, as_of_ms)
        deletes = self._resolve_deletes(snap) if snap is not None else []
        df = self._read_files_with_deletes(
            files, deletes, keep_lineage=metadata_columns
        )
        if filter is not None:
            df = df.filter(filter)
        if metadata_columns:
            # row lineage (Iceberg v3): fresh files derive ids from their
            # manifest block; compacted files carry them materialized;
            # pre-lineage files expose NULL
            df = df.withColumnsRenamed(
                {
                    "__file": "_file",
                    "__pos": "_pos",
                    "__row_id": "_row_id",
                    "__data_seq": "_last_updated_sequence_number",
                    "__spec_id": "_spec_id",
                    "__partition": "_partition",
                }
            )
        return df

    def _read_files_with_deletes(
        self,
        files: list[DataFileEntry],
        deletes: list[dict],
        keep_lineage: bool = False,
    ) -> DataFrame:
        """Read files with MOR delete entries applied by ``apply_deletes``.
        ``keep_lineage`` adds each row's ``__file``/``__pos``, its stable
        ``__row_id`` (Iceberg v3: the materialized id, else first_row_id +
        pos; NULL for pre-lineage files) and its file's ``__data_seq``/
        ``__spec_id``/``__partition``, from one broadcast frame of the
        manifest entries whose ``__data_seq`` also serves the deletes."""
        if not deletes and not keep_lineage:
            return self._read_files(files)
        seqs = {plain_path(f.path): f.seq for f in files}
        entries = [
            RowDelete(
                d["kind"], d["seq"], d.get("expr"), d.get("path"), tuple(d.get("key_cols", ()))
            )
            for d in deletes
        ]
        dels = live_deletes(entries, seqs)
        if not keep_lineage:
            lineage = any(d.kind == "position" or d.seq is not None for d in dels)
            df = apply_deletes(self._read_files(files, with_lineage=lineage), dels, seqs)
            return df.drop("__file", "__pos", "__row_id") if lineage else df
        meta = local_frame(
            self.spark,
            [
                (
                    plain_path(f.path),
                    f.seq,
                    f.first_row_id,
                    f.spec_id if f.spec_id is not None else 0,
                    json.dumps(f.partition, sort_keys=True, default=str)
                    if f.partition
                    else "{}",
                )
                for f in files
            ],
            "__mfile string, __data_seq long, __frid long, __spec_id int, "
            "__partition string",
        )
        df = (
            self._read_files(files, with_lineage=True)
            .join(F.broadcast(meta), F.col("__file") == F.col("__mfile"))
            .withColumn(
                "__row_id",
                F.coalesce(F.col("__row_id"), F.col("__frid") + F.col("__pos")),
            )
            .drop("__mfile", "__frid")
        )
        return apply_deletes(df, dels, seqs)

    def _read_with_row_ids(
        self, files: list[DataFileEntry], deletes: list[dict]
    ) -> DataFrame:
        """Live rows plus ``__row_id``: the shape a lineage-PRESERVING
        rewrite writes back out, so ids survive compaction (pre-lineage
        rows keep NULL; inventing ids would collide with the counter)."""
        return self._read_files_with_deletes(files, deletes, keep_lineage=True).drop(
            "__file", "__pos", "__data_seq", "__spec_id", "__partition"
        )

    def _read_files(
        self, files: list[DataFileEntry], with_lineage: bool = False
    ) -> DataFrame:
        """Read registered files under the table's EVOLVED schema:

        - renamed columns are read under their on-disk names and aliased
          (Iceberg resolves by field id; the rename map restores id-like
          semantics over name-based Parquet);
        - type-promoted columns are read under each file's REAL on-disk
          type (recorded in its manifest entry at registration) and cast up
          — a long-schema read over an int32 file would otherwise fail in
          the vectorized reader.

        Files are grouped by their effective read-type signature: one scan
        per distinct signature (normally 1, or 2 spanning a promotion),
        unioned by name. Pushdown/pruning apply per group as usual.

        ``with_lineage`` appends ``__file``/``__pos`` columns (the plain
        path of ``_metadata.file_path``, and ``row_index``) — the row
        identity that positional delete files reference — and the
        materialized ``__row_id`` (NULL where the file has none)."""
        if not files:
            schema = self.schema
            if with_lineage:
                schema = T.StructType(
                    list(schema.fields)
                    + [
                        T.StructField("__file", T.StringType()),
                        T.StructField("__pos", T.LongType()),
                        T.StructField("__row_id", T.LongType()),
                    ]
                )
            return self.spark.createDataFrame([], schema)
        renames = json.loads(self.properties.get("column_renames", "{}"))
        defaults = json.loads(self.properties.get("column-defaults", "{}"))
        fields = self.schema.fields

        def disk_name(entry: DataFileEntry, f: T.StructField) -> str:
            # Files written AFTER a rename carry the evolved name on disk;
            # files from before carry the original. The footer-recorded
            # column set disambiguates per file (Iceberg does this with
            # field ids; we do it with the names actually present).
            if entry.types:
                if f.name in entry.types:
                    return f.name
                old = renames.get(f.name)
                if old and old in entry.types:
                    return old
            return renames.get(f.name, f.name)

        def signature(entry: DataFileEntry) -> tuple[tuple[str, str], ...]:
            sig = []
            for f in fields:
                disk = disk_name(entry, f)
                if f.name in defaults:
                    # initial-default: is the column physically in THIS
                    # file? Footer-recorded names decide where available,
                    # else the file's data sequence vs the sequence at
                    # ADD COLUMN time (older file → column absent).
                    present = (
                        disk in entry.types
                        if entry.types
                        else entry.seq > defaults[f.name]["seq"]
                    )
                    if not present:
                        sig.append((disk, _DEFAULT_SENTINEL))
                        continue
                sig.append((disk, entry.types.get(disk, f.dataType.simpleString())))
            return tuple(sig)

        groups: dict[tuple, list[DataFileEntry]] = {}
        for entry in files:
            # compaction outputs materialize a physical __row_id column
            # (row lineage preserved through rewrites) — group by its
            # presence too so each group's read schema is uniform
            key = (signature(entry), bool(entry.types and "__row_id" in entry.types))
            groups.setdefault(key, []).append(entry)

        parts = []
        for (sig, has_rowid), group in sorted(groups.items()):
            read_fields = [
                T.StructField(disk, _parse_type(ddl), f.nullable)
                for f, (disk, ddl) in zip(fields, sig)
                if ddl != _DEFAULT_SENTINEL  # absent col: never read it
            ]
            if with_lineage and has_rowid:
                read_fields.append(T.StructField("__row_id", T.LongType()))
            read_schema = T.StructType(read_fields)
            part = self.spark.read.schema(read_schema).parquet(
                *[entry.path for entry in group]
            )
            # string expressions, one selectExpr: a py4j roundtrip per
            # Column object is pure overhead at metadata scale
            cols = []
            for f, (disk, ddl) in zip(fields, sig):
                target = f.dataType.simpleString()
                if ddl == _DEFAULT_SENTINEL:
                    init = defaults[f.name]["initial"]
                    cols.append(f"CAST({init} AS {target}) AS `{f.name}`")
                elif disk == f.name and ddl == target:
                    cols.append(f"`{f.name}`")
                else:
                    cols.append(f"CAST(`{disk}` AS {target}) AS `{f.name}`")
            if with_lineage:
                cols += [
                    f"{LINEAGE_FILE} AS `__file`",
                    "_metadata.row_index AS `__pos`",
                    "`__row_id`" if has_rowid else "CAST(NULL AS BIGINT) AS `__row_id`",
                ]
            parts.append(part.selectExpr(*cols))
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        return out

    # -- metadata tables ---------------------------------------------------
    def snapshots_df(self) -> DataFrame:
        rows = [
            (
                s["snapshot_id"],
                s["parent_snapshot_id"],
                s["timestamp_ms"],
                s["operation"],
                s["n_files"],
                s["n_records"],
            )
            for s in self.meta["snapshots"]
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, parent_snapshot_id long, timestamp_ms long, "
            "operation string, n_files int, total_records long",
        )

    def files_df(self) -> DataFrame:
        # first_row_id mirrors Iceberg v3's .files column: the row-lineage
        # block start (NULL for compacted files carrying materialized ids)
        rows = [
            (f.path, f.record_count, f.file_size_bytes, f.format, f.first_row_id)
            for f in self.snapshot_files()
        ]
        return self.spark.createDataFrame(
            rows,
            "file_path string, record_count long, file_size_bytes long, "
            "file_format string, first_row_id long",
        )

    def manifests_df(self) -> DataFrame:
        """Iceberg's ``.manifests`` metadata table: one row per manifest
        delta file with its commit's added/removed counts and on-disk size
        — how an operator audits metadata growth (the judge of whether
        commits stay O(delta)). Driver-side over O(snapshots) records."""
        rows = []
        for s in self.meta["snapshots"]:
            path = self._manifest_file(s)
            try:
                size = os.path.getsize(path)
            except OSError:
                size = None
            try:
                with open(path) as fh:
                    full = bool(json.load(fh).get("full"))
            except OSError:
                full = None
            rows.append(
                (
                    s["manifest_file"],
                    s["snapshot_id"],
                    size,
                    s.get("n_added", 0),
                    s.get("n_removed", 0),
                    full,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "path string, added_snapshot_id long, length long, "
            "added_files_count int, removed_files_count int, is_full boolean",
        )

    def all_files_df(self) -> DataFrame:
        """Iceberg's ``.all_files``: every data file referenced by ANY
        snapshot (not just the current one), with the first snapshot that
        references it — the orphan/GC auditing view. Driver-side over
        already-resolved manifests (metadata-sized)."""
        seen: dict[str, tuple] = {}
        for s in sorted(self.meta["snapshots"], key=lambda s: s["timestamp_ms"]):
            for f in self._resolve_manifest(s):
                if f.path not in seen:
                    seen[f.path] = (
                        f.path,
                        f.record_count,
                        f.file_size_bytes,
                        f.seq,
                        s["snapshot_id"],
                    )
        return self.spark.createDataFrame(
            sorted(seen.values()),
            "file_path string, record_count long, file_size_bytes long, "
            "seq long, first_snapshot_id long",
        )

    def _snapshot_delta(self, snap: dict) -> dict:
        """The raw per-commit delta record (added / removed_paths /
        added_deletes). Metadata-sized: one small JSON per commit."""
        with open(self._manifest_file(snap)) as fh:
            return json.load(fh)

    def _added_by_snapshot(self) -> dict[str, int]:
        """path → snapshot_id of the commit that FIRST added the file.
        Checkpoint deltas re-list the whole live set, so first-seen along
        the chronological walk wins (the checkpoint never claims
        authorship of files it merely carries forward)."""
        added: dict[str, int] = {}
        for s in sorted(self.meta["snapshots"], key=lambda s: s["timestamp_ms"]):
            for f in self._snapshot_delta(s).get("added", ()):
                added.setdefault(f["path"], s["snapshot_id"])
        return added

    def entries_df(self) -> DataFrame:
        """Iceberg's ``.entries`` for the current snapshot: one row per
        live manifest entry with its status relative to the head commit —
        1 = ADDED by the current snapshot, 0 = EXISTING (carried forward)
        — plus the snapshot that added the file and its data sequence
        number. The audit view for "what did the last commit actually
        touch". Driver-side over O(live files) metadata."""
        cur = self.current_snapshot
        if cur is None:
            return self.spark.createDataFrame(
                [],
                "status int, snapshot_id long, sequence_number long, "
                "file_path string, record_count long, file_size_bytes long",
            )
        added_by = self._added_by_snapshot()
        rows = [
            (
                1 if added_by.get(f.path) == cur["snapshot_id"] else 0,
                added_by.get(f.path),
                f.seq,
                f.path,
                f.record_count,
                f.file_size_bytes,
            )
            for f in self._resolve_manifest(cur)
        ]
        return self.spark.createDataFrame(
            rows,
            "status int, snapshot_id long, sequence_number long, "
            "file_path string, record_count long, file_size_bytes long",
        )

    def all_entries_df(self) -> DataFrame:
        """Iceberg's ``.all_entries``: manifest entries across ALL
        snapshots — one row per per-commit transition: status 1 = file
        added by that snapshot, 2 = file deleted by it, 0 = existing
        (only for checkpoint commits, which re-list the live set). The
        full file-lifecycle audit trail. Driver-side over
        O(snapshots × changed files) — commits are delta-sharded, so
        this stays proportional to total churn, not snapshots × table
        size."""
        added_by = self._added_by_snapshot()
        rows = []
        for s in sorted(self.meta["snapshots"], key=lambda s: s["timestamp_ms"]):
            sid = s["snapshot_id"]
            delta = self._snapshot_delta(s)
            for f in delta.get("added", ()):
                # authorship decides ADDED vs EXISTING: checkpoint deltas
                # (including the parentless ones expire_snapshots writes)
                # re-list files they merely carry forward
                rows.append(
                    (
                        1 if added_by.get(f["path"]) == sid else 0,
                        sid,
                        f.get("seq", 0),
                        f["path"],
                        f.get("record_count"),
                        f.get("file_size_bytes"),
                    )
                )
            for p in delta.get("removed_paths", ()):
                rows.append((2, sid, None, p, None, None))
        return self.spark.createDataFrame(
            rows,
            "status int, snapshot_id long, sequence_number long, "
            "file_path string, record_count long, file_size_bytes long",
        )

    def all_manifests_df(self) -> DataFrame:
        """Iceberg's ``.all_manifests``: every manifest (delta) file any
        snapshot references. In the sharded-delta layout each commit owns
        exactly one delta, so this is the same row set ``.manifests``
        reports; kept as its own table for Iceberg SQL-surface parity."""
        return self.manifests_df()

    def all_data_files_df(self) -> DataFrame:
        """Iceberg's ``.all_data_files``: data files across all snapshots
        (delete files live in ``.all_delete_files``; in this layout
        ``.all_files`` is already data-only)."""
        return self.all_files_df()

    def all_delete_files_df(self) -> DataFrame:
        """Iceberg's ``.all_delete_files``: every merge-on-read delete
        entry any commit registered — predicate, equality-delete-file, or
        position-delete-file — whether or not it is still pending at the
        head. Complements ``.delete_files`` (pending-only) for auditing
        how much MOR debt the table has ever accumulated."""
        rows = []
        for s in sorted(self.meta["snapshots"], key=lambda s: s["timestamp_ms"]):
            sid = s["snapshot_id"]
            for d in self._snapshot_delta(s).get("added_deletes", ()):
                rows.append(
                    (
                        sid,
                        d.get("kind"),
                        d.get("path") or d.get("expr"),
                        d.get("seq", 0),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, kind string, reference string, sequence_number long",
        )

    def analyze(self, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE: table-level row count plus per-column null count
        and NDV, persisted in table properties with snapshot provenance —
        the metacat analogue of Iceberg's compute_table_stats writing
        Puffin NDV sketches. One Spark job regardless of column count
        (all aggregates in a single agg), with NDV from
        approx_count_distinct (HLL): at 100 TB an exact distinct per
        column is a full shuffle each — the sketch is the scale-correct
        choice, which is why Iceberg stores theta sketches too.

        A CBO consumer reads these from properties (`column-stats` JSON);
        `.column_stats` exposes them as a metadata table."""
        if columns is None:
            columns = [f.name for f in self.schema.fields]
        names = {f.name for f in self.schema.fields}
        missing = [c for c in columns if c not in names]
        if missing:
            raise ValueError(f"analyze: columns not in schema: {missing}")
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in columns:
            aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
        row = self.scan().agg(*aggs).first()
        n_rows = row["__rows"]
        stats = {
            c: {
                "null_count": n_rows - row[f"__nn_{c}"],
                "ndv": row[f"__ndv_{c}"],
            }
            for c in columns
        }
        snap = self.current_snapshot
        self.set_properties(
            {
                "row-count": str(n_rows),
                "column-stats": json.dumps(stats, sort_keys=True),
                "stats-snapshot-id": str(snap["snapshot_id"] if snap else 0),
            }
        )
        return {"row_count": n_rows, "columns": stats}

    def column_stats_df(self) -> DataFrame:
        """`.column_stats` metadata table over the last ANALYZE run."""
        stats = json.loads(self.properties.get("column-stats", "{}"))
        n_rows = int(self.properties.get("row-count", 0))
        rows = [
            (c, n_rows, s["null_count"], s["ndv"])
            for c, s in sorted(stats.items())
        ]
        return self.spark.createDataFrame(
            rows, "column_name string, row_count long, null_count long, ndv long"
        )

    def delete_files_df(self) -> DataFrame:
        """Iceberg's ``.delete_files``: one row per PENDING merge-on-read
        delete entry the current snapshot still applies at read time —
        the first thing to check when scans slow down (each entry is a
        filter or anti-join every read pays until compaction folds it).
        Covers all three shapes: predicate (expr, no file), equality
        (file + key columns), position (file of (file_path, pos) rows)."""
        snap = self.current_snapshot
        deletes = self._resolve_deletes(snap) if snap is not None else []
        rows = []
        for d in deletes:
            path = d.get("path")
            size = None
            if path:
                try:
                    if os.path.isdir(path):
                        # equality/position deletes write a DIRECTORY of
                        # part files; the meaningful size is their sum,
                        # not the directory inode
                        size = sum(
                            os.path.getsize(os.path.join(r, f))
                            for r, _dirs, fs in os.walk(path)
                            for f in fs
                        )
                    else:
                        size = os.path.getsize(path)
                except OSError:
                    size = None
            rows.append(
                (
                    d["kind"],
                    path,
                    d.get("expr"),
                    ",".join(d.get("key_cols", ())) or None,
                    d.get("seq"),
                    size,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "kind string, file_path string, predicate string, "
            "equality_columns string, seq long, file_size_bytes long",
        )

    def position_deletes_df(self) -> DataFrame:
        """Iceberg's ``.position_deletes``: the row-level content of every
        pending position-delete file — (data file, position, delete-file
        provenance). Reads the delete parquet DISTRIBUTED (these files can
        be large after a wide MOR delete; only their union plan touches
        the driver)."""
        snap = self.current_snapshot
        deletes = self._resolve_deletes(snap) if snap is not None else []
        parts = []
        for d in deletes:
            if d["kind"] != "position":
                continue
            parts.append(
                self.spark.read.parquet(d["path"]).select(
                    F.col("file_path"),
                    F.col("pos"),
                    F.lit(d["path"]).alias("delete_file_path"),
                    F.lit(d.get("seq")).cast("long").alias("seq"),
                )
            )
        if not parts:
            return self.spark.createDataFrame(
                [],
                "file_path string, pos long, delete_file_path string, seq long",
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def metadata_log_df(self) -> DataFrame:
        """Iceberg's ``.metadata_log_entries``: one row per table-metadata
        version file — the audit trail of EVERY metadata change including
        non-snapshot ones (schema evolution, properties, spec changes)."""
        meta_dir = os.path.join(self.location, "metadata")
        rows = []
        for name in sorted(os.listdir(meta_dir)):
            m = None
            if name.startswith("v") and name.endswith(".metadata.json"):
                try:
                    m = int(name[1:].split(".")[0])
                except ValueError:
                    m = None
            if m is None:
                continue
            path = os.path.join(meta_dir, name)
            try:
                with open(path) as fh:
                    latest = json.load(fh).get("current_snapshot_id")
            except OSError:
                latest = None
            rows.append((name, m, int(os.path.getmtime(path) * 1000), latest))
        return self.spark.createDataFrame(
            rows,
            "file string, version int, timestamp_ms long, latest_snapshot_id long",
        )

    def partitions_df(self) -> DataFrame:
        """Iceberg's ``.partitions`` metadata table: one row per live
        partition tuple with file/record/byte counts — the first thing an
        operator checks for skewed or degenerate partitions. Aggregated
        from the manifest on the driver (metadata-sized: O(files) entries
        already resolved; no data IO)."""
        agg: dict[tuple[str, int | None], list[int]] = {}
        for f in self.snapshot_files():
            key = (
                json.dumps(f.partition, sort_keys=True, default=str) if f.partition else "{}",
                f.spec_id,
            )
            acc = agg.setdefault(key, [0, 0, 0])
            acc[0] += 1
            acc[1] += f.record_count
            acc[2] += f.file_size_bytes
        rows = [
            (part, sid, n, rec, size)
            for (part, sid), (n, rec, size) in sorted(agg.items(), key=lambda kv: (kv[0][0], -1 if kv[0][1] is None else kv[0][1]))
        ]
        return self.spark.createDataFrame(
            rows,
            "partition string, spec_id int, file_count long, record_count long, "
            "total_size_bytes long",
        )

    def history_df(self) -> DataFrame:
        cur = self.meta.get("current_snapshot_id")
        rows = [
            (s["timestamp_ms"], s["snapshot_id"], s["parent_snapshot_id"], s["snapshot_id"] == cur)
            for s in self.meta["snapshots"]
        ]
        return self.spark.createDataFrame(
            rows, "made_current_at long, snapshot_id long, parent_id long, is_current boolean"
        )


class Catalog:
    """Hadoop-style warehouse-directory catalog (namespace/table/metadata)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- namespaces (A7) ---------------------------------------------------
    def ensure_namespace(self, namespace: str) -> None:
        os.makedirs(os.path.join(self.warehouse, namespace), exist_ok=True)

    def list_namespaces(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    # -- tables ------------------------------------------------------------
    def _table_location(self, namespace: str, name: str) -> str:
        return os.path.join(self.warehouse, namespace, name)

    def _resolve_location(self, namespace: str, name: str) -> str:
        """Resolve a name to its table location, following a rename
        pointer (Iceberg renames move the NAME, never the data: the new
        name points at the unchanged location). A tombstoned old name
        raises with the forwarding target."""
        loc = self._table_location(namespace, name)
        tomb = os.path.join(loc, "renamed_to.text")
        if os.path.exists(tomb):
            with open(tomb) as fh:
                raise FileNotFoundError(
                    f"table {namespace}.{name} was renamed to {fh.read().strip()}"
                )
        ptr = os.path.join(loc, "pointer.text")
        if os.path.exists(ptr):
            with open(ptr) as fh:
                return fh.read().strip()
        return loc

    def table_exists(self, namespace: str, name: str) -> bool:
        try:
            loc = self._resolve_location(namespace, name)
        except FileNotFoundError:
            return False
        return os.path.exists(os.path.join(loc, "metadata", "version-hint.text"))

    def rename_table(
        self, namespace: str, name: str, new_namespace: str, new_name: str
    ) -> None:
        """ALTER TABLE RENAME TO: metadata-only — the new name becomes a
        pointer to the unchanged table location, the old name a tombstone.
        O(1) regardless of table size (no file moves, no manifest
        rewrites — absolute data paths stay valid)."""
        if not self.table_exists(namespace, name):
            raise FileNotFoundError(f"no table {namespace}.{name}")
        if self.table_exists(new_namespace, new_name):
            raise FileExistsError(f"table {new_namespace}.{new_name} exists")
        real = self._resolve_location(namespace, name)
        self.ensure_namespace(new_namespace)
        new_dir = self._table_location(new_namespace, new_name)
        os.makedirs(new_dir, exist_ok=True)
        # reclaiming a previously-tombstoned name (rename back): clear it
        new_tomb = os.path.join(new_dir, "renamed_to.text")
        if os.path.exists(new_tomb):
            os.remove(new_tomb)
        if new_dir == real:
            # renaming back to the table's own physical home: no pointer
            # needed — the metadata already lives here
            pass
        else:
            with open(os.path.join(new_dir, "pointer.text"), "w") as fh:
                fh.write(real)
        old_dir = self._table_location(namespace, name)
        old_ptr = os.path.join(old_dir, "pointer.text")
        if os.path.exists(old_ptr):
            os.remove(old_ptr)  # re-rename of an already-renamed name
        with open(os.path.join(old_dir, "renamed_to.text"), "w") as fh:
            fh.write(f"{new_namespace}.{new_name}")

    def create_table(
        self,
        namespace: str,
        name: str,
        schema: T.StructType,
        properties: dict | None = None,
        or_load: bool = True,
        partition_spec: list | None = None,
    ) -> Table:
        """Create-or-load (idempotent ingest, ImportParquetFolders.java:94-100).
        The reference creates tables unpartitioned (java:99); passing
        ``partition_spec`` (a list of PartitionField) opts into Iceberg-style
        hidden partitioning for this table's writes."""
        self.ensure_namespace(namespace)
        loc = self._table_location(namespace, name)
        if self.table_exists(namespace, name):
            if not or_load:
                raise FileExistsError(f"table {namespace}.{name} exists")
            return self.load_table(namespace, name)
        meta = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "location": loc,
            "schema": schema.jsonValue(),
            "properties": properties or {},
            "snapshots": [],
            "current_snapshot_id": None,
        }
        _write_metadata(loc, meta, version=1)
        table = Table(self.spark, loc, meta, version=1)
        if partition_spec:
            table.set_partition_spec(partition_spec)
        return table

    def load_table(self, namespace: str, name: str) -> Table:
        loc = self._resolve_location(namespace, name)
        meta_dir = os.path.join(loc, "metadata")
        with open(os.path.join(meta_dir, "version-hint.text")) as fh:
            version = int(fh.read().strip())
        with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as fh:
            meta = json.load(fh)
        return Table(self.spark, loc, meta, version=version)

    def drop_table(self, namespace: str, name: str, purge: bool = False) -> bool:
        """DROP TABLE [PURGE] (A12). purge deletes data files owned by the
        table (those under its location); externally-registered files are
        never deleted — they were not copied in, so they are not ours."""
        import shutil

        loc = self._table_location(namespace, name)
        if not os.path.exists(loc):
            return False
        if purge:
            shutil.rmtree(loc)
        else:
            shutil.rmtree(os.path.join(loc, "metadata"), ignore_errors=True)
            if not os.listdir(loc) if os.path.exists(loc) else False:
                os.rmdir(loc)
        return True

    def list_tables(self, namespace: str) -> list[str]:
        ns_dir = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(ns_dir):
            return []
        return sorted(
            d for d in os.listdir(ns_dir) if self.table_exists(namespace, d)
        )

    # -- views (A14-A16: SHOW VIEWS / SHOW CREATE VIEW surface) ------------
    # Iceberg views (spec v1): a named SQL definition stored as catalog
    # metadata; readers expand the SQL at query time against the catalog,
    # so a view always reflects the current table state. Stored in one
    # warehouse-level JSON — views are O(dozens), not O(files).
    def _views_path(self) -> str:
        return os.path.join(self.warehouse, "views.json")

    def _read_views(self) -> dict:
        try:
            with open(self._views_path()) as fh:
                return json.load(fh)
        except OSError:
            return {}

    def create_view(
        self, namespace: str, name: str, sql: str, replace: bool = False
    ) -> None:
        """CREATE [OR REPLACE] VIEW ns.name AS <sql>. The SQL is stored
        verbatim (front-end dialect: catalog refs like ``nyc.t`` allowed)
        and expanded per query by ``catalog_sql``."""
        self.ensure_namespace(namespace)
        views = self._read_views()
        key = f"{namespace}.{name}"
        if key in views and not replace:
            raise FileExistsError(f"view {key} exists")
        if self.table_exists(namespace, name):
            raise ValueError(f"{key} is a table")
        views[key] = {"sql": sql, "created_ms": int(time.time() * 1000)}
        with open(self._views_path(), "w") as fh:
            json.dump(views, fh, indent=1)

    def rename_view(
        self, namespace: str, name: str, dest_ns: str, dest_name: str
    ) -> None:
        """Rename a view (optionally across namespaces). The stored SQL
        moves verbatim — references inside it are NOT rewritten (same
        posture as table rename: the definition is the user's text)."""
        views = self._read_views()
        src, dst = f"{namespace}.{name}", f"{dest_ns}.{dest_name}"
        if src not in views:
            raise KeyError(f"no view {src}")
        if dst in views:
            raise FileExistsError(f"view {dst} exists")
        if self.table_exists(dest_ns, dest_name):
            raise ValueError(f"{dst} is a table")
        self.ensure_namespace(dest_ns)
        views[dst] = views.pop(src)
        with open(self._views_path(), "w") as fh:
            json.dump(views, fh, indent=1)

    def drop_view(self, namespace: str, name: str) -> bool:
        views = self._read_views()
        if views.pop(f"{namespace}.{name}", None) is None:
            return False
        with open(self._views_path(), "w") as fh:
            json.dump(views, fh, indent=1)
        return True

    def list_views(self, namespace: str) -> list[str]:
        prefix = f"{namespace}."
        return sorted(
            k[len(prefix):] for k in self._read_views() if k.startswith(prefix)
        )

    def view_definition(self, namespace: str, name: str) -> str:
        views = self._read_views()
        key = f"{namespace}.{name}"
        if key not in views:
            raise KeyError(f"no view {key}")
        return views[key]["sql"]


# -- helpers ----------------------------------------------------------------


@functools.lru_cache(maxsize=1024)
def _parse_type(ddl: str) -> T.DataType:
    """'double' / 'decimal(20,0)' / 'array<string>' → Spark DataType.
    Memoized — fromDDL is a JVM roundtrip and the same handful of DDL
    strings recur on every scan's read-schema construction."""
    return T.StructType.fromDDL(f"__c {ddl}").fields[0].dataType


# read-signature marker for "column physically absent from this file and
# covered by an initial default" — never a real DDL string
_DEFAULT_SENTINEL = "__initial_default__"

# widening-only promotions (Iceberg schema-evolution rules): every value of
# the narrow type is exactly representable in the wide type
_INT_WIDTH = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}


def _can_promote(old: str, new: str) -> bool:
    old, new = old.strip().lower(), new.strip().lower()
    if old in _INT_WIDTH and new in _INT_WIDTH:
        return _INT_WIDTH[new] > _INT_WIDTH[old]
    if old == "float" and new == "double":
        return True
    if old.startswith("decimal(") and new.startswith("decimal("):
        po, so = (int(x) for x in old[8:-1].split(","))
        pn, sn = (int(x) for x in new[8:-1].split(","))
        return sn == so and pn > po
    return False


class CommitConflictError(RuntimeError):
    """Another writer committed the next metadata version first (the
    optimistic-concurrency CAS lost). Refresh and retry or surface."""


def _write_manifest_delta(
    path: str,
    added: list[DataFileEntry],
    removed_paths: set[str],
    full: bool,
    added_deletes: list[dict] | None = None,
    clears_deletes: bool = False,
) -> None:
    """One immutable per-snapshot manifest delta (the sharded-manifest
    analogue of an Iceberg manifest file). ``full=True`` marks the entry
    list as a complete manifest (root commit or expiry checkpoint) — the
    reconstruction walk stops here. ``added_deletes`` are merge-on-read
    delete entries; ``clears_deletes`` marks a rewrite that folded them."""
    doc = {
        "added": [f.to_json() for f in added],
        "removed_paths": sorted(removed_paths),
        "full": full,
        "added_deletes": added_deletes or [],
        "clears_deletes": clears_deletes,
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh, indent=1)
    os.replace(tmp, path)


def _write_metadata(location: str, meta: dict, version: int) -> None:
    """Version-numbered metadata file + version hint (the
    HadoopTableOperations commit protocol). ``version`` is the version the
    writer is TRYING to claim — base-version-it-read + 1, never re-derived
    from disk (a stale writer must collide, not silently win). The file is
    created with O_EXCL — exclusive create is the compare-and-swap: of two
    racing writers exactly one owns v(N+1), the other gets
    CommitConflictError and must refresh + reapply."""
    meta_dir = os.path.join(location, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    hint_path = os.path.join(meta_dir, "version-hint.text")
    target = os.path.join(meta_dir, f"v{version}.metadata.json")
    try:
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as e:
        raise CommitConflictError(
            f"metadata version v{version} already committed by another writer"
        ) from e
    with os.fdopen(fd, "w") as fh:
        json.dump(meta, fh, indent=1)
    tmp_hint = hint_path + ".tmp"
    with open(tmp_hint, "w") as fh:
        fh.write(str(version))
    os.rename(tmp_hint, hint_path)


def _footer_entry(path: str) -> DataFileEntry:
    """One file's footer metadata (rowcount/size + column min/max stats) —
    the rowCount() footer read of ImportParquetFolders.java:141-146, plus
    the column metrics Iceberg derives for manifest pruning. Pure function
    of the path so it runs identically on the driver or inside a task."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)  # single footer open serves metadata AND schema
    md = pf.metadata
    stats: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for ci in range(rgm.num_columns):
            col = rgm.column(ci)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
            except Exception:  # noqa: BLE001 — e.g. decimal FIXED_LEN_BYTE_ARRAY:
                continue  # pyarrow can't cast the stats; pruning skips the col
            cname = col.path_in_schema
            if isinstance(mn, bytes) or isinstance(mx, bytes):
                continue  # binary stats not comparable portably
            import decimal as _dec

            if isinstance(mn, _dec.Decimal) or isinstance(mx, _dec.Decimal):
                # int-backed decimals (precision ≤ 18) surface as Decimal
                # objects: not JSON-serializable, and stringifying would
                # make pruning compare lexicographically ("9.5" > "10.2").
                # Skip, matching the FLBA-decimal behavior above — no
                # pruning on the column beats wrong pruning.
                continue
            if hasattr(mn, "isoformat"):
                # space separator, NOT isoformat()'s 'T': pruning compares
                # these strings against SQL literals ('2024-01-05 04:00:00'),
                # and ' ' < 'T' would wrongly prune files whose min shares
                # the literal's date prefix — a silent false negative
                sep = {"sep": " "} if hasattr(mn, "hour") else {}
                mn, mx = mn.isoformat(**sep), mx.isoformat(**sep)
            if cname in stats:
                stats[cname] = [min(stats[cname][0], mn), max(stats[cname][1], mx)]
            else:
                stats[cname] = [mn, mx]
    types = {}
    try:
        for fld in pf.schema_arrow:
            ddl = _arrow_ddl(fld.type)
            if ddl is not None:
                types[fld.name] = ddl
    except Exception:  # noqa: BLE001 — types are an optimization, never required
        types = {}
    return DataFileEntry(path, md.num_rows, os.path.getsize(path), "PARQUET", stats, types)


def _arrow_ddl(t) -> str | None:
    """Arrow type → Spark DDL string for the simple types we track;
    None (→ fall back to the declared schema type) for anything exotic."""
    import pyarrow as pa

    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t) and t.unit in ("us", "ms"):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    return None


# above this many files, footer scanning runs as a Spark job instead of a
# driver loop — at 100 TB / ~400k files a sequential driver scan is hours,
# a 512-task mapPartitions sweep is seconds-per-thousand-files per executor
DISTRIBUTE_FOOTERS_THRESHOLD = 64


def scan_parquet_footers(
    root: str, spark: SparkSession | None = None, threshold: int | None = None
) -> list[DataFileEntry]:
    """Footer metadata for every parquet under ``root``. Small file sets
    read on the driver (job-launch overhead dominates); large ones fan out
    as a Spark ``mapPartitions`` job over the path list, keeping the driver
    O(results) — each result is one small stats dict, never file data."""
    from iceberg_metadata_pipeline_spark.ingest.discover import find_parquet_files

    paths = find_parquet_files(root)
    cutoff = DISTRIBUTE_FOOTERS_THRESHOLD if threshold is None else threshold
    if spark is not None and len(paths) > cutoff:
        return _scan_footers_distributed(spark, paths)
    return [_footer_entry(p) for p in paths]


def _has_rows(root: str) -> bool:
    """Whether the parquet Spark wrote under ``root`` holds a row (an
    empty result still writes one 0-row part file)."""
    return any(e.record_count for e in scan_parquet_footers(root))


def _scan_footers_distributed(spark: SparkSession, paths: list[str]) -> list[DataFileEntry]:
    """Spark job over the path list: ~64 footers per task (footer reads are
    latency-bound, so small tasks + many executors win). JSON-serialized
    across the boundary to keep the closure free of driver state."""
    n_slices = max(1, min((len(paths) + 63) // 64, 4096))
    rdd = spark.sparkContext.parallelize(paths, numSlices=n_slices)
    docs = rdd.map(lambda p: json.dumps(_footer_entry(p).to_json())).collect()
    entries = [DataFileEntry.from_json(json.loads(d)) for d in docs]
    # deterministic manifest order regardless of task completion order
    entries.sort(key=lambda e: e.path)
    return entries


def _zvalue_column(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order curve value: each column is affinely mapped onto a
    ``bits``-wide integer rank using its global min/max (one tiny agg job,
    2·len(cols) numbers to the driver), then ranks are bit-interleaved.
    All row-path work is JVM bitwise expressions inside whole-stage
    codegen — no UDF, no extra shuffle beyond the range partitioning the
    rewrite does anyway. 16 bits × up to 3 columns stays within a long.

    Min/max scaling (vs. rank/percentile) keeps the map O(1) per row; for
    heavily skewed columns a percentile-based rank would spread better,
    at the cost of an approxQuantile pass — noted, not needed for file
    skipping where 2^16 cells already far exceed file counts."""
    if not 1 <= len(cols) <= 3:
        raise ValueError("zorder_by takes 1-3 columns")

    def _numeric_expr(c: str):
        # Order-preserving numeric view of the column. Strings rank by a
        # 3-byte prefix (lexicographic clustering, JVM-side — a bare
        # cast("double") silently NULLs every string and dropped the
        # dimension from the curve); dates/timestamps via epoch; anything
        # else non-castable refuses loudly.
        dt = df.schema[c].dataType
        if isinstance(dt, T.StringType):
            col = F.col(c)
            return (
                F.ascii(F.substring(col, 1, 1)) * F.lit(65536)
                + F.ascii(F.substring(col, 2, 1)) * F.lit(256)
                + F.ascii(F.substring(col, 3, 1))
            ).cast("double")
        if isinstance(dt, T.DateType):
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        if isinstance(dt, T.TimestampType):
            return F.col(c).cast("double")  # epoch seconds
        if isinstance(dt, T.BooleanType):
            return F.col(c).cast("int").cast("double")
        if isinstance(dt, T.NumericType):
            return F.col(c).cast("double")
        raise ValueError(
            f"zorder_by column {c!r} has non-orderable type "
            f"{dt.simpleString()} — numeric, string, date, timestamp or "
            "boolean required"
        )

    num = {c: _numeric_expr(c) for c in cols}
    stats = df.agg(
        *[F.min(num[c]).alias(f"mn_{c}") for c in cols],
        *[F.max(num[c]).alias(f"mx_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) if mn is not None and mx is not None and mx > mn else 1.0
        rank = ((num[c] - F.lit(mn or 0.0)) / F.lit(span) * top).cast(
            "long"
        )
        # NULLs sort first (rank 0), out-of-range clamps defensively
        scaled.append(
            F.coalesce(F.least(F.lit(top), F.greatest(F.lit(0), rank)), F.lit(0))
        )
    n = len(scaled)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def _bloom_bit_expr(col: str, i: int, bits: int):
    """Bit position i for a value: md5 of value + '#i', first 15 hex
    digits mod bits — identical arithmetic to ``_bloom_bit_py``."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.col(col), F.lit(f"#{i}"))), 1, 15), 16, 10
        ).cast("long"),
        F.lit(bits),
    )


def _bloom_bit_py(value: str, i: int, bits: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{value}#{i}".encode()).hexdigest()[:15], 16) % bits


def _bloom_maybe_contains(bloom: dict, value: str) -> bool:
    import base64

    packed = base64.b64decode(bloom["bitmap"])
    for i in range(bloom["k"]):
        b = _bloom_bit_py(value, i, bloom["bits"])
        if not packed[b // 8] & (1 << (b % 8)):
            return False
    return True


def _bloom_value_expr(column: str, ctype: str):
    """The build-side canonical rendering of ``column`` for bloom
    hashing. CAST(col AS STRING) for every type whose rendering the
    probe can reproduce in pure Python — EXCEPT float/double, where
    Java 17's Double.toString is the pre-Ryu FloatingDecimal algorithm
    (not shortest-round-trip, e.g. -1.42299048002230323E18 where the
    shortest repr has one digit fewer) and cannot be replicated safely.
    Those hash the IEEE-754 bit pattern instead (+0.0 first, so -0.0
    and 0.0 — SQL-equal — share bits); struct.pack reproduces the bits
    exactly on the probe side."""
    if ctype == "double":
        return F.expr(
            f"reflect('java.lang.Double', 'doubleToLongBits', `{column}` + 0.0d)"
        )
    if ctype == "float":
        return F.expr(
            "reflect('java.lang.Float', 'floatToIntBits', "
            f"`{column}` + cast(0.0 as float))"
        )
    return F.col(column).cast("string")


def _bloom_canonical(lit: str, ctype: str) -> str | None:
    """Render a SQL literal exactly the way CAST(col AS STRING) rendered
    the column values at bloom-build time, or None when that rendering
    cannot be reproduced confidently. None makes the caller SKIP the
    bloom probe (maybe-present): a skipped probe costs one extra file
    read, a wrong canonical form would wrongly prune a file that holds
    the value — false negatives are a correctness bug, not a perf one."""
    ctype = ctype.lower()
    try:
        if ctype == "string" or ctype.startswith(("varchar", "char")):
            return lit
        if ctype in ("tinyint", "smallint", "int", "bigint"):
            return str(int(lit, 10))
        if ctype == "boolean":
            low = lit.strip().lower()
            return low if low in ("true", "false") else None
        if ctype == "date":
            import datetime

            return datetime.date.fromisoformat(lit.strip()).isoformat()
        if ctype.startswith("decimal("):
            import decimal

            scale = int(ctype[:-1].split(",")[1])
            quantum = decimal.Decimal(1).scaleb(-scale)
            d = decimal.Decimal(lit)
            if d != d.quantize(quantum):
                # literal not representable at the column's scale: the
                # equality can never hold, so definite-absence is correct
                # for every file — but returning the rounded form would
                # probe a DIFFERENT value; just skip the bloom instead
                return None
            return f"{d.quantize(quantum):f}"
        if ctype in ("timestamp", "timestamp_ntz"):
            import datetime

            v = datetime.datetime.fromisoformat(lit.strip())
            s = v.strftime("%Y-%m-%d %H:%M:%S")
            if v.microsecond:
                s += f".{v.microsecond:06d}".rstrip("0")
            return s
        if ctype == "double":
            import struct

            return str(struct.unpack("<q", struct.pack("<d", float(lit) + 0.0))[0])
        if ctype == "float":
            import struct

            import numpy as np

            # parse at FLOAT32 precision (float32('1.1') != float64 1.1)
            f = float(np.float32(lit) + np.float32(0.0))
            return str(struct.unpack("<i", struct.pack("<f", f))[0])
    except (ValueError, ArithmeticError):
        return None
    return None


_OPS = ["<=", ">=", "<", ">", "="]


def _prune_by_stats(files: list[DataFileEntry], filter_expr: str) -> list[DataFileEntry]:
    """Min/max file pruning for a single `col OP literal` or `col IN (...)`
    conjunct. Anything unparseable keeps all files (pruning is an
    optimization, never required for correctness). Callers split
    multi-conjunct filters with ``split_conjuncts`` and call this per
    conjunct, so `a > x AND b = y` prunes on both columns' stats."""
    import re

    from iceberg_metadata_pipeline_spark.catalog.partitioning import split_in_list

    m = re.match(r"^\s*(\w+)\s*(<=|>=|<|>|=)\s*('?)([\w.\- :]+)\3\s*$", filter_expr)
    if m:
        col, op, _, lit = m.groups()
        lits = [lit]
    else:
        in_list = split_in_list(filter_expr)
        if in_list is None:
            return files
        col, lits = in_list
        op = "="  # IN: keep the file if ANY literal falls inside [min, max]
    out = []
    for f in files:
        # bloom membership for equality/IN probes: definite-absence drops
        # the file even when [min,max] spans the probe (the point-lookup
        # case min/max can't help with). Bitmaps hash the build-side
        # CAST(col AS STRING) rendering, so the literal must pass through
        # _bloom_canonical first; any literal we can't canonicalize keeps
        # the file (None → maybe-present, never a false negative).
        if op == "=":
            bloom = f.stats.get(f"bloom_{col}")
            if bloom is not None:
                canon = [
                    _bloom_canonical(lit, bloom.get("type", "string"))
                    for lit in lits
                ]
                if all(c is not None for c in canon) and not any(
                    _bloom_maybe_contains(bloom, c) for c in canon
                ):
                    continue
        st = f.stats.get(col)
        if st is None:
            out.append(f)
            continue
        mn, mx = st
        keep = False
        for lit in lits:
            try:
                lit_v: Any = type(mn)(lit) if not isinstance(mn, str) else lit
            except (TypeError, ValueError):
                keep = True
                break
            if {
                "<": mn < lit_v,
                "<=": mn <= lit_v,
                ">": mx > lit_v,
                ">=": mx >= lit_v,
                "=": mn <= lit_v <= mx,
            }[op]:
                keep = True
                break
        if keep:
            out.append(f)
    return out
