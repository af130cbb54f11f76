"""`pydelta` — Spark 4 Python DataSource over the from-scratch Delta
log (catalog/delta_format.py).

Gives a plain `spark.read` / `spark.readStream` surface to any Delta
table directory without delta-spark or delta-rs:

- ``spark.read.format("pydelta").load(dir)`` — batch scan of the
  CURRENT snapshot (or ``.option("versionAsOf", N)`` time travel): one
  input partition per live data file; partition-column values come from
  the log's ``partitionValues`` (Delta does NOT store partition columns
  in the data files — a naive parquet read silently drops them), typed
  per the table schema.
- ``spark.readStream.format("pydelta")`` — micro-batch source tailing
  the transaction log: offset = log version, each batch reads exactly
  the ``add`` actions of commits (start, end] — the same
  change-feed-of-appends semantics Delta's own streaming source gives.
  A ``remove`` action inside the tailed range aborts with a loud error
  unless ``.option("ignoreDeletes", "true")`` (mirroring Delta's
  option): silently skipping deletes would turn the stream into an
  at-least-once-with-phantoms feed.
- ``df.write.format("pydelta").mode("append"|"overwrite")`` — writer
  whose two-phase commit IS the Delta protocol: tasks write invisible
  ``_tmp-*.parquet`` (the log names the visible set), the driver
  renames and appends ONE commit (overwrite also removes the previous
  live set in the same commit — atomic replace with time travel
  intact).

Scale notes: offsets and planning are O(log tail) driver-side metadata;
each file decodes in one executor task through the shared scan core
(``datasource_base.FileScanReader``: row-group batches, never a
whole-file python list); this module plans the tasks and maps columns. The batch path is for interop
completeness — for heavy analytics, import_delta_table registers the
files into metacat and Spark's native vectorized parquet reader takes
over; this source is the tailing/read-anywhere path.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceReader, DataSourceStreamArrowWriter

from iceberg_metadata_pipeline_spark.catalog.delta_format import (
    _commit_path,
    latest_version,
    read_delta_table,
)
from iceberg_metadata_pipeline_spark.ingest.datasource_base import (
    FileScanReader,
    FormatDataSource,
    ScanTask,
    StagedArrowWriter,
    TailingStreamReader,
    coerce_literal,
    source_path,
)


class _DeltaScanReader(FileScanReader):
    """The shared scan core with Delta's column mapping: partition
    columns fill from the log's ``partitionValues`` (Delta does not store
    them in the data files), and ``_resolve`` maps logical columns to the
    file's physical ones."""

    schema: T.StructType
    partition_columns: list[str]
    # logical -> parquet (physical) name; identity unless column mapping.
    # None under id-mode column mapping: resolution is per FILE, by
    # parquet field id (field_ids maps logical -> delta.columnMapping.id)
    physical: dict | None
    field_ids: dict | None
    # logical -> physicalName for partitionValues keys — valid in ALL
    # mapping modes (id mode included; see physical_names_meta)
    part_phys: dict

    def _resolve_mapping(self, state) -> None:
        """Set (physical, field_ids) per the table's column-mapping mode:
        'id' resolves parquet columns by field id (per file, in
        ``_resolve``); 'name'/'none' by the static physicalName map."""
        from iceberg_metadata_pipeline_spark.catalog.delta_format import (
            column_mapping_ids,
            column_mapping_mode,
            physical_names,
            physical_names_meta,
        )

        self.schema = state.schema
        self.partition_columns = state.partition_columns
        # partitionValues are keyed by physicalName in EVERY mapping
        # mode (the spec writes physicalNames even under id mode, where
        # only PARQUET column resolution goes through field ids) — so
        # partition planning must never touch self.physical, which is
        # None under id mode
        self.part_phys = physical_names_meta(state)
        if column_mapping_mode(state) == "id":
            self.physical = None
            self.field_ids = column_mapping_ids(state)
        else:
            self.physical = physical_names(state)
            self.field_ids = None

    def _task(self, add: dict, **deletes) -> ScanTask:
        """The ScanTask of one ``add`` action: its partition values,
        typed per the table schema, fill the partition columns."""
        p = add["path"]
        values = add.get("partitionValues") or {}
        return ScanTask(
            p if os.path.isabs(p) else os.path.join(self.path, p),
            tuple(
                (c, coerce_literal(values.get(self.part_phys.get(c, c)), self.schema[c].dataType))
                for c in self.partition_columns
            ),
            **deletes,
        )

    def _resolve(self, task: ScanTask, file_schema) -> dict:
        """Logical → physical per file. Under id mode THIS file's field
        ids decide which parquet column serves each logical field (names
        are arbitrary under the protocol, at EVERY nesting level); a field
        id absent from the file means the column was added after the file
        was written → nulls, but a file with no ids at all is a protocol
        violation → loud refusal. Nested-mapped struct columns rebuild per
        value (structural rename by field id / physicalName has no arrow
        kernel); flat columns stay columnar."""
        import pyarrow as pa

        from iceberg_metadata_pipeline_spark.catalog.delta_format import (
            _has_nested_mapping,
            to_logical_by_id,
            to_logical_py,
        )

        pcols = set(self.partition_columns)
        fields = [f for f in self.schema.fields if f.name not in pcols]
        if self.physical is None:
            by_id = {
                int(fid): af
                for af in file_schema
                if (fid := (af.metadata or {}).get(b"PARQUET:field_id")) is not None
            }
            if fields and not by_id:
                raise ValueError(
                    f"id-mode table but data file {task.path} carries no "
                    "PARQUET:field_id metadata — unreadable by field id"
                )
            served = {f.name: by_id.get(self.field_ids[f.name]) for f in fields}
        else:
            have = {af.name: af for af in file_schema}
            served = {f.name: have.get(self.physical.get(f.name, f.name)) for f in fields}
        out = {}
        for f in fields:
            af = served[f.name]
            if af is None:
                continue  # added after this file was written: null
            convert = None
            if _has_nested_mapping(f.dataType):
                # struct values decode keyed by the FILE's nested names:
                # rebuild the logical shape by nested field id (id mode)
                # or physicalName (name mode)
                def convert(col, typ, dt=f.dataType, at=af.type, by_id=self.physical is None):
                    return pa.array(
                        [
                            to_logical_by_id(v, dt, at) if by_id else to_logical_py(v, dt)
                            for v in col.to_pylist()
                        ],
                        type=typ,
                    )
            out[f.name] = (af.name, convert)
        return out


class PyDeltaBatchReader(_DeltaScanReader, DataSourceReader):
    def __init__(self, options):
        from iceberg_metadata_pipeline_spark.catalog.delta_format import (
            _decode_dv_descriptor,
            dv_file_path,
        )

        self.path = source_path(options)
        version = options.get("versionAsOf")
        state = read_delta_table(
            self.path, None if version is None else int(version)
        )
        self._resolve_mapping(state)

        def deletes(a: dict) -> dict:
            """Inline vectors are already O(positions) in the log and ship
            decoded; file-based vectors ship as a descriptor and decode in
            the task."""
            dv = a.get("deletionVector")
            if not dv:
                return {}
            if dv.get("storageType") == "i":
                return {"positions": tuple(_decode_dv_descriptor(dv))}
            return {
                "pos_files": (
                    ("dv", dv_file_path(self.path, dv), int(dv["offset"]), dv.get("sizeInBytes")),
                )
            }

        self._parts = [
            self._task({**a, "path": p}, **deletes(a))
            for p, a in sorted(state.files.items())
        ]

    def partitions(self):
        # a table whose current version has zero live files is still a
        # valid (empty) table: the DataSource API needs >=1 partition, so
        # ship one sentinel the read skips
        return self._parts or [ScanTask("")]


class PyDeltaStreamReader(_DeltaScanReader, TailingStreamReader):
    """Offset = the last consumed log version; each batch reads the
    ``add`` actions of commits (start, end]. ``maxFilesPerTrigger``
    weighs a commit by its add count (commits are never split)."""

    OFFSET, INITIAL = "v", -1
    LIMIT_OPTION = "maxFilesPerTrigger"

    def __init__(self, schema: T.StructType, options):
        super().__init__(options)
        self.path = source_path(options)
        # version → add-count memo: with maxFilesPerTrigger a long
        # backlog would otherwise re-parse every commit JSON from the
        # checkpoint position on EVERY trigger (O(backlog) per batch);
        # commits are immutable, so each file is parsed at most once per
        # reader instance
        self._add_counts: dict[int, int] = {}
        # schema + partitioning from the log
        self._resolve_mapping(read_delta_table(self.path))

    def _backlog(self, pos) -> list:
        return list(range((-1 if pos is None else pos) + 1, latest_version(self.path) + 1))

    def _weight(self, v: int) -> int:
        if v not in self._add_counts:
            with open(_commit_path(self.path, v)) as fh:
                self._add_counts[v] = sum(
                    1 for line in fh if line.strip() and "add" in json.loads(line)
                )
        return self._add_counts[v]

    def _added(self, lo: int, hi: int) -> list:
        parts = []
        for v in range(lo + 1, hi + 1):
            with open(_commit_path(self.path, v)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    a = json.loads(line)
                    if "remove" in a:
                        self._refuse_deletes(
                            f"delta commit {v} contains a remove action"
                        )
                    if "add" in a:
                        add = a["add"]
                        if add.get("deletionVector"):
                            # a DV-carrying add RE-STATES an existing
                            # file (delete commit) — emitting it would
                            # double-read its live rows; same posture as
                            # Delta's source (skipChangeCommits)
                            self._refuse_deletes(
                                f"delta commit {v} re-adds a file with a "
                                "deletion vector (row-level delete)"
                            )
                            continue  # ignoreDeletes: skip the re-add
                        parts.append(self._task(add))
        return parts


def _pv(v) -> str | None:
    """A partition value as Delta's partitionValues string."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class PyDeltaBatchWriter(StagedArrowWriter):
    """``df.write.format("pydelta")`` — the Delta commit protocol IS the
    two-phase commit: tasks write ``_tmp-<uuid>.parquet`` (invisible —
    Delta readers only see files the log names), the driver-side
    ``commit`` renames them to ``part-*.parquet`` and appends ONE log
    commit: protocol+metaData on first write, adds (+removes of the
    previous live set for overwrite mode) after. A crashed or
    speculative task leaves at most an unreferenced tmp file, never a
    visible row — exactly the atomicity the log gives real Delta
    writers.

    Partitioned tables (round 9): write tasks route rows by partition
    tuple and — per the Delta spec — EXCLUDE partition columns from the
    data files; values travel only in each add's ``partitionValues``.
    New tables partition via ``option("partitionBy", "c1,c2")``;
    existing tables' partition columns come from the log (the old
    writer silently appended empty partitionValues to a partitioned
    table, nulling those rows' partition columns on read)."""

    WRITER = "pydelta writer"

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        super().__init__(schema, overwrite)
        self.dest = self.stage_dir = source_path(options)
        self.physical = {f.name: f.name for f in schema.fields}
        self.field_ids = None
        if latest_version(self.dest) >= 0:
            state = read_delta_table(self.dest)
            self._check_schema(state.schema)
            self.part_cols = state.partition_columns
            # COLUMN-MAPPED tables are served (round 9): data files
            # write under PHYSICAL names and partitionValues key by
            # physical name; mapped tables ('name' AND 'id' mode) also
            # stamp PARQUET:field_id on every column per the spec —
            # which is what makes the files id-resolvable. The WRITER
            # still refuses nested-mapped tables (its arrow row-path
            # only maps flat columns; both READ paths serve nested id
            # tables since r10 — write those through the Spark-side
            # format layer).
            from iceberg_metadata_pipeline_spark.catalog.delta_format import (
                _has_nested_mapping,
                column_mapping_ids,
                column_mapping_mode,
                physical_names_meta,
            )

            self.physical = physical_names_meta(state)
            mode = column_mapping_mode(state)
            if mode != "none":
                self.field_ids = column_mapping_ids(state)
                if any(_has_nested_mapping(f.dataType) for f in state.schema.fields):
                    raise NotImplementedError(
                        "pydelta writer: NESTED column mapping needs physical "
                        "nested parquet writes; top-level mapped tables are "
                        "served, nested ones take the export path"
                    )
        else:
            self.part_cols = self._partition_by(options)
        os.makedirs(self.dest, exist_ok=True)

    def _write_file(self, table, tmp: str) -> None:
        """Spec: partition columns live in partitionValues, NOT the file;
        physical (column-mapped) names + field ids go on the written
        schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        fid = self.field_ids or {}
        data = [f for f in table.schema if f.name not in self.part_cols]
        schema = pa.schema(
            pa.field(
                self.physical.get(f.name, f.name),
                f.type,
                metadata=(
                    {b"PARQUET:field_id": str(fid[f.name]).encode()}
                    if f.name in fid
                    else None
                ),
            )
            for f in data
        )
        pq.write_table(
            pa.table([table.column(f.name) for f in data], schema=schema), tmp
        )

    def _file_key(self, values: tuple) -> str:
        return json.dumps(
            {self.physical.get(c, c): _pv(v) for c, v in zip(self.part_cols, values)}
        )

    def _commit(self, staged, epoch) -> None:
        """ONE log commit: protocol+metaData first, then the overwrite's
        removes (batch only), the stream's ``txn`` watermark, the adds."""
        import time as _time
        import uuid as _uuid

        from iceberg_metadata_pipeline_spark.catalog.delta_format import (
            write_commit,
        )

        now = int(_time.time() * 1000)
        actions: list[dict] = []
        if latest_version(self.dest) < 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            actions.append(
                {
                    "metaData": {
                        "id": str(_uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(self.schema.jsonValue()),
                        "partitionColumns": list(self.part_cols),
                        "configuration": {},
                        "createdTime": now,
                    }
                }
            )
        elif self.overwrite and epoch is None:
            actions.extend(
                {"remove": {"path": p, "deletionTimestamp": now, "dataChange": True}}
                for p in read_delta_table(self.dest).files
            )
        if epoch is not None:
            actions.append({"txn": {"appId": self.app_id, "version": epoch}})
        for tmp, rows, size, pvals in staged:
            name = (
                f"part-{_uuid.uuid4().hex}.parquet"
                if epoch is None
                else f"part-{epoch:08d}-{_uuid.uuid4().hex[:8]}.parquet"
            )
            os.rename(tmp, os.path.join(self.dest, name))
            actions.append(
                {
                    "add": {
                        "path": name,  # relative, per spec's normal layout
                        "partitionValues": json.loads(pvals),
                        "size": size,
                        "modificationTime": now,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": rows}),
                    }
                }
            )
        operation = "WRITE" if epoch is None else "STREAMING UPDATE"
        actions.append({"commitInfo": {"timestamp": now, "operation": operation}})
        write_commit(self.dest, actions)


class PyDeltaStreamWriter(PyDeltaBatchWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("pydelta")`` — one Delta commit per
    epoch, EXACTLY-ONCE via the spec's own ``txn`` mechanism: every
    commit carries ``{"txn": {"appId", "version": batchId}}``, and a
    re-delivered epoch (sink-side retry after a crash between commit
    and checkpoint) is detected by replaying the log's txn watermark
    and skipped — the same idempotent-writer protocol Delta's own
    streaming sink runs. ``option("txnAppId", ...)`` names the writer
    (default "pydelta-sink"); two different queries writing one table
    need distinct appIds."""

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        super().__init__(schema, options, overwrite)
        self.app_id = options.get("txnAppId", "pydelta-sink")

    def _last_epoch(self) -> int:
        if latest_version(self.dest) < 0:
            return -1
        last = read_delta_table(self.dest).txns.get(self.app_id)
        return -1 if last is None else int(last)


class PyDeltaDataSource(FormatDataSource):
    """``spark.dataSource.register(PyDeltaDataSource)`` → format name
    "pydelta" for batch read/write, readStream, and writeStream."""

    FORMAT = "pydelta"
    READER = PyDeltaBatchReader
    WRITER = PyDeltaBatchWriter
    STREAM_READER = PyDeltaStreamReader
    STREAM_WRITER = PyDeltaStreamWriter

    def schema(self):
        return read_delta_table(source_path(self.options)).schema


register = PyDeltaDataSource.register


def _declare_queries() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from iceberg_metadata_pipeline_spark.queries import query
    from iceberg_metadata_pipeline_spark.session import load_tables

    @query(
        "source_pydelta_datasource",
        """
SELECT n_regionkey, COUNT(*) AS n,
  MIN(n_name) AS first_name
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
    )
    def source_pydelta_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end through the Delta log + pydelta source: register
        the nation fixture metadata-only in metacat, export as a Delta
        table (JSON log, add actions with stats), then read it back with
        ``spark.read.format("pydelta")`` — schema and live file set come
        from log replay, not from metacat — and aggregate. Matching the
        raw-fixture oracle proves the log writer, the replay reader, and
        the DataSource plumbing agree end-to-end."""
        import os as _os
        import tempfile as _tf

        from iceberg_metadata_pipeline_spark.catalog.delta_format import (
            export_delta_table,
        )
        from iceberg_metadata_pipeline_spark.catalog.metacat import (
            Catalog,
            scan_parquet_footers,
        )

        load_tables(spark, sf_dir)
        register(spark)
        catalog = Catalog(spark, _tf.mkdtemp(prefix="wh-pydelta-"))
        t = catalog.create_table("nyc", "nation_dl", spark.table("nation").schema)
        t.append_files(
            scan_parquet_footers(_os.path.join(sf_dir, "nation.parquet"), spark)
        )
        dest = _tf.mkdtemp(prefix="pydelta-q-")
        export_delta_table(t.refresh(), dest)
        back = spark.read.format("pydelta").load(dest)
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("n_name").alias("first_name"),
            )
            .orderBy("n_regionkey")
        )

    @query(
        "source_pydelta_writer_partitioned",
        """
SELECT c_mktsegment, COUNT(*) AS n,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    )
    def source_pydelta_writer_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The PARTITIONED pydelta writer end-to-end (round 9): customer
        writes through ``option("partitionBy", "c_mktsegment")`` — write
        tasks route rows per segment and, per the Delta spec, EXCLUDE
        the partition column from the data files (values travel in each
        add's partitionValues); a second append picks the partitioning
        up from the log. The pydelta reader reattaches the values, so
        the aggregate must match the oracle exactly."""
        import tempfile as _tf

        register(spark)
        customer = load_tables(spark, sf_dir)["customer"]
        dest = _tf.mkdtemp(prefix="delta-wp-") + "/customer_p"
        customer.where("c_mktsegment <> 'BUILDING'").write.format(
            "pydelta"
        ).option("partitionBy", "c_mktsegment").mode("append").save(dest)
        customer.where("c_mktsegment = 'BUILDING'").write.format(
            "pydelta"
        ).mode("append").save(dest)
        back = spark.read.format("pydelta").load(dest)
        return (
            back.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
                .cast("double")
                .alias("total_bal"),
            )
            .orderBy("c_mktsegment")
        )


_declare_queries()
