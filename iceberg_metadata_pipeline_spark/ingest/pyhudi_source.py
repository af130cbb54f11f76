"""``pyhudi`` — a Spark-4 Python DataSource over the from-scratch Hudi
COW layer (catalog/hudi_format.py), completing the DataSource trio with
``pyice`` and ``pydelta``: plain ``spark.read.format("pyhudi")`` over a
real Hudi table directory, with

- snapshot reads of the latest completed instant,
- ``asOfInstant`` time travel (any completed instant time),
- a STREAMING source whose offset is the timeline instant itself —
  ``readStream`` tails completed commits and each micro-batch emits
  exactly the base files those commits wrote (Hudi's incremental-pull
  primitive as a Structured Streaming source; the checkpoint stores the
  last consumed instant, so restart resumes from the timeline position).

Schema comes from the first live base file's parquet footer (arrow →
Spark types); hive-encoded partition-path columns that are NOT present
in the data files are appended as typed-by-parse strings — the COW
export path symlinks foreign parquet, so partition values live only in
the path, exactly like Hudi bootstrap tables.

Scale: planning is O(timeline + files) driver-side metadata; each file
slice is one input partition, read by the shared scan core
(``datasource_base.FileScanReader``); a slice with live logs merges
them columnar in its task (``hudi_format.merge_file_slice``); the
stream reads only O(churn) files per micro-batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceReader, DataSourceStreamArrowWriter

from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
    completed_instants,
    incremental_slices,
    read_hudi_table,
    read_instant_metadata,
    read_properties,
)
from iceberg_metadata_pipeline_spark.ingest.datasource_base import (
    FileScanReader,
    FormatDataSource,
    ScanTask,
    StagedArrowWriter,
    TailingStreamReader,
    append_only_error,
    source_path,
    spark_to_arrow_schema,
)


_ARROW_TO_SPARK = {
    "int8": T.ByteType(), "int16": T.ShortType(), "int32": T.IntegerType(),
    "int64": T.LongType(), "float": T.FloatType(), "double": T.DoubleType(),
    "string": T.StringType(), "large_string": T.StringType(),
    "bool": T.BooleanType(), "date32[day]": T.DateType(),
    "binary": T.BinaryType(), "timestamp[us]": T.TimestampType(),
}


def _file_schema(path: str) -> T.StructType:
    import pyarrow.parquet as pq

    fields = []
    for f in pq.read_schema(path):
        dt = _ARROW_TO_SPARK.get(str(f.type))
        if dt is None:
            raise NotImplementedError(
                f"pyhudi: no Spark mapping for arrow type {f.type} "
                f"(column {f.name}); flatten/cast before export"
            )
        fields.append(T.StructField(f.name, dt))
    return T.StructType(fields)


def _parse_partition_path(ppath: str) -> dict[str, str]:
    """hive-style 'a=1/b=x' → {'a': '1', 'b': 'x'} ('' → {})."""
    out: dict[str, str] = {}
    for seg in ppath.split("/"):
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = v
    return out


class _HudiScanReader(FileScanReader):
    """The shared scan core over Hudi file slices. A base-file task (COW,
    or a compacted MOR slice) reads like any parquet file; partition-path
    columns fill from the task."""

    schema: T.StructType
    file_cols: list[str]  # columns physically in the parquet files
    part_cols: list[str]  # appended from the partition path

    def _file_arrow_schema(self):
        return spark_to_arrow_schema(
            T.StructType([self.schema[c] for c in self.file_cols])
        )

    def _task(self, path: str, partition_path: str, **log_fields) -> ScanTask:
        values = _parse_partition_path(partition_path)
        return ScanTask(
            path, tuple((c, values.get(c)) for c in self.part_cols), **log_fields
        )

    @staticmethod
    def _rows_of(table):
        return table.schema, lambda cols: table.select(cols).to_batches()


def _resolve_schema(state) -> tuple[T.StructType, list[str], list[str]]:
    if not state.files:
        raise ValueError(
            f"pyhudi: {state.location} has no live base files at instant "
            f"{state.instant or '<none>'} — nothing to derive a schema "
            "from (empty or just-created table)"
        )
    # deterministic pick: lowest (partition_path, file_id) key WITH a
    # base file, not dict iteration order — file schemas are expected
    # identical, but the chosen footer should not depend on insertion
    # order. A table whose live groups are all LOG-ONLY (no base parquet
    # yet) resolves from the MOR create schema instead.
    with_base = sorted(k for k, bf in state.files.items() if bf.path)
    if with_base:
        fschema = _file_schema(state.files[with_base[0]].path)
    else:
        import json as _json

        raw = state.properties.get("hoodie.table.create.schema")
        if not raw:
            raise ValueError(
                f"pyhudi: {state.location} has only log-only file groups "
                "and no create schema — cannot resolve a read schema"
            )
        fschema = T.StructType.fromJson(_json.loads(raw))
    file_cols = [f.name for f in fschema.fields]
    part_cols = [c for c in state.partition_fields if c not in file_cols]
    full = T.StructType(
        list(fschema.fields)
        + [T.StructField(c, T.StringType(), True) for c in part_cols]
    )
    return full, file_cols, part_cols


class PyHudiBatchReader(_HudiScanReader, DataSourceReader):
    """One task per FILE SLICE, the same distributed unit as Hudi's own
    MOR scan: a slice with live logs ships its log paths (O(#log files),
    never rows) and the task merges them over the base by record key."""

    def __init__(self, options):
        self.path = source_path(options)
        state = read_hudi_table(self.path, options.get("asOfInstant"))
        self.schema, self.file_cols, self.part_cols = _resolve_schema(state)
        self.key_field = state.record_key_field if state.log_files else ""
        self.valid_instants = frozenset(state.valid_instants)
        self.as_of = state.instant or ""
        self._parts = [
            self._task(
                bf.path,
                bf.partition_path,
                logs=tuple(
                    (lg.path, lg.instant_time) for lg in state.log_files.get(key, [])
                ),
            )
            for key, bf in sorted(state.files.items())
        ]

    def partitions(self):
        return self._parts

    def _open(self, task: ScanTask):
        if not task.logs:
            return super()._open(task)
        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            merge_file_slice,
        )

        return self._rows_of(
            merge_file_slice(
                task.path or None,
                list(task.logs),
                self.key_field,
                self.valid_instants,
                self.as_of,
                self._file_arrow_schema(),
            )
        )


class PyHudiStreamReader(_HudiScanReader, TailingStreamReader):
    """Offset = the last consumed completed instant time (lexicographic —
    Hudi instants are yyyyMMddHHmmssSSS, so string order IS time order).
    Each batch emits the base files written by instants in
    (start, end] — the incremental-pull contract. ``maxFilesPerTrigger``
    weighs an instant by its write stats (instants are never split)."""

    OFFSET, INITIAL = "t", ""
    LIMIT_OPTION = "maxFilesPerTrigger"

    def __init__(self, schema: T.StructType, options):
        super().__init__(options)
        self.path = source_path(options)
        state = read_hudi_table(self.path)
        self.schema, self.file_cols, self.part_cols = _resolve_schema(state)
        self._timeline: dict = {}

    def _backlog(self, pos) -> list:
        done = completed_instants(self.path)
        self._timeline = {ins.time: ins for ins in done}
        return [ins.time for ins in done if pos is None or ins.time > pos]

    def _weight(self, t: str) -> int:
        return len(_write_stats(read_instant_metadata(self.path, self._timeline[t])))

    def _added(self, lo: str, hi: str) -> list:
        bases, logs = incremental_slices(self.path, begin=lo, end=hi or None)
        parts = [self._task(bf.path, bf.partition_path) for bf in bases]
        # MOR: each log file written in range emits its data-block
        # records for exactly its own deltacommit — the incremental-pull
        # contract extended to upserts. Row-level deletes refuse at
        # PLANNING time when the commit metadata records them (cheap:
        # O(instants in batch) stats reads, no log bytes); the executor
        # keeps an authoritative guard for foreign-written logs whose
        # stats omit numDeletes.
        if logs and not self.ignore_deletes:
            batch_times = {lg.instant_time for lg in logs}
            for ins in completed_instants(self.path):
                if ins.time not in batch_times:
                    continue
                stats = _write_stats(read_instant_metadata(self.path, ins) or {})
                n_del = sum(int(st.get("numDeletes") or 0) for st in stats)
                if n_del:
                    self._refuse_deletes(
                        f"pyhudi stream: instant {ins.time} deletes {n_del} row(s)"
                    )
        parts.extend(
            self._task(
                "",
                lg.partition_path,
                stream_log=lg.path,
                stream_instants=(lg.instant_time,),
                stream_ignore_deletes=self.ignore_deletes,
            )
            for lg in logs
        )
        return parts

    def _open(self, task: ScanTask):
        """A MOR log task emits the data-block records of ONE log file for
        the instants of this micro-batch. A DELETE block refuses unless
        the stream opted in with ``ignoreDeletes`` — checked here, in the
        task, because only the task reads the log blocks."""
        if not task.stream_log:
            return super()._open(task)
        import pyarrow as pa

        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            BLOCK_AVRO_DATA,
            BLOCK_DELETE,
            HEADER_INSTANT_TIME,
            _data_block_table,
            conform_table,
            read_log_blocks,
        )

        schema = self._file_arrow_schema()
        tables = [schema.empty_table()]
        for bt, h, content in read_log_blocks(task.stream_log):
            if h.get(HEADER_INSTANT_TIME) not in task.stream_instants:
                continue
            if bt == BLOCK_DELETE and not task.stream_ignore_deletes:
                raise append_only_error(
                    f"pyhudi stream: {task.stream_log} carries a DELETE "
                    f"log block at instant {h.get(HEADER_INSTANT_TIME)}"
                )
            if bt == BLOCK_AVRO_DATA:
                tables.append(conform_table(_data_block_table(content, h), schema))
        return self._rows_of(pa.concat_tables(tables))


def _write_stats(md: dict) -> list[dict]:
    """Every write stat of an instant's commit metadata."""
    return [st for stats in (md.get("partitionToWriteStats") or {}).values() for st in stats]


def _table_exists(dest: str) -> bool:
    try:
        read_properties(dest)
        return True
    except (FileNotFoundError, KeyError):
        return False


class PyHudiBatchWriter(StagedArrowWriter):
    """``df.write.format("pyhudi")`` over a COPY_ON_WRITE table — the
    same two-phase commit as the pydelta writer, expressed in Hudi's
    protocol: tasks write invisible ``_tmp-*.parquet`` files; the
    driver opens an instant, renames each tmp into the spec's
    ``<fileId>_<token>_<instant>.parquet`` name, and completes ONE
    timeline instant listing the write stats (``commit`` for append;
    ``replacecommit`` retiring every previous file group for
    overwrite — atomic replace, time travel intact). A crashed or
    speculative task leaves at most an unreferenced tmp file — the
    timeline is the commit, not the directory listing.

    Partitioned COW tables (round 9): write tasks route rows into hive
    partition paths via ``_hive_partition_path`` (the same canonical
    rendering both MOR write paths use, incl. the null token) — one
    file per (task, partition value), per-partition write stats, and
    per-partition replace ids on overwrite. A NEW table partitions via
    ``option("partitionBy", "col1,col2")``; an existing table's
    partition fields come from its properties.

    Bounds (refusals, not silent corruption): COW only — MOR tables
    take upsert_mor/delete_mor (the log-append protocol)."""

    WRITER = "pyhudi writer"

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        super().__init__(schema, overwrite)
        self.dest = self.stage_dir = source_path(options)
        if _table_exists(self.dest):
            props = read_properties(self.dest)
            if props.get("hoodie.table.type") != "COPY_ON_WRITE":
                raise NotImplementedError(
                    "pyhudi writer: MERGE_ON_READ tables take "
                    "upsert_mor/delete_mor (log appends), not the COW "
                    "file writer"
                )
            self.part_cols = [
                c
                for c in props.get("hoodie.table.partition.fields", "").split(",")
                if c
            ]
            # schema check against the table's committed schema (the
            # writer stamps it in every commit's extraMetadata; exported
            # tables carry it too) — mixed-schema appends refuse early
            committed = self._committed_schema()
            if committed is not None:
                self._check_schema(committed)
        else:
            self.part_cols = self._partition_by(options)
        os.makedirs(self.dest, exist_ok=True)

    def _extra_metadata(self):
        """The completed instants' extraMetadata, newest first."""
        for ins in reversed(completed_instants(self.dest)):
            yield (read_instant_metadata(self.dest, ins) or {}).get("extraMetadata") or {}

    def _committed_schema(self) -> T.StructType | None:
        """The newest committed schema: the last completed instant whose
        extraMetadata carries one (our writer and the MOR verbs stamp
        it). None when no instant declares a schema (e.g. bootstrap
        exports) — then the footer-derived read schema is authoritative
        and the check is skipped."""
        for em in self._extra_metadata():
            if em.get("schema"):
                return T.StructType.fromJson(json.loads(em["schema"]))
        return None

    def _file_key(self, values: tuple) -> str:
        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            _hive_partition_path,
        )

        return _hive_partition_path(dict(zip(self.part_cols, values)), self.part_cols)

    def _commit(self, staged, epoch) -> None:
        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            _base_file_name,
            _ensure_partition_metadata,
            _group_file_id,
            begin_instant,
            complete_instant,
            create_hudi_table,
        )

        # re-check at commit time: a stream writer instance spans epochs,
        # and epoch 0 creates the table __init__ did not see
        exists = _table_exists(self.dest)
        if not exists:
            create_hudi_table(
                self.dest,
                os.path.basename(self.dest.rstrip("/")),
                self.part_cols,
            )
        prev_by_part: dict[str, list[str]] = {}
        if exists and self.overwrite:
            for (p, fid) in read_hudi_table(self.dest).files:
                prev_by_part.setdefault(p, []).append(fid)
            for v in prev_by_part.values():
                v.sort()
        action = "replacecommit" if prev_by_part else "commit"
        t = begin_instant(self.dest, action)
        stats_by_part: dict[str, list[dict]] = {}
        for i, (tmp, rows, size, ppath) in enumerate(staged):
            if ppath not in stats_by_part:
                _ensure_partition_metadata(self.dest, ppath, t)
            fid = _group_file_id(f"writer#{t}#{ppath}", i)
            rel = os.path.join(ppath, _base_file_name(fid, t))
            os.makedirs(
                os.path.dirname(os.path.join(self.dest, rel)), exist_ok=True
            )
            os.rename(tmp, os.path.join(self.dest, rel))
            stats_by_part.setdefault(ppath, []).append(
                {
                    "fileId": fid,
                    "path": rel,
                    "prevCommit": "null",
                    "numWrites": rows,
                    "numDeletes": 0,
                    "numUpdateWrites": 0,
                    "numInserts": rows,
                    "totalWriteBytes": size,
                    "fileSizeInBytes": size,
                    "partitionPath": ppath,
                }
            )
        if not stats_by_part and not self.part_cols:
            _ensure_partition_metadata(self.dest, "", t)
            stats_by_part = {"": []}
        extra = {"schema": json.dumps(self.schema.jsonValue())}
        if epoch is not None:
            extra.update(streamAppId=self.app_id, streamBatchId=str(epoch))
        md: dict = {
            "partitionToWriteStats": stats_by_part,
            "compacted": False,
            "operationType": (
                "INSERT_OVERWRITE_TABLE" if prev_by_part else "INSERT"
            ),
            "extraMetadata": extra,
        }
        if prev_by_part:
            md["partitionToReplaceFileIds"] = prev_by_part
        complete_instant(self.dest, t, action, md)


class PyHudiStreamWriter(PyHudiBatchWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("pyhudi")`` — one timeline instant per
    epoch, EXACTLY-ONCE the way real Hudi's streaming ingest is: the
    commit's ``extraMetadata`` carries the writer's checkpoint marker
    (appId + epoch — Hudi's deltastreamer stores its source checkpoint
    in exactly this slot), and a re-delivered epoch (sink retry after a
    crash between commit and checkpoint) is detected by replaying the
    completed instants' markers and skipped. ``option("checkpointAppId",
    ...)`` names the writer; two queries writing one table need
    distinct ids."""

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        super().__init__(schema, options, overwrite)
        self.app_id = options.get("checkpointAppId", "pyhudi-sink")

    def _last_epoch(self) -> int:
        if not _table_exists(self.dest):
            return -1
        return max(
            (
                int(em.get("streamBatchId", -1))
                for em in self._extra_metadata()
                if em.get("streamAppId") == self.app_id
            ),
            default=-1,
        )


class PyHudiDataSource(FormatDataSource):
    """``spark.dataSource.register(PyHudiDataSource)`` → format name
    "pyhudi" for batch read/write, readStream and writeStream over Hudi
    tables (writes: COW)."""

    FORMAT = "pyhudi"
    READER = PyHudiBatchReader
    WRITER = PyHudiBatchWriter
    STREAM_READER = PyHudiStreamReader
    STREAM_WRITER = PyHudiStreamWriter

    def schema(self):
        schema, _fc, _pc = _resolve_schema(
            read_hudi_table(source_path(self.options))
        )
        return schema


register = PyHudiDataSource.register


def _declare_queries() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from iceberg_metadata_pipeline_spark.queries import query
    from iceberg_metadata_pipeline_spark.session import load_tables

    @query(
        "source_pyhudi_datasource",
        """
SELECT p_brand, COUNT(*) AS n,
  CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
FROM part
GROUP BY p_brand
ORDER BY p_brand
""",
    )
    def source_pyhudi_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Register the part fixture into metacat, export it as a REAL
        Hudi COW table (timeline + bootstrap-style symlinked base files),
        then read it back through plain ``spark.read.format("pyhudi")``
        and aggregate — proving a Spark user needs no hudi jar to query
        the exported table. The DataSource plans one input partition per
        base file from O(timeline) driver metadata."""
        import os as _os
        import tempfile as _tf

        from iceberg_metadata_pipeline_spark.catalog.hudi_format import (
            export_hudi_table,
        )
        from iceberg_metadata_pipeline_spark.catalog.metacat import (
            Catalog,
            scan_parquet_footers,
        )

        part = load_tables(spark, sf_dir)["part"]
        catalog = Catalog(spark, _tf.mkdtemp(prefix="wh-pyhudi-"))
        t = catalog.create_table("nyc", "part_hudi", part.schema)
        t.append_files(
            scan_parquet_footers(_os.path.join(sf_dir, "part.parquet"), spark)
        )
        dest = _tf.mkdtemp(prefix="hudi-pyds-") + "/part_hudi"
        export_hudi_table(t.refresh(), dest)
        register(spark)
        back = spark.read.format("pyhudi").load(dest)
        return (
            back.groupBy("p_brand")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("p_retailprice").cast("decimal(38,6)"))
                .cast("double")
                .alias("total_price"),
            )
            .orderBy("p_brand")
        )

    @query(
        "source_pyhudi_writer_roundtrip",
        """
SELECT n_regionkey, COUNT(*) AS n,
  CAST(SUM(LENGTH(n_name)) AS BIGINT) AS name_chars
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
    )
    def source_pyhudi_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The pyhudi WRITER end-to-end (round 8): the nation fixture
        writes through plain ``df.write.format("pyhudi")`` — tasks
        write tmp parquet, the driver commits one timeline instant —
        then an OVERWRITE replaces the table under a replacecommit and
        the snapshot read must equal the oracle over the final write.
        Proves a Spark user can create, replace, and read a Hudi COW
        table with zero hudi jars and standard writer syntax."""
        import tempfile as _tf

        register(spark)
        nation = load_tables(spark, sf_dir)["nation"]
        dest = _tf.mkdtemp(prefix="hudi-wr-") + "/nation_w"
        # first write: a decoy subset; the overwrite must fully retire it
        nation.where("n_regionkey = 0").write.format("pyhudi").mode(
            "append"
        ).save(dest)
        nation.write.format("pyhudi").mode("overwrite").save(dest)
        back = spark.read.format("pyhudi").load(dest)
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("n_name")).cast("bigint").alias("name_chars"),
            )
            .orderBy("n_regionkey")
        )

    @query(
        "source_pyhudi_writer_partitioned",
        """
SELECT n_regionkey, COUNT(*) AS n,
  CAST(SUM(LENGTH(n_name)) AS BIGINT) AS name_chars
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
    )
    def source_pyhudi_writer_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The PARTITIONED pyhudi writer end-to-end (round 9): nation
        writes through ``option("partitionBy", "n_regionkey")`` — write
        tasks route rows into hive partition dirs, per-partition write
        stats land in one commit — and a second append picks the fields
        up from table properties. The reader reattaches partition-path
        values, so the aggregate must match the oracle exactly."""
        import tempfile as _tf

        register(spark)
        nation = load_tables(spark, sf_dir)["nation"]
        dest = _tf.mkdtemp(prefix="hudi-wp-") + "/nation_p"
        nation.where("n_regionkey < 3").write.format("pyhudi").option(
            "partitionBy", "n_regionkey"
        ).mode("append").save(dest)
        nation.where("n_regionkey >= 3").write.format("pyhudi").mode(
            "append"
        ).save(dest)
        back = spark.read.format("pyhudi").load(dest)
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("n_name")).cast("bigint").alias("name_chars"),
            )
            .orderBy("n_regionkey")
        )


_declare_queries()
