"""`pyice` — Spark 4 Python DataSource over real Iceberg table
directories (catalog/iceberg_format.py's reader).

``spark.read.format("pyice").load(table_dir)`` scans the CURRENT
snapshot of any spec v1/v2 (+ v3 deletion-vector) Iceberg table with no
jar and no import step: metadata JSON → manifest list → manifests →
one input partition per live data file. Merge-on-read state applies
per file with the spec's sequence rules:

- position deletes (parquet ``file_path``/``pos`` files AND v3 puffin
  deletion vectors) drop positions where ``delete.seq >= data.seq``;
- equality deletes drop rows matching the delete file's column tuple
  where ``delete.seq > data.seq`` (null-safe equality, per spec).

Delete files decode EXECUTOR-side: the driver ships only O(#delete
files) DESCRIPTORS (path + kind + puffin blob offset) inside each
:class:`~iceberg_metadata_pipeline_spark.ingest.datasource_base.ScanTask`,
and the task resolves its own delete state through the shared scan core
(``datasource_base.FileScanReader``) — a puffin DV blob decodes in the
task, a position-delete parquet reads its two columns in the task, an
equality-delete parquet reads its key columns in the task. This is the
real iceberg-spark shape: a table with billions of accumulated deletes
never materializes them on the driver at plan time, and nothing
data-sized is pickled per partition.

This is the tailing/read-anywhere twin of ``pydelta``: for heavy
analytics, ``import_iceberg_table`` registers the files into metacat
and Spark's vectorized parquet scan takes over; ``pyice`` is for
reading a foreign warehouse in place.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceReader, DataSourceStreamArrowWriter

from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
    list_metadata_versions,
    read_iceberg_table,
)
from iceberg_metadata_pipeline_spark.catalog.metacat import plain_path
from iceberg_metadata_pipeline_spark.ingest.datasource_base import (
    FileScanReader,
    FormatDataSource,
    ScanTask,
    StagedArrowWriter,
    TailingStreamReader,
    coerce_literal,
    source_path,
)


class _IceFileReader(FileScanReader):
    """Shared schema state of the batch and stream readers."""

    def _read_schema(self, info) -> None:
        self.schema = info.schema
        # v3 initial-defaults (and plain schema evolution): a column
        # missing from a data file fills per batch — the default when
        # one is declared, else null; files that HAVE the column keep
        # their values including explicit nulls (the spec distinction)
        self.fills = tuple(
            (f.name, coerce_literal(info.defaults[f.name], f.dataType))
            for f in info.schema.fields
            if info.defaults.get(f.name) is not None
        )


class PyIceBatchReader(_IceFileReader, DataSourceReader):
    """Each ScanTask carries only the descriptors of delete files
    applicable under the sequence rules; the task decodes them itself. A
    DV descriptor with a referenced_data_file routes only to that file;
    position-delete parquets (which may reference any data file) route to
    every file with data_seq ≤ delete seq and the task keeps its own
    path's rows."""

    def __init__(self, options):
        self.path = source_path(options)
        # descriptors only: plan-time state stays O(#delete files), never
        # O(deleted rows)
        info = read_iceberg_table(self.path, decode_dvs=False)
        self._read_schema(info)
        self._parts = []
        for f in info.files:
            fnorm = plain_path(f.path)
            pos_files = tuple(
                ("puffin", d.path, d.content_offset, None)
                if d.is_dv
                else ("parquet", d.path, None, None)
                for d in info.delete_files
                if d.content == 1
                and d.seq >= f.seq
                and (
                    d.referenced_data_file is None
                    or plain_path(d.referenced_data_file) == fnorm
                )
            )
            eq_files = tuple(
                (tuple(d.equality_cols), d.path)
                for d in info.delete_files
                if d.content == 2 and d.seq > f.seq
            )
            self._parts.append(
                ScanTask(f.path, self.fills, pos_files=pos_files, eq_files=eq_files)
            )

    def partitions(self):
        return self._parts


class PyIceStreamReader(_IceFileReader, TailingStreamReader):
    """Tail an Iceberg table directory (HadoopTableOperations layout):
    the offset is the METADATA VERSION number, and each micro-batch
    emits the data files that version range ADDED. A version whose diff
    REMOVES files (overwrite/compaction) or that carries merge-on-read
    delete files refuses unless ``ignoreDeletes`` is set (the
    :class:`TailingStreamReader` append-only contract), so appended
    files have no applicable deletes."""

    OFFSET, INITIAL = "v", 0  # before the first metadata version
    LIMIT_OPTION = "maxVersionsPerTrigger"

    def __init__(self, options):
        super().__init__(options)
        self.path = source_path(options)
        self._read_schema(read_iceberg_table(self.path, decode_dvs=False))
        # Kafka-source naming: when a checkpointed offset points below the
        # expire_iceberg_metadata horizon, failOnDataLoss=false resumes
        # from the oldest retained version (accepting the gap) instead of
        # failing the stream with no recovery path
        self._fail_on_data_loss = (
            str(options.get("failOnDataLoss", "true")).lower() != "false"
        )

    def _backlog(self, pos) -> list:
        return [v for v in list_metadata_versions(self.path) if pos is None or v > pos]

    def _files_at(self, v: int) -> dict[str, object]:
        if v <= 0:
            return {}
        retained = list_metadata_versions(self.path)
        if retained and v < retained[0]:
            # checkpointed offset below the expiration horizon: the
            # vN.metadata.json this offset names was deleted by
            # expire_iceberg_metadata
            if self._fail_on_data_loss:
                raise FileNotFoundError(
                    f"pyice stream: checkpointed metadata version v{v} was "
                    f"expired (oldest retained is v{retained[0]}) — "
                    "expire_iceberg_metadata removed it. Restart with "
                    ".option('failOnDataLoss','false') to resume from the "
                    "oldest retained version (files added in the expired "
                    "gap are NOT replayed), or start a fresh checkpoint "
                    "with startingVersion."
                )
            v = retained[0]
        info = read_iceberg_table(self.path, decode_dvs=False, version=v)
        if info.delete_files:
            self._refuse_deletes(f"metadata v{v} carries merge-on-read delete files")
        return {plain_path(f.path): f for f in info.files}

    def _added(self, lo: int, hi: int) -> list:
        before = self._files_at(int(lo))
        after = self._files_at(int(hi))
        vanished = sorted(set(before) - set(after))
        if vanished:
            self._refuse_deletes(
                f"metadata v{lo}→v{hi} removes {len(vanished)} file(s) "
                "(overwrite/compaction)"
            )
        return [
            ScanTask(after[p].path, self.fills)
            for p in sorted(set(after) - set(before))
        ]


class PyIceBatchWriter(StagedArrowWriter):
    """``df.write.format("pyice")`` — write symmetry across all four
    DataSources, now a DIRECT Iceberg commit (round 9; drops the r8
    ``_writer_catalog`` sidecar): tasks write invisible
    ``data/_tmp-*.parquet``; the driver renames them to
    ``data/part-*.parquet`` and commits ONE new avro manifest + a
    manifest list re-referencing the prior snapshot's manifests + the
    next ``vN.metadata.json`` (``commit_iceberg_append``). Because the
    commit reads the LIVE latest metadata, the writer works on ANY
    Iceberg v2/v3 directory — ones this writer created, ones
    ``export_iceberg_table`` produced, and foreign ones — and appends
    from different writers STACK instead of superseding each other
    (the r8 ADVICE staleness trap is gone by construction). Commits are
    O(churn): only the new files are written to metadata.

    Partitioned tables: identity transforms route inside the write
    tasks — each task groups rows by partition tuple and writes one
    file per value, so manifest entries carry typed partition values
    and stay PRUNABLE. A new table partitions via
    ``option("partitionBy", "col1,col2")``.

    Reference parity: the commit protocol the reference delegates to
    iceberg-spark-runtime (entrypoint-spark.sh:74), jar-free."""

    WRITER = "pyice writer"

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        super().__init__(schema, overwrite)
        self.dest = source_path(options)
        self.stage_dir = os.path.join(self.dest, "data")
        self.exists = os.path.isdir(os.path.join(self.dest, "metadata"))
        if self.exists:
            info = read_iceberg_table(self.dest, decode_dvs=False)
            self._check_schema(info.schema)
            # identity partition fields of the default spec, in order
            self.part_cols = [src for _name, src in info.identity_partition]
            self.part_names = [name for name, _src in info.identity_partition]
        else:
            self.part_cols = self._partition_by(options)
            self.part_names = list(self.part_cols)

    def _file_key(self, values: tuple) -> str:
        return json.dumps(
            {pn: None if v is None else str(v) for pn, v in zip(self.part_names, values)}
        )

    def _commit(self, staged, epoch) -> None:
        """Rename every staged file into place and commit them as ONE
        snapshot; a stream epoch's watermark rides the same metadata
        write (a crash between the two could double-apply the epoch)."""
        import uuid as _uuid

        from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
            commit_iceberg_append,
            create_iceberg_table_dir,
        )
        from iceberg_metadata_pipeline_spark.catalog.metacat import (
            DataFileEntry,
        )

        if not self.exists:
            create_iceberg_table_dir(
                self.dest, self.schema, partition_by=self.part_cols
            )
            self.exists = True
        entries = []
        for tmp, rows, size, part_json in staged:
            final = os.path.join(self.stage_dir, f"part-{_uuid.uuid4().hex}.parquet")
            os.rename(tmp, final)
            entries.append(
                DataFileEntry(
                    path=final,
                    record_count=rows,
                    file_size_bytes=size,
                    format="PARQUET",
                    partition={
                        k: v for k, v in json.loads(part_json).items() if v is not None
                    },
                )
            )
        if epoch is not None:
            commit_iceberg_append(
                self.dest, entries, extra_properties={self._watermark: str(epoch)}
            )
        elif entries or self.overwrite:
            commit_iceberg_append(self.dest, entries, overwrite=self.overwrite)


class PyIceStreamWriter(PyIceBatchWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("pyice")`` — one Iceberg snapshot
    (metadata version) per epoch, EXACTLY-ONCE via a table-property
    watermark: every epoch's commit sets
    ``stream-watermark-<appId> = batchId`` IN the same metadata write
    as the files (real Iceberg sinks store the same marker in snapshot
    summary properties), and a re-delivered epoch is detected against
    the committed watermark and dropped.
    ``option("checkpointAppId", ...)`` names the writer."""

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        super().__init__(schema, options, overwrite)
        self._watermark = "stream-watermark-" + options.get(
            "checkpointAppId", "pyice-sink"
        )

    def _last_epoch(self) -> int:
        from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
            _latest_metadata_path,
        )

        if not os.path.isdir(os.path.join(self.dest, "metadata")):
            return -1
        with open(_latest_metadata_path(self.dest)) as fh:
            last = json.load(fh).get("properties", {}).get(self._watermark)
        return -1 if last is None else int(last)


class PyIceDataSource(FormatDataSource):
    """``spark.dataSource.register(PyIceDataSource)`` → format name
    "pyice" for batch reads/writes, readStream tailing and writeStream
    of Iceberg table directories."""

    FORMAT = "pyice"
    READER = PyIceBatchReader
    WRITER = PyIceBatchWriter
    STREAM_WRITER = PyIceStreamWriter

    def schema(self):
        return read_iceberg_table(
            source_path(self.options), decode_dvs=False
        ).schema

    def streamReader(self, schema: T.StructType):
        return PyIceStreamReader(self.options)


register = PyIceDataSource.register


def _declare_queries() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from iceberg_metadata_pipeline_spark.queries import query
    from iceberg_metadata_pipeline_spark.session import load_tables

    @query(
        "source_pyice_datasource",
        """
SELECT p_brand, COUNT(*) AS n,
  CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size
FROM part
GROUP BY p_brand
ORDER BY p_brand
""",
    )
    def source_pyice_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Read a REAL Iceberg directory with plain ``spark.read``: the
        part fixture registers metadata-only, exports as spec-v2, and
        the pyice DataSource scans the exported metadata (manifest
        list → manifests → files, one task per file) with no import
        step. Matching the raw-fixture oracle proves the whole
        metadata chain and the DataSource plumbing."""
        import os as _os
        import tempfile as _tf

        from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
            export_iceberg_table,
        )
        from iceberg_metadata_pipeline_spark.catalog.metacat import (
            Catalog,
            scan_parquet_footers,
        )

        load_tables(spark, sf_dir)
        register(spark)
        catalog = Catalog(spark, _tf.mkdtemp(prefix="wh-pyice-"))
        t = catalog.create_table("nyc", "part_ice", spark.table("part").schema)
        t.append_files(
            scan_parquet_footers(_os.path.join(sf_dir, "part.parquet"), spark)
        )
        dest = _tf.mkdtemp(prefix="pyice-q-")
        export_iceberg_table(t.refresh(), dest)
        back = spark.read.format("pyice").load(dest)
        return (
            back.groupBy("p_brand")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("p_size").cast("bigint")).alias("total_size"),
            )
            .orderBy("p_brand")
        )

    @query(
        "source_pyice_writer_roundtrip",
        """
SELECT s_nationkey, COUNT(*) AS n,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
    )
    def source_pyice_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The pyice WRITER end-to-end (round 8): supplier writes
        through plain ``df.write.format("pyice")`` (two-phase: task tmp
        files → sidecar-catalog commit → next Iceberg metadata version),
        then an OVERWRITE replaces a decoy subset and the snapshot read
        must equal the oracle over the final write — create, replace,
        and read a real Iceberg directory with zero jars and standard
        writer syntax."""
        import tempfile as _tf

        register(spark)
        supplier = load_tables(spark, sf_dir)["supplier"]
        dest = _tf.mkdtemp(prefix="ice-wr-") + "/supplier_w"
        supplier.where("s_nationkey = 0").write.format("pyice").mode(
            "append"
        ).save(dest)
        supplier.write.format("pyice").mode("overwrite").save(dest)
        back = spark.read.format("pyice").load(dest)
        return (
            back.groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("s_acctbal").cast("decimal(38,6)"))
                .cast("double")
                .alias("total_bal"),
            )
            .orderBy("s_nationkey")
        )

    @query(
        "source_pyice_writer_partitioned",
        """
SELECT s_nationkey, COUNT(*) AS n,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
FROM supplier
WHERE s_nationkey < 5
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
    )
    def source_pyice_writer_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The PARTITIONED pyice writer end-to-end (round 9): supplier
        rows under nationkey<5 write through
        ``df.write.format("pyice").option("partitionBy","s_nationkey")``
        — write tasks route rows per partition value, the direct
        manifest-append commit records typed identity partition values,
        and a second append picks the spec up from the live metadata.
        The read back through pyice must match the oracle exactly."""
        import tempfile as _tf

        register(spark)
        supplier = load_tables(spark, sf_dir)["supplier"]
        dest = _tf.mkdtemp(prefix="ice-wp-") + "/supplier_p"
        supplier.where("s_nationkey < 3").write.format("pyice").option(
            "partitionBy", "s_nationkey"
        ).mode("append").save(dest)
        supplier.where("s_nationkey IN (3, 4)").write.format("pyice").mode(
            "append"
        ).save(dest)
        back = spark.read.format("pyice").load(dest)
        return (
            back.groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("s_acctbal").cast("decimal(38,6)"))
                .cast("double")
                .alias("total_bal"),
            )
            .orderBy("s_nationkey")
        )


_declare_queries()
