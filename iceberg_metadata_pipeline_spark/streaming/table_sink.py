"""Streaming writes INTO a catalog table — the sink half of the Spark 4
Python DataSource API (the source half is table_source.py), mirroring
Iceberg's `writeStream.format("iceberg")` append sink.

    spark.dataSource.register(CatalogTableSinkDataSource)
    (df.writeStream.format("metacat_table_sink")
       .option("location", table.location)
       .option("checkpointLocation", ...)
       .start())

Semantics (Iceberg streaming-append parity):

- **executor-parallel file writes**: each task stages its Arrow batches
  as one parquet file under ``<location>/data/`` via pyarrow (no
  SparkSession, no row collection on the driver, no file for an empty
  task); the driver receives only (path, rowcount, bytes) commit
  messages (ingest/datasource_base.py's staged writer).
- **one atomic commit per micro-batch**: ``commit(messages, batchId)``
  registers all of the batch's files in a single append commit through
  the catalog's optimistic CAS protocol — readers see the whole batch
  or none of it.
- **exactly-once under retries**: the committed epoch is durably
  recorded in table properties IN the same metadata version as the
  append; a replayed batch (same batchId after restart/failure) is
  detected from DISK state and its files are dropped, not re-appended.
  ``abort()`` removes any files a failed batch managed to write.

Scale notes (100 TB): file bytes never touch the driver — the commit
message is O(files) metadata. Batch commit cost is the catalog's normal
O(changed files) delta write. Downstream readers (including
table_source.py) see each micro-batch as one append snapshot, so a
stream can flow table → transform → table with snapshot-id lineage at
every hop.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSourceStreamArrowWriter

from iceberg_metadata_pipeline_spark.ingest.datasource_base import (
    FormatDataSource,
    StagedArrowWriter,
    StagedFiles,
)

_EPOCH_PROP = "stream-sink-last-epoch"


class _FileCommit(StagedFiles):
    """A parquet file already under the table's data dir as a one-file
    staged message — how a file written outside a write task reaches
    ``commit``."""

    def __init__(self, path: str, rows: int, size: int):
        super().__init__(files=((path, rows, size, None),))
        self.path = path


class CatalogTableBatchWriter(StagedArrowWriter):
    """Batch append through the executor-parallel file path:
    ``df.write.format("metacat_table_sink").mode("append")`` — one
    atomic commit for the whole write (no epoch bookkeeping; batch
    writes are not replayed by the engine)."""

    WRITER = "metacat_table_sink"

    def __init__(self, schema, options):
        super().__init__(schema)
        loc = options.get("location") or ""
        if not loc:
            raise ValueError("metacat_table_sink requires option 'location'")
        self.location = loc.rstrip("/")
        self.stage_dir = os.path.join(self.location, "data")

    def _arrow_schema(self):
        # the table's own Arrow mapping (nested types included), not the
        # flat file-format writers' subset
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self.schema)

    def _table(self):
        from pyspark.sql import SparkSession

        from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog

        spark = SparkSession.getActiveSession()
        warehouse = os.path.dirname(os.path.dirname(self.location))
        ns, name = self.location.rstrip("/").split("/")[-2:]
        return Catalog(spark, warehouse).load_table(ns, name)

    def _commit(self, staged, epoch) -> None:
        import uuid

        from iceberg_metadata_pipeline_spark.catalog.metacat import DataFileEntry

        entries = []
        for tmp, rows, size, _key in staged:
            final = os.path.join(self.stage_dir, f"stream-{uuid.uuid4().hex[:16]}.parquet")
            os.rename(tmp, final)
            entries.append(
                DataFileEntry(path=final, record_count=rows, file_size_bytes=size)
            )
        if not entries:
            return
        # a stream's epoch marker rides the SAME commit as the data:
        # either both become visible or neither — passed as an atomic
        # property rider so append_files' conflict-retry loop re-applies
        # it after every refresh()
        extra = None if epoch is None else {self.epoch_prop: str(epoch)}
        self._table().append_files(entries, dedupe=False, extra_properties=extra)


class CatalogTableStreamWriter(CatalogTableBatchWriter, DataSourceStreamArrowWriter):
    """One atomic append commit per micro-batch, exactly-once: the
    committed epoch is recorded in table properties IN the same metadata
    version as the append, and a replayed batch is detected from DISK
    state (not in-process memory) and its files dropped."""

    def __init__(self, schema, options):
        super().__init__(schema, options)
        # epoch replay-protection is scoped per STREAM, not per table:
        # batchIds restart at 0 for a fresh checkpoint and run
        # independently for a second query into the same table — a single
        # table-wide high-water mark would silently discard their batches
        import hashlib

        ckpt = options.get("checkpointLocation")
        scope = (
            hashlib.sha1(ckpt.encode()).hexdigest()[:12] if ckpt else "default"
        )
        self.epoch_prop = f"{_EPOCH_PROP}.{scope}"

    def _last_epoch(self) -> int:
        last = self._table().properties.get(self.epoch_prop)
        return -1 if last is None else int(last)


class CatalogTableSinkDataSource(FormatDataSource):
    """`writeStream.format("metacat_table_sink")` (and batch `df.write`)."""

    FORMAT = "metacat_table_sink"

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError("metacat_table_sink is append-only")
        return CatalogTableBatchWriter(schema, self.options)

    def streamWriter(self, schema, overwrite):
        if overwrite:
            raise ValueError("metacat_table_sink is append-only")
        return CatalogTableStreamWriter(schema, self.options)


def write_table_stream(df, table, checkpoint: str, **opts):
    """Convenience: start an append stream into ``table``."""
    CatalogTableSinkDataSource.register(df.sparkSession)
    return (
        df.writeStream.format("metacat_table_sink")
        .option("location", table.location)
        .option("checkpointLocation", checkpoint)
        .options(**opts)
    )
