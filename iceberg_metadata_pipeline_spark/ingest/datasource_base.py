"""One skeleton for the Spark 4 Python DataSources (``pyavro``,
``pydelta``, ``pyhudi``, ``pyice``, ``pyrest``, ``pywds``,
``metacat_table`` and ``metacat_table_sink``). Each format module keeps
only what its protocol owns; the parts every source shares live here:

- :class:`TailingStreamReader` — the offset dict, the engine-confirmed
  position, ``latestOffset`` throttling by whole units and the
  append-only ``ignoreDeletes`` refusal. A format supplies
  ``_backlog(pos)`` (the offsets after ``pos``, oldest first),
  ``_added(lo, hi)`` (the partitions of the range) and, when a unit
  weighs more than one, ``_weight(offset)``.
- :class:`StagedArrowWriter` — the two-phase write: each task groups its
  Arrow batches by partition value and stages one invisible
  ``_tmp-<uuid>`` file per group, the driver publishes every staged file
  in ONE format commit (``_commit``) or removes them (``abort``). A
  stream commit first drops a re-delivered epoch (``_last_epoch``).
- :class:`FormatDataSource` — ``name()``, ``register(spark)`` and the
  reader/writer factories, resolved from class attributes.

Write type posture: every group casts to the writer's target Arrow
schema (``arrow_types.arrow_fields`` unless a format overrides
``_arrow_schema``). Spark serves TimestampType as
``timestamp('us', tz='UTC')``; the cast to a naive ``us`` target keeps
the epoch micros unchanged, which equals the naive-local rendering
because the session timezone is pinned UTC (session.py). Only the
identity partition KEY columns are materialized as Python scalars, to
route groups; value columns stay columnar from the JVM to the encoder.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamReader,
    WriterCommitMessage,
)


def _key_py(v):
    """Arrow ``.as_py()`` partition-key scalar → the value the old Row
    path produced (tz-aware timestamps become naive UTC wall time)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def grouped_arrow_tables(iterator, target, part_cols):
    """RecordBatch iterator → list of ``(key_tuple, pa.Table)`` grouped
    by the identity partition columns (one ``((), table)`` entry when
    unpartitioned), each table cast to the ``target`` arrow schema.
    Returns ``[]`` for an empty task. Only ``part_cols`` columns touch
    Python; the take() split keeps values columnar."""
    import pyarrow as pa

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return []
    tbl = pa.Table.from_batches(batches)
    # name-align then cast: Spark's batch schema carries the dataframe
    # column names in order; the cast moves tz-aware→naive timestamps,
    # large_string→string etc. without touching values
    tbl = tbl.select(target.names).cast(target)
    if not part_cols:
        return [((), tbl)]
    keys = [
        [_key_py(v) for v in tbl.column(c).to_pylist()] for c in part_cols
    ]
    groups: dict[tuple, list[int]] = {}
    for i, kt in enumerate(zip(*keys)):
        groups.setdefault(kt, []).append(i)
    return [
        (kt, tbl.take(pa.array(idxs, pa.int64())))
        for kt, idxs in sorted(
            groups.items(), key=lambda kv: tuple(map(str, kv[0]))
        )
    ]


def source_path(options) -> str:
    """The ``path`` option as a plain local path (``metacat.plain_path``).
    Imported here, on the driver: a task that unpickles a reader never
    loads the catalog module."""
    from iceberg_metadata_pipeline_spark.catalog.metacat import plain_path

    return plain_path(options["path"])


def append_only_error(what: str, option: str = "ignoreDeletes") -> ValueError:
    """The refusal every tailing source raises when its range holds a
    delete, overwrite or compaction: skipping it silently would turn the
    stream into an at-least-once-with-phantoms feed."""
    return ValueError(
        f"{what}; this source tails APPENDS — pass .option('{option}',"
        "'true') to skip them, or re-process the table as a batch"
    )


class TailingStreamReader(DataSourceStreamReader):
    """Micro-batch reader over a log of immutable units (a commit,
    instant, metadata version, snapshot, file or shard). The offset is
    ``{OFFSET: <last unit consumed>}``.

    ``_pos`` is the engine-confirmed position: the ``end`` of the last
    ``partitions()``/``commit()`` call. The engine writes a batch's
    ``end`` to its offset log before it plans the batch, and it asks
    ``latestOffset`` for batch N+1 before it commits batch N, so the
    last planned ``end`` — not the ``start`` — is where the next batch
    begins. ``latestOffset`` takes whole units after ``_pos`` until their
    weight reaches the ``LIMIT_OPTION`` limit (a unit is never split).
    While ``_pos`` is None (a fresh reader that has not yet seen the
    engine's checkpointed position) the batch is unthrottled: a cap
    counted from the initial offset could land behind the checkpoint and
    regress the offset log. A format that wants a capped cold start seeds
    ``_pos`` itself."""

    OFFSET: str
    INITIAL = None
    LIMIT_OPTION: str | None = None
    DELETES_OPTION = "ignoreDeletes"

    def __init__(self, options):
        self.ignore_deletes = (
            str(options.get(self.DELETES_OPTION, "false")).lower() == "true"
        )
        limit = int(options.get(self.LIMIT_OPTION, 0) or 0) if self.LIMIT_OPTION else 0
        self._limit = limit if limit > 0 else None
        self._initial = self.INITIAL
        self._pos = None

    def _backlog(self, pos) -> list:
        """Offsets of the units after ``pos`` (None: from the start),
        oldest first."""
        raise NotImplementedError

    def _weight(self, offset) -> int:
        """How much of the limit one unit uses (files, write stats)."""
        return 1

    def _added(self, lo, hi) -> list:
        """The input partitions of the units in (lo, hi]."""
        raise NotImplementedError

    def _refuse_deletes(self, what: str) -> None:
        if not self.ignore_deletes:
            raise append_only_error(what, self.DELETES_OPTION)

    def initialOffset(self) -> dict:
        return {self.OFFSET: self._initial}

    def latestOffset(self) -> dict:
        units = self._backlog(self._pos)
        if not units:
            return {self.OFFSET: self._initial if self._pos is None else self._pos}
        if self._limit is None or self._pos is None:
            return {self.OFFSET: units[-1]}
        taken = 0
        for end in units:
            taken += self._weight(end)
            if taken >= self._limit:
                break
        return {self.OFFSET: end}

    def partitions(self, start: dict, end: dict):
        self._pos = end[self.OFFSET]
        return self._added(start[self.OFFSET], end[self.OFFSET])

    def commit(self, end: dict) -> None:
        self._pos = end[self.OFFSET]


@dataclass
class StagedFiles(WriterCommitMessage):
    """What one write task staged: ``(tmp_path, rows, size, key)`` per
    file, ``key`` being the format's rendering of the file's partition
    value (``_file_key``)."""

    files: tuple = ()


def staged_files(messages) -> list[tuple]:
    """Every task's staged files, flattened in a deterministic order."""
    return sorted(
        f for m in messages if m is not None for f in (getattr(m, "files", ()) or ())
    )


class StagedArrowWriter(DataSourceArrowWriter):
    """Two-phase Arrow writer shared by the batch and stream sinks. A
    stream writer subclasses its batch writer and
    ``DataSourceStreamArrowWriter``; the engine then calls
    ``commit(messages, batchId)`` and ``abort(messages, batchId)``, and
    a batch whose id is at or below the format's durable
    ``_last_epoch()`` — a replay after a crash between the commit and
    the checkpoint — is dropped instead of committed twice.

    A format sets ``stage_dir`` and ``part_cols`` and implements
    ``_commit(staged, epoch)``: publish the staged files (epoch None for
    a batch write, else the batch id to record with them)."""

    WRITER = "writer"  # names the writer in refusals
    SUFFIX = ".parquet"
    part_cols: list = []
    stage_dir: str

    def __init__(self, schema, overwrite: bool = False):
        self.schema = schema
        self.overwrite = overwrite

    def _partition_by(self, options) -> list[str]:
        """``option("partitionBy", "c1,c2")`` for a table this write creates."""
        raw = options.get("partitionBy", "") or ""
        cols = [c.strip() for c in raw.split(",") if c.strip()]
        missing = [c for c in cols if c not in self.schema.fieldNames()]
        if missing:
            raise ValueError(
                f"{self.WRITER}: partitionBy columns {missing} not in schema"
            )
        return cols

    def _check_schema(self, table_schema) -> None:
        """Refuse a dataframe whose columns differ from the table's."""
        if [(f.name, f.dataType) for f in table_schema.fields] != [
            (f.name, f.dataType) for f in self.schema.fields
        ]:
            raise ValueError(
                f"{self.WRITER}: dataframe schema does not match the table "
                f"({table_schema.simpleString()}) — evolve the table first "
                "or align the dataframe"
            )

    def _arrow_schema(self):
        import pyarrow as pa

        from iceberg_metadata_pipeline_spark.ingest.arrow_types import (
            arrow_fields,
        )

        # explicit: inference would type an all-null task's column as null
        return pa.schema(arrow_fields(self.schema, writer=self.WRITER))

    def _write_file(self, table, tmp: str) -> None:
        import pyarrow.parquet as pq

        pq.write_table(table, tmp)

    def _file_key(self, values: tuple):
        return None

    def write(self, iterator):
        """Task side: one staged file per partition value; an empty task
        stages nothing."""
        files = []
        for key, table in grouped_arrow_tables(
            iterator, self._arrow_schema(), self.part_cols
        ):
            os.makedirs(self.stage_dir, exist_ok=True)
            tmp = os.path.join(self.stage_dir, f"_tmp-{uuid.uuid4().hex}{self.SUFFIX}")
            self._write_file(table, tmp)
            files.append(
                (tmp, table.num_rows, os.path.getsize(tmp), self._file_key(key))
            )
        return StagedFiles(files=tuple(files))

    def _last_epoch(self) -> int:
        return -1

    def _commit(self, staged: list[tuple], epoch: int | None) -> None:
        raise NotImplementedError

    def commit(self, messages, batchId: int | None = None) -> None:  # noqa: N803
        if batchId is not None and int(batchId) <= self._last_epoch():
            self.abort(messages)  # epoch already committed: drop the replay
            return
        self._commit(staged_files(messages), None if batchId is None else int(batchId))

    def abort(self, messages, batchId: int | None = None) -> None:  # noqa: N803
        for tmp, *_rest in staged_files(messages):
            if os.path.exists(tmp):
                os.remove(tmp)


class FormatDataSource(DataSource):
    """A format's DataSource: ``FORMAT`` names it; the factories build
    ``READER(options)``, ``STREAM_READER(schema, options)``,
    ``WRITER(schema, options, overwrite)`` and
    ``STREAM_WRITER(schema, options, overwrite)``. A missing class keeps
    pyspark's not-implemented refusal."""

    FORMAT: str
    READER = STREAM_READER = WRITER = STREAM_WRITER = None

    @classmethod
    def name(cls) -> str:
        return cls.FORMAT

    @classmethod
    def register(cls, spark) -> None:
        """Idempotent format registration (latest registration wins)."""
        spark.dataSource.register(cls)

    def reader(self, schema):
        if self.READER is None:
            return super().reader(schema)
        return self.READER(self.options)

    def streamReader(self, schema):
        if self.STREAM_READER is None:
            return super().streamReader(schema)
        return self.STREAM_READER(schema, self.options)

    def writer(self, schema, overwrite: bool):
        if self.WRITER is None:
            return super().writer(schema, overwrite)
        return self.WRITER(schema, self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        if self.STREAM_WRITER is None:
            return super().streamWriter(schema, overwrite)
        return self.STREAM_WRITER(schema, self.options, overwrite)
