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
- :class:`ScanTask` + :class:`FileScanReader` — the one scan core of the
  lakehouse readers (``pyice``, ``pyrest``, ``pydelta``, ``pyhudi``). A
  format only plans tasks: the data file, the values of the columns the
  file does not hold, and the delete descriptors that apply to it (the
  sequence rules are settled at planning). ``read(task)`` owns the
  ``iter_batches`` loop, the fills, one keep mask and the cast to the
  Arrow schema Spark targets, so the Python↔JVM boundary stays columnar.
  A format hooks in through ``_open`` (where the rows come from),
  ``_resolve`` (which file column serves each logical column) and
  ``_row_filter`` (a format-level row predicate).

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

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamReader,
    InputPartition,
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


# --- the scan core -----------------------------------------------------------


def spark_to_arrow_schema(schema):
    """The Arrow schema Spark itself targets for ``schema``: batches cast
    to it cross to the JVM with no row conversion (IntegerType stays
    int32, TimestampType is ``timestamp('us', 'UTC')`` under the
    session's pinned UTC zone)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


def coerce_literal(value, dtype: T.DataType):
    """A metadata literal — a Delta ``partitionValues`` string, an Iceberg
    initial-default JSON value — → the Python value a column of Spark
    type ``dtype`` holds. None stays None."""
    import datetime as _dt
    from decimal import Decimal

    if value is None:
        return None
    if isinstance(dtype, T.BooleanType):
        return value if isinstance(value, bool) else str(value).lower() == "true"
    if isinstance(dtype, T.IntegralType):
        return int(value)
    if isinstance(dtype, T.DecimalType):
        return Decimal(str(value))
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(dtype, T.DateType):
        return _dt.date.fromisoformat(str(value))
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return _dt.datetime.fromisoformat(str(value))
    return str(value)


@dataclass
class ScanTask(InputPartition):
    """One unit of a file scan: the data file and what the task adds to
    or removes from its rows. It stays O(#delete files) in size: delete
    files decode in the task, never on the driver, and a descriptor is
    here only if the format's sequence rules let it apply to this file.

    - ``fills``: ``((column, value), ...)`` for columns the file does not
      hold (a partition value, an initial default); other columns the
      file lacks read as null.
    - ``positions``: dead file positions shipped inline.
    - ``pos_files``: position-delete descriptors ``(kind, path, offset,
      size)``: ``parquet`` (``file_path``/``pos`` rows, for any data
      file), ``puffin`` (Iceberg deletion-vector blobs at ``offset``) or
      ``dv`` (one Delta deletion vector at ``offset``/``size``).
    - ``eq_files``: equality deletes ``(columns, path)``: a row whose
      ``columns`` tuple appears in the file is dead (null-safe).
    - ``residual``: a pyrest row predicate (Iceberg REST expression JSON).
    - ``logs``: Hudi log files ``(path, instant)`` (pyhudi_source).
    """

    path: str
    fills: tuple = ()
    positions: tuple = ()
    pos_files: tuple = ()
    eq_files: tuple = ()
    residual: str = ""
    logs: tuple = ()


def _positions_for_file(delete_table, me: str, plain_path):
    """The ``pos`` values of a ``(file_path, pos)`` delete table that name
    data file ``me``. Distinct paths normalize once — there are
    O(#data files) of them, not O(#deleted rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fps = delete_table.column("file_path")
    mine = [
        v for v in pc.unique(fps).to_pylist() if v is not None and plain_path(v) == me
    ]
    if not mine:
        return []
    mask = pc.is_in(fps, value_set=pa.array(mine))
    return delete_table.filter(mask).column("pos").to_numpy()


def _dead_positions(task: ScanTask):
    """Every dead position of the task's file → one sorted, deduplicated
    int64 array (None: no row is dead)."""
    import numpy as np

    parts = [task.positions]
    me = None
    for kind, path, offset, size in task.pos_files:
        if kind == "dv":
            from iceberg_metadata_pipeline_spark.catalog.delta_format import (
                read_dv_from_file,
            )

            parts.append(read_dv_from_file(path, offset, size))
            continue
        from iceberg_metadata_pipeline_spark.catalog.metacat import plain_path

        me = me or plain_path(task.path)
        if kind == "puffin":
            from iceberg_metadata_pipeline_spark.catalog.puffin import (
                read_deletion_vectors,
            )

            parts += [p for ref, p in read_deletion_vectors(path, offset) if plain_path(ref) == me]
        else:
            import pyarrow.parquet as pq

            deletes = pq.read_table(path, columns=["file_path", "pos"])
            parts.append(_positions_for_file(deletes, me, plain_path))
    arrays = [np.asarray(p, dtype=np.int64) for p in parts if len(p)]
    return np.unique(np.concatenate(arrays)) if arrays else None


def _equality_probes(task: ScanTask) -> list:
    """``[(columns, set of key tuples)]``, one per equality-delete file."""
    import pyarrow.parquet as pq

    probes = []
    for cols, path in task.eq_files:
        t = pq.read_table(path, columns=list(cols))
        probes.append((cols, set(zip(*(t.column(c).to_pylist() for c in cols)))))
    return probes


def _position_mask(start: int, n: int, dead):
    """KEEP mask for file rows ``[start, start + n)``; None when no dead
    position falls in range (an all-alive batch pays two binary
    searches)."""
    import numpy as np

    if dead is None:
        return None
    lo, hi = np.searchsorted(dead, [start, start + n])
    if lo == hi:
        return None
    mask = np.ones(n, dtype=bool)
    mask[dead[lo:hi] - start] = False
    return mask


def _equality_mask(arrays: dict, n: int, probes):
    """KEEP mask against the equality probes. Only key columns become
    Python values; null-safe equality is tuple membership, where
    ``(None,) == (None,)``."""
    import numpy as np

    mask = None
    for cols, probe in probes:
        if probe:
            keys = zip(*(arrays[c].to_pylist() for c in cols))
            hit = np.fromiter((k in probe for k in keys), dtype=bool, count=n)
            mask = _and(mask, ~hit)
    return mask


def _and(a, b):
    """AND two keep masks, None meaning all rows."""
    if a is None:
        return b
    return a if b is None else a & b


def _fill(value, n: int, pa_type):
    """``n`` copies of one value (null when None), built in O(1)."""
    import pyarrow as pa

    if value is None:
        return pa.nulls(n, pa_type)
    return pa.repeat(pa.scalar(value, type=pa_type), n)


class FileScanReader:
    """``read(task)`` for the lakehouse readers. A batch reader mixes it
    into ``DataSourceReader``, a stream reader into
    :class:`TailingStreamReader`; ``schema`` is the Spark schema the rows
    leave in. A format overrides only its hooks."""

    schema: T.StructType

    def _open(self, task: ScanTask):
        """``(arrow schema, columns → batch iterator)`` over the task's rows
        in file shape, positions counting from the file's first row; None
        when the task reads nothing (an empty table's sentinel)."""
        if not task.path:
            return None
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(task.path)
        return pf.schema_arrow, lambda cols: pf.iter_batches(columns=cols)

    def _resolve(self, task: ScanTask, file_schema) -> dict:
        """Logical column → ``(file column, convert)`` for every column the
        file serves; ``convert(column, arrow_type)`` (None: as read)
        brings a column to its logical shape. By name unless a format
        maps names."""
        have = set(file_schema.names)
        return {n: (n, None) for n in self.schema.names if n in have}

    def _row_filter(self, task: ScanTask, batch):
        """A format's own row predicate over the cast batch: a numpy KEEP
        mask, or None."""
        return None

    def read(self, task: ScanTask):
        import pyarrow as pa

        opened = self._open(task)
        if opened is None:
            return
        file_schema, batches = opened
        source = self._resolve(task, file_schema)
        target = spark_to_arrow_schema(self.schema)
        fills = dict(task.fills)
        dead = _dead_positions(task)
        probes = _equality_probes(task)
        pos = 0
        for batch in batches(list(dict.fromkeys(c for c, _conv in source.values()))):
            n = batch.num_rows
            got = dict(zip(batch.schema.names, batch.columns))
            arrays = {}
            for f in target:
                if f.name not in source:
                    arrays[f.name] = _fill(fills.get(f.name), n, f.type)
                    continue
                col, convert = source[f.name]
                arrays[f.name] = got[col] if convert is None else convert(got[col], f.type)
            keep = _and(_position_mask(pos, n, dead), _equality_mask(arrays, n, probes))
            pos += n
            out = pa.RecordBatch.from_arrays(list(arrays.values()), names=target.names)
            out = out.cast(target)
            keep = _and(keep, self._row_filter(task, out))
            if keep is not None:
                out = out.filter(pa.array(keep))
            if out.num_rows:
                yield out
