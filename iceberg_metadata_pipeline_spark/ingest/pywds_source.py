"""``pywds`` — WebDataset-style tar-shard source + distributed shard
writer.

Large-scale training corpora ship as directories of ``.tar`` shards
whose members are named ``<key>.<ext>`` (``000017.txt``,
``000017.json``, ``000017.jpg`` — the WebDataset convention: everything
up to the FIRST dot is the sample key, the rest is the extension, so
``000017.seg.png`` has ext ``seg.png``). The shard is the unit of
sequential IO and of parallelism.

Read path: ``spark.read.format("pywds").load(dir)`` plans ONE input
partition per shard — exactly the WebDataset contract (a shard is read
start-to-finish by one worker; no random access inside a tar) — and
yields one row per member: (shard, key, ext, data binary). Grouping
members into samples is a plain ``groupBy("key")`` downstream, i.e. a
Spark aggregate, not reader magic.

Write path: ``write_webdataset_shards(df, dest)`` writes one shard per
Spark partition inside ``mapInPandas`` — the tar bytes never touch the
driver; the returned DataFrame is the shard manifest (path, members,
bytes), which is also what forces the distributed write when consumed.

Scale: shards are the classic 100 TB layout precisely because each is
an independent sequential stream; planning is O(#shards) driver-side
listing and both paths move bytes only inside tasks.

Reference parity: the reference ships no archive sources; SURVEY.md
§2.H build-out for the training-data pipeline surface.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceReader, InputPartition

from iceberg_metadata_pipeline_spark.ingest.datasource_base import (
    FormatDataSource,
    TailingStreamReader,
    source_path,
)

_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("ext", T.StringType(), False),
        T.StructField("data", T.BinaryType(), True),
    ]
)


def _tar_member_batches(path: str):
    """One tar shard → Arrow record batches of (shard, key, ext, data).

    Optimization r13 (guide §4.1 "how efficiently they cross"): member
    rows used to yield as per-row pickled tuples — the binary payload
    of every member crossed the Python→JVM boundary one pickle at a
    time. Batches of up to 1024 members / ~32 MB of payload now cross
    as Arrow (one contiguous binary buffer); tar parsing itself stays
    per-member (the tarfile stream is inherently sequential)."""
    import tarfile

    import pyarrow as pa

    shard = os.path.basename(path)
    keys: list[str] = []
    exts: list[str] = []
    datas: list[bytes | None] = []
    nbytes = 0

    def flush():
        nonlocal keys, exts, datas, nbytes
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array([shard] * len(keys), pa.string()),
                pa.array(keys, pa.string()),
                pa.array(exts, pa.string()),
                pa.array(datas, pa.binary()),
            ],
            ["shard", "key", "ext", "data"],
        )
        keys, exts, datas, nbytes = [], [], [], 0
        return batch

    with tarfile.open(path, "r") as tf:
        for m in tf:
            if not m.isfile():
                continue
            base = os.path.basename(m.name)
            key, dot, ext = base.partition(".")
            if not dot:
                key, ext = base, ""
            fh = tf.extractfile(m)
            data = fh.read() if fh is not None else None
            keys.append(key)
            exts.append(ext)
            datas.append(data)
            nbytes += len(data) if data is not None else 0
            if len(keys) >= 1024 or nbytes >= (32 << 20):
                yield flush()
    if keys:
        yield flush()


@dataclass
class TarShardPartition(InputPartition):
    path: str


class PyWdsReader(DataSourceReader):
    def __init__(self, options):
        root = source_path(options)
        if os.path.isfile(root):
            self._shards = [root]
        else:
            self._shards = sorted(glob.glob(os.path.join(root, "*.tar")))
        if not self._shards:
            raise FileNotFoundError(f"pywds: no .tar shards under {root}")

    def partitions(self):
        return [TarShardPartition(p) for p in self._shards]

    def read(self, partition: TarShardPartition):
        yield from _tar_member_batches(partition.path)


class PyWdsStreamReader(TailingStreamReader):
    """Tail a GROWING shard directory: the offset is the name of the
    last consumed shard, so each micro-batch emits exactly the shards
    that appeared since — the arrival pattern of a corpus being produced
    shard-by-shard upstream. Shards are assumed immutable once present
    (the WebDataset contract: writers create under a temp name and
    rename). Lexicographic shard order IS the offset order, matching
    write_webdataset_shards' zero-padded names."""

    OFFSET, INITIAL = "last", ""
    LIMIT_OPTION = "maxShardsPerTrigger"

    def __init__(self, schema: T.StructType, options):
        super().__init__(options)
        self.root = source_path(options)

    def _shards(self) -> list[str]:
        return sorted(
            os.path.basename(p)
            for p in glob.glob(os.path.join(self.root, "*.tar"))
        )

    def _backlog(self, pos) -> list:
        return [n for n in self._shards() if pos is None or n > pos]

    def _added(self, lo: str, hi: str) -> list:
        return [
            TarShardPartition(os.path.join(self.root, n))
            for n in self._shards()
            if lo < n <= hi
        ]

    def read(self, partition: TarShardPartition):
        yield from _tar_member_batches(partition.path)


class PyWdsDataSource(FormatDataSource):
    """``spark.dataSource.register(PyWdsDataSource)`` → format name
    "pywds" for batch reads and readStream tailing of WebDataset
    tar-shard directories."""

    FORMAT = "pywds"
    READER = PyWdsReader
    STREAM_READER = PyWdsStreamReader

    def schema(self):
        return _SCHEMA


register = PyWdsDataSource.register


def write_webdataset_shards(df, dest: str, key_col: str = "key"):
    """Write ``df`` as WebDataset tar shards under ``dest`` — one shard
    per Spark partition, built INSIDE mapInPandas (no driver bytes).
    Every non-key column becomes a member ``<key>.<col>`` (string
    columns encode UTF-8, binary columns pass through). Returns the
    shard-manifest DataFrame; consuming it (collect/count) is what runs
    the distributed write. Deterministic member metadata (mtime 0,
    uid/gid 0) so identical inputs produce identical shard bytes."""
    member_cols = [c for c in df.columns if c != key_col]
    if not member_cols:
        raise ValueError("need at least one member column besides the key")
    os.makedirs(dest, exist_ok=True)

    def _write(iterator):
        import io
        import tarfile

        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(dest, f"shard-{pid:06d}.tar")
        n = 0
        with tarfile.open(path, "w") as tf:
            for pdf in iterator:
                for _, row in pdf.iterrows():
                    for col in member_cols:
                        v = row[col]
                        if v is None:
                            continue
                        data = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
                        ti = tarfile.TarInfo(f"{row[key_col]}.{col}")
                        ti.size = len(data)
                        ti.mtime = 0
                        tf.addfile(ti, io.BytesIO(bytes(data)))
                        n += 1
        yield pd.DataFrame(
            {"shard": [path], "n_members": [n], "bytes": [os.path.getsize(path)]}
        )

    return df.mapInPandas(_write, "shard string, n_members long, bytes long")


def _declare_queries() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from iceberg_metadata_pipeline_spark.queries import query
    from iceberg_metadata_pipeline_spark.session import load_tables

    @query(
        "source_webdataset_tar",
        """
SELECT ext, n, total_bytes FROM (
  SELECT 'lang' AS ext, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(strlen(lang)) AS BIGINT) AS total_bytes
  FROM documents
  UNION ALL
  SELECT 'text' AS ext, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes
  FROM documents
) ORDER BY ext
""",
    )
    def source_webdataset_tar(spark: SparkSession, sf_dir: str) -> DataFrame:
        """WebDataset round-trip: the documents fixture writes out as 4
        tar shards (two members per sample: <doc_id>.text and
        <doc_id>.lang, built inside mapInPandas — one shard per
        partition, no driver bytes), then reads back through plain
        ``spark.read.format("pywds")`` with one task per shard and
        aggregates member counts + byte totals per extension. Matching
        the fixture oracle (DuckDB strlen = UTF-8 bytes = octet_length
        of the tar member) proves both directions of the shard layout."""
        import tempfile as _tf

        docs = load_tables(spark, sf_dir)["documents"]
        dest = _tf.mkdtemp(prefix="wds-")
        manifest = write_webdataset_shards(
            docs.selectExpr("CAST(doc_id AS STRING) AS key", "text", "lang")
            .repartition(4),
            dest,
        )
        assert manifest.count() == 4  # materializes the write
        register(spark)
        back = spark.read.format("pywds").load(dest)
        return (
            back.groupBy("ext")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.expr("octet_length(data)")).cast("bigint").alias("total_bytes"),
            )
            .orderBy("ext")
        )


_declare_queries()
