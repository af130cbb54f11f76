"""pydelta Python DataSource (ingest/pydelta_source.py): batch read of
a Delta snapshot (partition columns reconstructed from the log — they
are NOT in the data files), versionAsOf time travel, streaming tail of
the commit log, and the remove-action refusal."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_metadata_pipeline_spark.catalog.delta_format import (
    export_delta_table,
    write_commit,
)
from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField
from iceberg_metadata_pipeline_spark.ingest.pydelta_source import register


@pytest.fixture()
def delta_dir(spark, tmp_path):
    """A partitioned metacat table exported to a Delta log, twice (the
    second export is the incremental commit)."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    st = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("cat", T.StringType(), True),
        ]
    )
    t = catalog.create_table("nyc", "src", st)
    t.set_partition_spec([PartitionField("cat", "identity")])
    t = t.refresh()
    t.append_dataframe(
        spark.sql("SELECT id, IF(id % 2 = 0, 'even', 'odd') AS cat FROM RANGE(10)")
    )
    t = t.refresh()
    dest = str(tmp_path / "delta")
    export_delta_table(t, dest)
    t.append_dataframe(
        spark.sql("SELECT id, 'late' AS cat FROM RANGE(10, 13)")
    )
    export_delta_table(t.refresh(), dest)
    return dest


def test_batch_read_reconstructs_partitions(spark, delta_dir):
    register(spark)
    df = spark.read.format("pydelta").load(delta_dir)
    assert set(df.columns) == {"id", "cat"}
    rows = {(r["id"], r["cat"]) for r in df.collect()}
    expect = {(i, "even" if i % 2 == 0 else "odd") for i in range(10)} | {
        (i, "late") for i in range(10, 13)
    }
    assert rows == expect


def test_version_as_of(spark, delta_dir):
    register(spark)
    df0 = spark.read.format("pydelta").option("versionAsOf", "0").load(delta_dir)
    assert df0.count() == 10
    assert spark.read.format("pydelta").load(delta_dir).count() == 13


def test_stream_tails_commits(spark, delta_dir, tmp_path):
    register(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("pydelta")
        .load(delta_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 13
    # a third commit lands; resuming the stream reads ONLY the new adds
    sub = spark.createDataFrame([(99, "new")], "id long, cat string")
    d = tempfile.mkdtemp(prefix="late-")
    sub.coalesce(1).write.mode("overwrite").parquet(d)
    f = next(
        os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
    )
    write_commit(
        delta_dir,
        [
            {
                "add": {
                    "path": f,
                    "partitionValues": {"cat": "new"},
                    "size": os.path.getsize(f),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": '{"numRecords": 1}',
                }
            }
        ],
    )
    q = (
        spark.readStream.format("pydelta")
        .load(delta_dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    df = spark.read.parquet(out)
    assert df.count() == 14
    assert df.where(F.col("cat") == "new").count() == 1


def test_stream_refuses_removes_without_option(spark, delta_dir, tmp_path):
    register(spark)
    write_commit(
        delta_dir,
        [{"remove": {"path": "gone.parquet", "deletionTimestamp": 1,
                     "dataChange": True}}],
    )
    q = (
        spark.readStream.format("pydelta")
        .load(delta_dir)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ignoreDeletes"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    # with the option, the remove is skipped and the stream drains fine
    q2 = (
        spark.readStream.format("pydelta")
        .option("ignoreDeletes", "true")
        .load(delta_dir)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert q2.exception() is None


def test_writer_round_trip_append_overwrite(spark, tmp_path):
    register(spark)
    dest = str(tmp_path / "written")
    df = spark.range(6).selectExpr(
        "id", "CAST(id AS DOUBLE) / 2 AS half", "IF(id % 2 = 0, 'e', NULL) AS tag"
    )
    df.repartition(3).write.format("pydelta").mode("append").save(dest)
    back = spark.read.format("pydelta").load(dest)
    assert back.count() == 6
    assert dict(back.dtypes)["half"] == "double"
    # append accumulates a second commit
    df.limit(2).write.format("pydelta").mode("append").save(dest)
    assert spark.read.format("pydelta").load(dest).count() == 8
    # overwrite removes the previous live set in ONE commit
    df.limit(3).write.format("pydelta").mode("overwrite").save(dest)
    assert spark.read.format("pydelta").load(dest).count() == 3
    # older versions still time-travel
    assert (
        spark.read.format("pydelta").option("versionAsOf", "0").load(dest).count()
        == 6
    )
    # no tmp litter after commits
    assert not [n for n in os.listdir(dest) if n.startswith("_tmp-")]


def test_stream_writer_exactly_once(spark, tmp_path):
    from iceberg_metadata_pipeline_spark.catalog.delta_format import (
        read_delta_table,
    )
    from iceberg_metadata_pipeline_spark.ingest.pydelta_source import (
        PyDeltaStreamWriter,
    )

    register(spark)
    src = str(tmp_path / "src-avro")
    # source: a delta table we tail (reuse pydelta stream reader)
    spark.range(5).selectExpr("id").write.format("pydelta").mode("append").save(src)
    dest = str(tmp_path / "sink-delta")
    q = (
        spark.readStream.format("pydelta")
        .load(src)
        .writeStream.format("pydelta")
        .option("path", dest)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = read_delta_table(dest)
    assert (
        sum(json.loads(a["stats"])["numRecords"] for a in state.files.values())
        == 5
    )
    # every commit carries the txn watermark
    assert state.txns.get("pydelta-sink") == 0
    # re-delivered epoch (sink retry): same batchId commits nothing new
    import types

    w = PyDeltaStreamWriter(
        spark.read.format("pydelta").load(dest).schema,
        {"path": dest},
        False,
    )
    ghost = str(tmp_path / "ghost.parquet")
    open(ghost, "wb").write(b"x")
    fake = types.SimpleNamespace(files=((ghost, 99, 1, "{}"),))
    w.commit([fake], batchId=0)  # duplicate epoch → dropped
    state2 = read_delta_table(dest)
    assert len(state2.files) == len(state.files)
    assert not os.path.exists(ghost)  # replayed tmp cleaned up
    # a NEW epoch commits normally (the watermark advances)
    sub = spark.createDataFrame([(7,)], "id long")
    d2 = str(tmp_path / "one")
    sub.coalesce(1).write.parquet(d2)
    f2 = next(os.path.join(d2, n) for n in os.listdir(d2) if n.endswith(".parquet"))
    import shutil

    tmp2 = str(tmp_path / "epoch1.parquet")
    shutil.copy(f2, tmp2)
    w.commit(
        [types.SimpleNamespace(files=((tmp2, 1, os.path.getsize(tmp2), "{}"),))],
        batchId=1,
    )
    state3 = read_delta_table(dest)
    assert state3.txns["pydelta-sink"] == 1
    assert spark.read.format("pydelta").load(dest).count() == 6


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """pydelta admission control, mirroring pyhudi: once the engine's
    position is known, latestOffset advances at most maxFilesPerTrigger
    add-actions per batch, on whole-commit boundaries, never regressing."""
    from iceberg_metadata_pipeline_spark.ingest.pydelta_source import (
        PyDeltaStreamReader,
        register,
    )

    register(spark)
    dest = str(tmp_path / "throttle")
    st = "id long, name string"
    for k in range(4):
        spark.createDataFrame([(k, f"n{k}")], st).coalesce(1).write.format(
            "pydelta"
        ).mode("append").save(dest)

    r = PyDeltaStreamReader(None, {"path": dest, "maxFilesPerTrigger": "1"})
    assert r.latestOffset() == {"v": 3}  # first batch unthrottled (documented)
    r2 = PyDeltaStreamReader(None, {"path": dest, "maxFilesPerTrigger": "1"})
    r2.partitions({"v": -1}, {"v": 0})
    r2.commit({"v": 0})
    seen = [0]
    while True:
        e = r2.latestOffset()
        if e["v"] == seen[-1]:
            break
        assert e["v"] == seen[-1] + 1  # one single-file commit per batch
        parts = r2.partitions({"v": seen[-1]}, e)
        assert len(parts) == 1
        r2.commit(e)
        seen.append(e["v"])
    assert seen == [0, 1, 2, 3]


def test_add_column_projects_null_for_old_files(spark, tmp_path):
    """ALTER TABLE ADD COLUMN is a metadata-only commit; files written
    before the column project null for its rows — the reader must not
    crash on the absent parquet column."""
    import json as _json

    from pyspark.sql import types as T

    from iceberg_metadata_pipeline_spark.catalog.delta_format import (
        export_delta_table,
        read_delta_table,
        write_commit,
    )
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh-evo"))
    st = T.StructType([T.StructField("id", T.LongType(), False)])
    t = catalog.create_table("nyc", "evo", st).refresh()
    t.append_dataframe(spark.range(5).selectExpr("id"))
    dest = str(tmp_path / "delta-evo")
    export_delta_table(t.refresh(), dest)
    state = read_delta_table(dest)
    widened = T.StructType(
        list(state.schema.fields) + [T.StructField("tag", T.StringType(), True)]
    )
    write_commit(
        dest,
        [{"metaData": dict(state.metadata,
                           schemaString=_json.dumps(widened.jsonValue()))}],
    )
    register(spark)
    got = sorted(
        (r.id, r.tag) for r in spark.read.format("pydelta").load(dest).collect()
    )
    assert got == [(i, None) for i in range(5)]


def test_batch_writer_partitioned(spark, tmp_path):
    """Round 9: partitioned pydelta writes. Data files EXCLUDE the
    partition column (spec: values live only in partitionValues); the
    reader reattaches them; appends to an existing partitioned table
    route by the log's partitionColumns (the old writer silently
    appended empty partitionValues — those rows' partition columns read
    back null); overwrite replaces all partitions; null partition
    values round-trip as JSON null."""
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog.delta_format import (
        read_delta_table,
    )

    register(spark)
    dest = str(tmp_path / "delta_p")
    df = spark.range(12).selectExpr(
        "id",
        "CASE WHEN id % 3 = 2 THEN NULL ELSE concat('s', id % 3) END AS seg",
    )
    df.write.format("pydelta").option("partitionBy", "seg").mode(
        "append"
    ).save(dest)
    # the regression: append WITHOUT the option to the partitioned table
    spark.createDataFrame([(100, "zz")], "id long, seg string").write.format(
        "pydelta"
    ).mode("append").save(dest)

    got = sorted(
        (r.id, r.seg) for r in spark.read.format("pydelta").load(dest).collect()
    )
    exp = sorted(
        [(i, None if i % 3 == 2 else f"s{i % 3}") for i in range(12)]
        + [(100, "zz")]
    )
    assert got == exp
    state = read_delta_table(dest)
    assert state.partition_columns == ["seg"]
    segs = set()
    for p, a in state.files.items():
        fp = p if os.path.isabs(p) else os.path.join(dest, p)
        tb = pq.read_table(fp)
        assert "seg" not in tb.column_names  # spec: not in the data file
        segs.add((a.get("partitionValues") or {}).get("seg"))
    assert segs == {"s0", "s1", None, "zz"}
    # overwrite replaces every partition atomically
    spark.createDataFrame([(7, "s0")], "id long, seg string").write.format(
        "pydelta"
    ).mode("overwrite").save(dest)
    assert sorted(
        (r.id, r.seg)
        for r in spark.read.format("pydelta").load(dest).collect()
    ) == [(7, "s0")]


def test_writer_decimal_array_and_schema_check(spark, tmp_path):
    """Round 9: the shared arrow mapping serves decimal(p,s) and arrays
    of primitives through the writer, and appending a mismatched
    dataframe schema to an existing table refuses (the old writer
    silently committed mixed-schema files)."""
    register(spark)
    dest = str(tmp_path / "delta_dec")
    df = spark.createDataFrame(
        [(1, __import__("decimal").Decimal("12.34"), [1, 2, 3])],
        "id long, amount decimal(10,2), xs array<bigint>",
    )
    df.write.format("pydelta").mode("append").save(dest)
    got = spark.read.format("pydelta").load(dest).collect()
    assert got[0].amount == __import__("decimal").Decimal("12.34")
    assert list(got[0].xs) == [1, 2, 3]
    with pytest.raises(Exception, match="schema"):
        spark.range(1).selectExpr("id", "'x' AS extra").write.format(
            "pydelta"
        ).mode("append").save(dest)


def test_writer_serves_column_mapped_tables(spark, tmp_path):
    """Round 9 (closes the r6 refusal): the pydelta writer appends to
    'name'-mode column-mapped tables — data files write under PHYSICAL
    names and partitionValues key by physical name, exactly what both
    read paths map back. Zero-rewrite RENAME then append round-trips."""
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog.delta_format import (
        enable_column_mapping,
        physical_names,
        read_delta_table,
        rename_delta_column,
    )

    register(spark)
    dest = str(tmp_path / "delta_cm")
    spark.createDataFrame(
        [(1, "a", 0.5), (2, "b", 1.5)], "id long, seg string, v double"
    ).write.format("pydelta").option("partitionBy", "seg").mode(
        "append"
    ).save(dest)
    enable_column_mapping(dest)
    rename_delta_column(dest, "v", "score")

    # append THROUGH the writer with the renamed logical schema
    spark.createDataFrame(
        [(3, "a", 2.5)], "id long, seg string, score double"
    ).write.format("pydelta").mode("append").save(dest)

    got = sorted(
        tuple(r) for r in spark.read.format("pydelta").load(dest).collect()
    )
    assert got == [(1, "a", 0.5), (2, "b", 1.5), (3, "a", 2.5)]
    # the NEW data file stores physical names, not logical ones
    state = read_delta_table(dest)
    phys = physical_names(state)
    assert phys["score"] != "score"  # mapping really is indirect
    newest = max(
        state.files,
        key=lambda p: os.path.getmtime(
            p if os.path.isabs(p) else os.path.join(dest, p)
        ),
    )
    fp = newest if os.path.isabs(newest) else os.path.join(dest, newest)
    cols = set(pq.read_schema(fp).names)
    assert phys["score"] in cols and "score" not in cols
    # partitionValues of the new add key by the PHYSICAL partition name
    a = state.files[newest]
    assert set(a["partitionValues"]) == {phys["seg"]}


def test_stream_writer_partitioned_routes_per_epoch(spark, tmp_path):
    """The stream writer inherits the round-9 partitioned routing: an
    epoch's rows land in per-partition files with spec-correct
    partitionValues (partition columns EXCLUDED from the data files),
    and read back with partitions reconstructed."""
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog.delta_format import (
        read_delta_table,
    )

    register(spark)
    src = str(tmp_path / "src")
    spark.sql(
        "SELECT id, IF(id % 2 = 0, 'even', 'odd') AS cat FROM RANGE(10)"
    ).write.format("pydelta").mode("append").save(src)
    dest = str(tmp_path / "sink")
    q = (
        spark.readStream.format("pydelta")
        .load(src)
        .writeStream.format("pydelta")
        .option("path", dest)
        .option("partitionBy", "cat")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = read_delta_table(dest)
    assert state.partition_columns == ["cat"]
    pvals = {a["partitionValues"].get("cat") for a in state.files.values()}
    assert pvals == {"even", "odd"}
    for p in state.files:
        cols = pq.ParquetFile(os.path.join(dest, p)).schema_arrow.names
        assert "cat" not in cols  # spec: values live in partitionValues
    back = spark.read.format("pydelta").load(dest)
    rows = {(r["id"], r["cat"]) for r in back.collect()}
    assert rows == {(i, "even" if i % 2 == 0 else "odd") for i in range(10)}


def test_timestamp_and_decimal_partitions_round_trip(spark, tmp_path):
    """partitionValues are strings in the log; a table partitioned by a
    timestamp or a decimal reads its own typed values back (the reader
    used to hand the strings to Arrow unchanged and fail)."""
    import datetime
    from decimal import Decimal

    register(spark)
    for sql_type, values in [
        ("timestamp", [datetime.datetime(2024, 1, 2, 3, 4, 5), datetime.datetime(2024, 6, 1)]),
        ("decimal(10,2)", [Decimal("1.25"), Decimal("-3.50")]),
    ]:
        dest = str(tmp_path / sql_type.split("(")[0])
        rows = list(enumerate(values)) + [(9, None)]
        spark.createDataFrame(rows, f"id long, p {sql_type}").write.format(
            "pydelta"
        ).option("partitionBy", "p").mode("append").save(dest)
        back = spark.read.format("pydelta").load(dest)
        assert dict(back.dtypes)["p"] == sql_type
        assert sorted((r.id, r.p) for r in back.collect()) == rows


def test_workers_import_the_package_from_any_working_directory(tmp_path):
    """Spark's Python workers find the package through get_spark, not the
    caller's working directory or PYTHONPATH: a pydelta write and read
    from a foreign directory with PYTHONPATH unset."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dest = str(tmp_path / "t")
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from iceberg_metadata_pipeline_spark.ingest.pydelta_source import register
from iceberg_metadata_pipeline_spark.session import get_spark
spark = get_spark("foreign-cwd")
register(spark)
spark.range(5).write.format("pydelta").mode("append").save({dest!r})
print(sorted(r.id for r in spark.read.format("pydelta").load({dest!r}).collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.strip().splitlines()[-1] == "[0, 1, 2, 3, 4]"
