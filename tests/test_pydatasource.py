"""The `pyavro` Python DataSource (Spark 4 API, ingest/pydatasource.py):
batch read with per-file split planning and filter pushdown, two-phase
commit batch writes, append numbering, and the streaming reader/writer
pair (offset resume across restarts)."""

from __future__ import annotations

import glob
import os

import pytest

from iceberg_metadata_pipeline_spark.ingest import pydatasource


@pytest.fixture(scope="module")
def registered(spark):
    pydatasource.register(spark)
    return spark


def _typed_df(spark, n=60):
    return spark.sql(
        f"""
        SELECT id, CONCAT('name', id) AS s, CAST(id * 1.5 AS DOUBLE) AS d,
          DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS dt,
          TIMESTAMP'2024-06-15 12:30:45.123456'
            + MAKE_INTERVAL(0,0,0,0,0,0,id) AS ts,
          IF(id % 3 = 0, NULL, id * 2) AS nullable_n
        FROM RANGE({n})
        """
    )


def test_batch_round_trip_all_types(registered, tmp_path):
    spark = registered
    df = _typed_df(spark)
    loc = str(tmp_path / "rt")
    df.repartition(4).write.format("pyavro").mode("append").save(loc)
    back = spark.read.format("pyavro").load(loc)
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_one_partition_per_file(registered, tmp_path):
    spark = registered
    loc = str(tmp_path / "parts")
    _typed_df(spark).repartition(5).write.format("pyavro").mode("append").save(loc)
    assert len(glob.glob(loc + "/part-*.avro")) == 5
    assert spark.read.format("pyavro").load(loc).rdd.getNumPartitions() == 5


def test_filter_pushdown_applied_and_correct(registered, tmp_path):
    """Pushed EqualTo/GreaterThan/IsNotNull filter inside the source;
    an unsupported filter (endswith) is left for Spark — results must be
    identical to the unfiltered-scan + post-filter reference either way."""
    spark = registered
    df = _typed_df(spark)
    loc = str(tmp_path / "pd")
    df.repartition(3).write.format("pyavro").mode("append").save(loc)
    scan = spark.read.format("pyavro").load(loc)

    pushed = scan.where("id > 40 AND nullable_n IS NOT NULL")
    expect = [r for r in df.collect() if r.id > 40 and r.nullable_n is not None]
    assert sorted(pushed.collect()) == sorted(expect)

    mixed = scan.where("id > 40 AND s LIKE '%5'")
    expect2 = [r for r in df.collect() if r.id > 40 and r.s.endswith("5")]
    assert sorted(mixed.collect()) == sorted(expect2)

    isin = scan.where("id IN (1, 7, 59)")
    assert sorted(r.id for r in isin.collect()) == [1, 7, 59]


def test_overwrite_and_append_numbering(registered, tmp_path):
    """Append must continue part numbering (not clobber part-00000);
    overwrite must clear prior parts; no _tmp files survive a commit."""
    spark = registered
    loc = str(tmp_path / "modes")
    first = spark.range(10).selectExpr("id", "CONCAT('a', id) AS s")
    first.repartition(2).write.format("pyavro").mode("append").save(loc)
    second = spark.range(100, 105).selectExpr("id", "CONCAT('b', id) AS s")
    second.repartition(1).write.format("pyavro").mode("append").save(loc)
    assert len(glob.glob(loc + "/part-*.avro")) == 3
    back = spark.read.format("pyavro").load(loc)
    assert back.count() == 15
    assert sorted(r.id for r in back.collect()) == list(range(10)) + list(
        range(100, 105)
    )

    second.repartition(1).write.format("pyavro").mode("overwrite").save(loc)
    assert len(glob.glob(loc + "/part-*.avro")) == 1
    assert spark.read.format("pyavro").load(loc).count() == 5
    assert glob.glob(loc + "/_tmp*") == []


def test_schema_inference_errors_on_empty_dir(registered, tmp_path):
    spark = registered
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(Exception, match="cannot infer schema|no .avro files"):
        spark.read.format("pyavro").load(empty).collect()


def test_stream_read_write_and_resume(registered, tmp_path):
    """readStream tails an append-only pyavro directory with file-count
    offsets; writeStream publishes per-epoch files; a restarted query
    resumes from the checkpoint (no reprocessing, no loss)."""
    spark = registered
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.range(10).selectExpr("id", "CONCAT('a', id) AS s").repartition(
        2
    ).write.format("pyavro").mode("append").save(src)

    def run_once():
        q = (
            spark.readStream.format("pyavro")
            .schema("id BIGINT, s STRING")
            .load(src)
            .writeStream.format("pyavro")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    r1 = spark.read.format("pyavro").load(out)
    assert r1.count() == 10

    # append two more source files, restart from the same checkpoint
    spark.range(10, 15).selectExpr("id", "CONCAT('b', id) AS s").repartition(
        1
    ).write.format("pyavro").mode("append").save(src)
    spark.range(15, 18).selectExpr("id", "CONCAT('c', id) AS s").repartition(
        1
    ).write.format("pyavro").mode("append").save(src)
    run_once()

    back = spark.read.format("pyavro").load(out)
    assert sorted(r.id for r in back.collect()) == list(range(18))
    # exactly-once: 18 distinct ids, no duplicates from re-reading epoch 1
    assert back.count() == 18
    # stream writer epoch files are sort-monotone (readable as a stream)
    names = sorted(os.path.basename(p) for p in glob.glob(out + "/part-*.avro"))
    assert names == sorted(names)
    assert glob.glob(out + "/_tmp*") == []


def test_stream_refuses_drifted_file_type(registered, tmp_path):
    """The stream reader checks every file against the declared schema,
    as the batch reader checks against the first file: a second file
    with the same column names but a drifted type fails the query
    instead of yielding the file's own types."""
    spark = registered
    src = str(tmp_path / "src")
    spark.range(3).selectExpr("id", "CONCAT('a', id) AS s").repartition(
        1
    ).write.format("pyavro").mode("append").save(src)
    spark.range(3, 6).selectExpr(
        "CAST(id AS INT) AS id", "CONCAT('b', id) AS s"
    ).repartition(1).write.format("pyavro").mode("append").save(src)
    assert len(glob.glob(src + "/part-*.avro")) == 2
    q = (
        spark.readStream.format("pyavro")
        .schema("id BIGINT, s STRING")
        .load(src)
        .writeStream.format("pyavro")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="schema mismatch"):
        q.awaitTermination(120)


def test_sql_using_pyavro(registered, tmp_path):
    """The format name also works from SQL (CREATE TABLE ... USING)."""
    spark = registered
    loc = str(tmp_path / "sqltbl")
    spark.range(7).selectExpr("id", "id * 10 AS v").repartition(1).write.format(
        "pyavro"
    ).mode("append").save(loc)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW pyavro_v USING pyavro OPTIONS (path '{loc}')"
    )
    assert spark.sql("SELECT SUM(v) AS s FROM pyavro_v").collect()[0].s == 210


def test_empty_write_tasks_stage_no_file(registered, tmp_path):
    """A task that receives no rows writes nothing: a 1-row frame spread
    over 8 partitions publishes exactly one part file, not seven empty
    ones beside it."""
    spark = registered
    loc = str(tmp_path / "one")
    spark.range(1).repartition(8).write.format("pyavro").mode("append").save(loc)
    assert len(glob.glob(loc + "/part-*.avro")) == 1
    assert [r.id for r in spark.read.format("pyavro").load(loc).collect()] == [0]
