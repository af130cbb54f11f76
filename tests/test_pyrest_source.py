"""pyrest Python DataSource: reads planned by the REST catalog's scan
verb (residual filters, merge-on-read deletes, paged plans), the append
writer over REST commitTable, and the append-tailing stream reader."""

from __future__ import annotations

import json
import urllib.request

import pytest

from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
from iceberg_metadata_pipeline_spark.serving.rest_catalog import (
    RestCatalogServer,
)


@pytest.fixture()
def server(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    srv = RestCatalogServer(catalog, str(tmp_path / "mirror")).start()
    yield catalog, srv, f"http://127.0.0.1:{srv.port}"
    srv.stop()


def _req(url: str, method: str = "GET", body: dict | None = None):
    data = None if body is None else json.dumps(body).encode()
    r = urllib.request.Request(url, data=data, method=method)
    if data:
        r.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(r) as resp:
        raw = resp.read()
        return resp.status, json.loads(raw) if raw else None


def test_pyrest_residual_filter_applies_without_user_filter(
    spark, server, tmp_path
):
    """option('filter', ...) alone returns exactly the filtered rows:
    the server echoes the expression as each task's residual-filter and
    the reader re-applies it row-level (r11 ADVICE: the old doc claimed
    Spark would re-filter, which only held if the caller repeated the
    predicate). The predicate here cuts MID-file, so file-level pruning
    alone cannot produce the right answer."""
    from iceberg_metadata_pipeline_spark.ingest.pyrest_source import register

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["r12"]})
    t = catalog.create_table(
        "r12",
        "resid",
        spark.range(10).selectExpr("id", "id % 3 AS m").schema,
    )
    t.append_dataframe(
        spark.range(10).selectExpr("id", "id % 3 AS m").coalesce(1)
    )
    register(spark)
    flt = json.dumps(
        {
            "type": "and",
            "left": {"type": "gt-eq", "term": "id", "value": 3},
            "right": {"type": "not-eq", "term": "m", "value": 0},
        }
    )
    got = (
        spark.read.format("pyrest")
        .option("url", base)
        .option("filter", flt)
        .load("r12.resid")
    )
    assert sorted(r.id for r in got.collect()) == [
        i for i in range(3, 10) if i % 3 != 0
    ]
    # IN + NOT + null three-valued semantics
    flt2 = json.dumps(
        {"type": "not", "child": {"type": "in", "term": "id", "values": [1, 4]}}
    )
    got2 = (
        spark.read.format("pyrest")
        .option("url", base)
        .option("filter", flt2)
        .load("r12.resid")
    )
    assert sorted(r.id for r in got2.collect()) == [
        i for i in range(10) if i not in (1, 4)
    ]


def test_pyrest_residual_with_deletes_composes(spark, server, tmp_path):
    """Residual filter and MOR position deletes compose in one task
    pass: the delete mask and the filter mask AND together."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.ingest.pyrest_source import register

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["r12b"]})
    t = catalog.create_table(
        "r12b", "rd", spark.range(8).selectExpr("id").schema
    )
    t.append_dataframe(spark.range(8).selectExpr("id").coalesce(1))
    f = sorted(x.path for x in t.snapshot_files())[0]
    victim_pos = 5  # row at position 5 → id 5 in a single coalesced file
    dp = str(tmp_path / "d.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([f], pa.string()),
                "pos": pa.array([victim_pos], pa.int64()),
            }
        ),
        dp,
    )
    t.add_position_delete_files([dp])
    register(spark)
    flt = json.dumps({"type": "gt-eq", "term": "id", "value": 4})
    got = (
        spark.read.format("pyrest")
        .option("url", base)
        .option("filter", flt)
        .load("r12b.rd")
    )
    assert sorted(r.id for r in got.collect()) == [4, 6, 7]


def test_pyrest_paged_read_matches_unpaged(spark, server):
    """pyrest with pageSize walks fetchScanTasks transparently and
    returns the identical frame."""
    from iceberg_metadata_pipeline_spark.ingest.pyrest_source import register

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["pg3"]})
    t = catalog.create_table(
        "pg3", "t", spark.range(1).selectExpr("id").schema
    )
    for lo in range(0, 40, 10):
        t.append_dataframe(
            spark.range(lo, lo + 10).selectExpr("id").coalesce(1)
        )
    register(spark)
    paged = (
        spark.read.format("pyrest")
        .option("url", base)
        .option("pageSize", "1")
        .load("pg3.t")
    )
    assert sorted(r.id for r in paged.collect()) == list(range(40))


def test_pyrest_writer_stacks_and_handles_replay(spark, server):
    """pyrest writer end-to-end at the unit level: two appends STACK
    (the second posts against the ref the first moved — this is the
    thin-client second-commit case that used to 409-loop because the
    mirror serves its own snapshot ids; _served_sid now accepts the
    id loadTable actually served), a stale replay of an old commit
    body 409s, and overwrite/partitioned refuse loudly."""
    import urllib.error

    from iceberg_metadata_pipeline_spark.ingest.pyrest_source import register

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["wr"]})
    df = spark.range(10).selectExpr("id", "CAST(id * 2.5 AS DOUBLE) AS v")
    catalog.create_table("wr", "t", df.schema)
    register(spark)

    df.where("id < 5").write.format("pyrest").option("url", base).mode(
        "append"
    ).save("wr.t")
    df.where("id >= 5").write.format("pyrest").option("url", base).mode(
        "append"
    ).save("wr.t")
    back = spark.read.format("pyrest").option("url", base).load("wr.t")
    assert sorted(r.id for r in back.collect()) == list(range(10))

    # stale replay: re-posting a commit with the OLD served ref id 409s
    code, loaded = _req(f"{base}/v1/namespaces/wr/tables/t")
    stale_sid = loaded["metadata"]["current-snapshot-id"]
    df.limit(1).write.format("pyrest").option("url", base).mode(
        "append"
    ).save("wr.t")  # moves the ref
    try:
        _req(
            f"{base}/v1/namespaces/wr/tables/t",
            "POST",
            {
                "requirements": [
                    {
                        "type": "assert-ref-snapshot-id",
                        "ref": "main",
                        "snapshot-id": 424242,  # neither metacat nor served
                    }
                ],
                "updates": [],
            },
        )
        raise AssertionError("stale ref should 409")
    except urllib.error.HTTPError as e:
        assert e.code == 409

    # refusals
    with pytest.raises(Exception, match="append only"):
        df.write.format("pyrest").option("url", base).mode(
            "overwrite"
        ).save("wr.t")
    with pytest.raises(Exception, match="does not match the table"):
        spark.range(3).selectExpr("id AS other").write.format(
            "pyrest"
        ).option("url", base).mode("append").save("wr.t")


def test_pyrest_stream_tails_appends_and_refuses_removals(spark, server):
    """The pyrest STREAM tailer: offsets are served snapshot ids, each
    batch plans both ends server-side and emits only the files the
    range added; a range that removes files refuses loudly unless
    ignoreDeletes. Also pins the served-id time travel the tailer
    rides on (incremental mirror ids resolve via the
    metacat-snapshot-id summary mapping)."""
    import tempfile

    from iceberg_metadata_pipeline_spark.ingest.pyrest_source import register

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["st"]})
    df = spark.range(6).selectExpr("id")
    t = catalog.create_table("st", "tail", df.schema)
    t.append_dataframe(df.where("id < 3").coalesce(1))
    # loadTable between commits → the mirror history is incremental
    _req(f"{base}/v1/namespaces/st/tables/tail")
    t.append_dataframe(df.where("id >= 3").coalesce(1))
    register(spark)

    out = tempfile.mkdtemp(prefix="pyrest-tail-") + "/sink"
    q = (
        spark.readStream.format("pyrest")
        .option("url", base)
        .option("table", "st.tail")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="pyrest-ck-"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(
        range(6)
    )

    # a compaction between offsets removes files → the next drain refuses
    t.rewrite_data_files()
    ck2 = tempfile.mkdtemp(prefix="pyrest-ck2-")
    out2 = tempfile.mkdtemp(prefix="pyrest-tail2-") + "/sink"
    first = (
        spark.readStream.format("pyrest")
        .option("url", base)
        .option("table", "st.tail")
        .load()
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    first.awaitTermination(120)  # baseline drain of the compacted state
    t.append_dataframe(spark.range(10, 12).selectExpr("id").coalesce(1))
    t.rewrite_data_files()  # removes files relative to the checkpoint
    resumed = (
        spark.readStream.format("pyrest")
        .option("url", base)
        .option("table", "st.tail")
        .load()
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="tails APPENDS"):
        resumed.awaitTermination(120)


def test_pyrest_writer_partitioned_identity(spark, server):
    """Round-12 continuation: the pyrest writer routes IDENTITY
    partition tuples — tasks split rows by the source columns (string
    + date here, covering the typed manifest encodings), the posted
    manifest carries spec-typed r102 values, and the server's scan
    planning prunes the appended files by partition exactly like
    warehouse-written ones. Non-identity transforms still refuse."""
    import json as _json

    from pyspark.sql import types as T

    from iceberg_metadata_pipeline_spark.catalog.partitioning import (
        PartitionField,
    )
    from iceberg_metadata_pipeline_spark.ingest.pyrest_source import register

    catalog, srv, base = server
    catalog.ensure_namespace("wp")
    catalog.create_table(
        "wp",
        "t",
        T.StructType(
            [
                T.StructField("id", T.LongType(), True),
                T.StructField("g", T.StringType(), True),
                T.StructField("d", T.DateType(), True),
            ]
        ),
        partition_spec=[
            PartitionField("g", "identity"),
            PartitionField("d", "identity"),
        ],
    )
    register(spark)
    df = spark.sql(
        "SELECT id, IF(id % 2 = 0, 'a', 'b') AS g,"
        " IF(id < 4, DATE'2024-01-01', DATE'2024-01-02') AS d"
        " FROM RANGE(8)"
    )
    df.write.format("pyrest").option("url", base).mode("append").save("wp.t")

    back = spark.read.format("pyrest").option("url", base).load("wp.t")
    assert sorted((r.id, r.g, str(r.d)) for r in back.collect()) == sorted(
        (r.id, r.g, str(r.d)) for r in df.collect()
    )

    # the appended files carry partition tuples the server prunes by:
    # an equality filter on g plans only g='a' files
    flt = {"type": "eq", "term": "g", "value": "a"}
    code, out = _req(
        f"{base}/v1/namespaces/wp/tables/t/plan",
        "POST",
        {"filter": flt},
    )
    assert code == 200
    tasks = out["file-scan-tasks"]
    assert tasks, "plan should return the g='a' files"
    assert all(t_["data-file"]["partition"][0] == "a" for t_ in tasks)
    n_all = len(
        _req(f"{base}/v1/namespaces/wp/tables/t/plan", "POST", {})[1][
            "file-scan-tasks"
        ]
    )
    assert len(tasks) < n_all, "partition filter should prune files"
    # metacat's own registry records the tuples (string + ISO date)
    t = catalog.load_table("wp", "t").refresh()
    parts = {
        (f.partition.get("g"), f.partition.get("d"))
        for f in t.snapshot_files()
    }
    assert parts == {
        ("a", "2024-01-01"),
        ("a", "2024-01-02"),
        ("b", "2024-01-01"),
        ("b", "2024-01-02"),
    }

    # pyrest-side filtered read composes (residual re-applied in-task)
    filt = (
        spark.read.format("pyrest")
        .option("url", base)
        .option("filter", _json.dumps(flt))
        .load("wp.t")
    )
    assert sorted(r.id for r in filt.collect()) == [0, 2, 4, 6]

    # a bucket-partitioned table: the mirror export serves only the
    # IDENTITY projection of the spec (iceberg_format scope bound), so
    # the thin client sees an empty spec and writes land with no
    # partition tuple — entries stay unstamped (spec_id None) and are
    # NEVER partition-pruned: conservative, reads stay exact. (The
    # writer's non-identity refusal guards the day the server serves
    # such transforms.)
    catalog.create_table(
        "wp",
        "tb",
        T.StructType(
            [
                T.StructField("id", T.LongType(), True),
                T.StructField("g", T.StringType(), True),
            ]
        ),
        partition_spec=[PartitionField("g", "bucket[4]")],
    )
    spark.sql(
        "SELECT CAST(1 AS BIGINT) AS id, 'x' AS g"
    ).write.format("pyrest").option("url", base).mode("append").save("wp.tb")
    tb = catalog.load_table("wp", "tb").refresh()
    assert [(f.partition, f.spec_id) for f in tb.snapshot_files()] == [
        ({}, None)
    ]
    back_b = spark.read.format("pyrest").option("url", base).load("wp.tb")
    assert [(r.id, r.g) for r in back_b.collect()] == [(1, "x")]
