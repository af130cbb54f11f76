"""pyice Python DataSource: plain spark.read over Iceberg directories,
including sequence-correct merge-on-read (parquet position deletes,
equality deletes, v3 puffin deletion vectors) — each case checked
against the import path's materialized result, which itself carries a
DuckDB-checked pedigree."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
from iceberg_metadata_pipeline_spark.ingest.pyice_source import register
from tests.test_iceberg_format import (
    _append_mor_delete_snapshot,
    _export_small_table,
)


def test_plain_read_matches_source(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    st = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    t = catalog.create_table("nyc", "src", st).refresh()
    t.append_dataframe(
        spark.range(30).selectExpr("id", "CAST(id AS DOUBLE) * 1.5 AS v").repartition(3)
    )
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        export_iceberg_table,
    )

    dest = str(tmp_path / "ice")
    export_iceberg_table(t.refresh(), dest)
    register(spark)
    df = spark.read.format("pyice").load(dest)
    assert df.schema == st
    got = sorted((r["id"], r["v"]) for r in df.collect())
    assert got == [(i, i * 1.5) for i in range(30)]


def test_position_deletes_applied(spark, tmp_path):
    meta_path = _export_small_table(spark, tmp_path)
    loc = os.path.dirname(os.path.dirname(meta_path))
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        read_iceberg_table,
    )

    info0 = read_iceberg_table(loc)
    victim = sorted(f.path for f in info0.files)[0]
    import duckdb

    victim_ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT id FROM read_parquet('{victim}') LIMIT 2"
        ).fetchall()
    ]
    _append_mor_delete_snapshot(meta_path, pos_deletes=[(victim, 0), (victim, 1)])
    register(spark)
    got = sorted(r["id"] for r in spark.read.format("pyice").load(loc).collect())
    assert got == sorted(set(range(10)) - set(victim_ids))


def test_equality_deletes_sequence_rule(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta_path = _export_small_table(spark, tmp_path)
    loc = os.path.dirname(os.path.dirname(meta_path))
    os.makedirs(os.path.join(loc, "data"), exist_ok=True)
    eq_path = os.path.join(loc, "data", "eq-del.parquet")
    pq.write_table(pa.table({"cat": pa.array(["b"], pa.string())}), eq_path)
    _append_mor_delete_snapshot(meta_path, eq_deletes=([2], eq_path))
    register(spark)
    got = sorted(r["id"] for r in spark.read.format("pyice").load(loc).collect())
    # fixture: cat='b' where id % 3 == 0; delete seq(2) > data seq(1)
    assert got == [i for i in range(10) if i % 3 != 0]


def test_puffin_dv_applied(spark, tmp_path):
    """pyice agrees with the import path on a v3 DV table (the import
    path is independently verified in test_roaring.py)."""
    import json

    from iceberg_metadata_pipeline_spark.catalog import avro_io
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        manifest_entry_schema,
        manifest_list_schema,
        read_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.catalog.puffin import (
        write_deletion_vectors,
    )

    meta_path = _export_small_table(spark, tmp_path)
    loc = os.path.dirname(os.path.dirname(meta_path))
    info0 = read_iceberg_table(loc)
    victim = sorted(f.path for f in info0.files)[0]
    import duckdb

    victim_ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT id FROM read_parquet('{victim}') LIMIT 1"
        ).fetchall()
    ]
    dv_path = os.path.join(loc, "data", "dv.puffin")
    os.makedirs(os.path.dirname(dv_path), exist_ok=True)
    write_deletion_vectors(dv_path, {victim: [0]})
    md = json.load(open(meta_path))
    cur = next(
        s for s in md["snapshots"]
        if int(s["snapshot-id"]) == int(md["current-snapshot-id"])
    )
    new_seq = int(cur.get("sequence-number", 1)) + 1
    snap_id = 777333
    meta_dir = os.path.join(loc, "metadata")
    dm = os.path.join(meta_dir, "dvm.avro")
    avro_io.write_container(
        dm,
        manifest_entry_schema([]),
        [
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": new_seq,
                "data_file": {
                    "content": 1,
                    "file_path": dv_path,
                    "file_format": "PUFFIN",
                    "partition": {},
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(dv_path),
                },
            }
        ],
    )
    _, _, old = avro_io.read_container(cur["manifest-list"])
    mlist = os.path.join(meta_dir, f"snap-{snap_id}.avro")
    avro_io.write_container(
        mlist,
        manifest_list_schema(),
        list(old)
        + [
            {
                "manifest_path": dm,
                "manifest_length": os.path.getsize(dm),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": new_seq,
                "min_sequence_number": new_seq,
                "added_snapshot_id": snap_id,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 1,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
    )
    md["snapshots"].append(
        {
            "snapshot-id": snap_id,
            "sequence-number": new_seq,
            "timestamp-ms": 1700000000000,
            "manifest-list": mlist,
            "summary": {"operation": "delete"},
        }
    )
    md["current-snapshot-id"] = snap_id
    md["last-sequence-number"] = new_seq
    with open(os.path.join(meta_dir, "v99.metadata.json"), "w") as fh:
        json.dump(md, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("99")

    register(spark)
    got = sorted(r["id"] for r in spark.read.format("pyice").load(loc).collect())
    assert got == sorted(set(range(10)) - set(victim_ids))


def test_large_delete_set_ships_descriptors_not_positions(spark, tmp_path):
    """The r6 scale finding: with a delete set over the threshold, the
    driver must plan O(#delete files) descriptors — never pickle the
    decoded position set into every InputPartition — and the task-side
    decode must still produce the right rows."""
    import pickle

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        read_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import (
        PyIceBatchReader,
    )

    meta_path = _export_small_table(spark, tmp_path, rows=120)
    loc = os.path.dirname(os.path.dirname(meta_path))
    info0 = read_iceberg_table(loc)
    victim = sorted(f.path for f in info0.files)[0]
    import duckdb

    n_victim = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{victim}')"
    ).fetchone()[0]
    # 50k-row delete file: real positions for the victim's even rows plus
    # bulk rows against a phantom path (same shape as a delete file
    # covering many data files)
    real = [(victim, i) for i in range(0, n_victim, 2)]
    bulk = [("/data/phantom.parquet", i) for i in range(50_000 - len(real))]
    _append_mor_delete_snapshot(meta_path, pos_deletes=real + bulk)

    reader = PyIceBatchReader({"path": loc})
    parts = reader.partitions()
    payload = max(len(pickle.dumps(p)) for p in parts)
    assert payload < 2_000, f"partition payload {payload}B is data-sized"
    assert all(p.positions == () for p in parts)
    assert any(p.pos_files for p in parts)

    victim_survivors = [
        r[0]
        for r in duckdb.sql(
            f"SELECT id FROM read_parquet('{victim}')"
        ).fetchall()
    ][1::2]
    register(spark)
    got = sorted(r["id"] for r in spark.read.format("pyice").load(loc).collect())
    all_ids = [r["id"] for r in spark.read.parquet(*[f.path for f in info0.files]).collect()]
    victim_ids = [
        r[0]
        for r in duckdb.sql(f"SELECT id FROM read_parquet('{victim}')").fetchall()
    ]
    expect = sorted(set(all_ids) - set(victim_ids[0::2]))
    assert got == expect


def test_threshold_zero_forces_descriptor_path(spark, tmp_path):
    """deleteDecodeThreshold=0 exercises the executor-side decode on the
    small fixtures too — results must match the fast path exactly."""
    meta_path = _export_small_table(spark, tmp_path)
    loc = os.path.dirname(os.path.dirname(meta_path))
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        read_iceberg_table,
    )

    info0 = read_iceberg_table(loc)
    victim = sorted(f.path for f in info0.files)[0]
    import duckdb

    victim_ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT id FROM read_parquet('{victim}') LIMIT 2"
        ).fetchall()
    ]
    _append_mor_delete_snapshot(meta_path, pos_deletes=[(victim, 0), (victim, 1)])
    register(spark)
    fast = sorted(
        r["id"] for r in spark.read.format("pyice").load(loc).collect()
    )
    slow = sorted(
        r["id"]
        for r in spark.read.format("pyice")
        .option("deleteDecodeThreshold", "0")
        .load(loc)
        .collect()
    )
    assert fast == slow == sorted(set(range(10)) - set(victim_ids))


def test_v3_defaults_and_schema_evolution(spark, tmp_path):
    """A column added with an initial-default (v3 metadata-only commit)
    must materialize for rows whose files predate it; files that HAVE
    the column keep their values including explicit nulls — through the
    pyice DataSource, agreeing with read_iceberg_snapshot (the import
    path, independently tested in test_iceberg_defaults.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        add_column_with_default,
        export_iceberg_table,
        read_iceberg_snapshot,
    )
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh"))
    st = T.StructType([T.StructField("id", T.LongType(), False)])
    t = catalog.create_table("nyc", "dflt", st).refresh()
    t.append_dataframe(spark.range(5).selectExpr("id"))
    dest = str(tmp_path / "ice-dflt")
    export_iceberg_table(t.refresh(), dest, format_version=3)
    add_column_with_default(dest, "tier", "string", "bronze")
    register(spark)
    got = sorted(
        (r.id, r.tier)
        for r in spark.read.format("pyice").load(dest).collect()
    )
    assert got == [(i, "bronze") for i in range(5)]
    # agrees with the distributed import-path reader
    ref = sorted(
        (r.id, r.tier) for r in read_iceberg_snapshot(spark, dest).collect()
    )
    assert got == ref


def test_stream_tails_appended_versions(spark, tmp_path):
    """readStream over an Iceberg dir: offset = metadata version; the
    first run drains v1, a new export (append) emits ONLY the appended
    files on restart; an overwrite version refuses without
    ignoreDeletes and is skipped with it."""
    from pyspark.sql import types as T

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        export_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh-st"))
    st = T.StructType([T.StructField("id", T.LongType(), False)])
    t = catalog.create_table("nyc", "st_src", st).refresh()
    t.append_dataframe(spark.range(10).selectExpr("id"))
    t = t.refresh()
    dest = str(tmp_path / "ice-st")
    export_iceberg_table(t, dest)  # v1
    register(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("pyice")
            .load(dest)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(10))
    t.append_dataframe(spark.createDataFrame([(100,), (101,)], st))
    t = t.refresh()
    export_iceberg_table(t, dest)  # v2: +2 rows
    run_once()
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == list(range(10)) + [100, 101]
    # overwrite: v3 removes files -> the appends-only stream refuses
    t.overwrite_dataframe(t.scan().where("id >= 5"))
    t = t.refresh()
    export_iceberg_table(t, dest)  # v3
    import pyspark.errors

    q = (
        spark.readStream.format("pyice")
        .load(dest)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="APPENDS"):
        q.awaitTermination(120)
    # with ignoreDeletes the removal is skipped and the stream continues
    q2 = (
        spark.readStream.format("pyice")
        .option("ignoreDeletes", "true")
        .load(dest)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # the overwrite wrote fresh files for the surviving rows: they emit
    # as appends (change-feed consumers should use CDF, not this source)
    final = spark.read.parquet(out)
    assert final.count() >= 12


def test_stream_recovers_from_expired_offset(spark, tmp_path):
    """Round-8 advisor catch: a checkpointed stream offset below the
    expire_iceberg_metadata horizon used to die in FileNotFoundError
    with no recovery path. Now: failOnDataLoss=true (default) raises a
    descriptive error naming the oldest retained version and the
    options; failOnDataLoss=false resumes from the oldest retained
    version (files added inside the expired gap are not replayed)."""
    import pytest
    from pyspark.sql import types as T

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        expire_iceberg_metadata,
        export_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import (
        PyIceStreamReader,
        list_metadata_versions,
    )

    catalog = Catalog(spark, str(tmp_path / "wh-exp"))
    st = T.StructType([T.StructField("id", T.LongType(), False)])
    t = catalog.create_table("nyc", "exp_src", st).refresh()
    dest = str(tmp_path / "ice-exp")
    for lo in (0, 10, 20):
        t.append_dataframe(
            spark.range(lo, lo + 5).selectExpr("id")
        )
        t = t.refresh()
        export_iceberg_table(t, dest)  # v1, v2, v3
    expire_iceberg_metadata(dest, keep_last=1)
    retained = list_metadata_versions(dest)
    assert retained and retained[0] >= 3

    r = PyIceStreamReader({"path": dest})
    with pytest.raises(FileNotFoundError, match="failOnDataLoss"):
        r.partitions({"v": 1}, {"v": retained[-1]})

    r2 = PyIceStreamReader({"path": dest, "failOnDataLoss": "false"})
    # v1 falls back to the oldest retained version: before == after set,
    # so nothing replays (the gap's additions are acknowledged as lost)
    assert r2.partitions({"v": 1}, {"v": retained[0]}) == []


def test_batch_writer_append_overwrite_stream_tail(spark, tmp_path):
    """df.write.format('pyice') (round 9: direct manifest-append
    commit, no sidecar): tasks write tmp parquet, the driver commits a
    new manifest + manifest list + next metadata version — appends
    stack, overwrite replaces, the pyice STREAM tails the writer's
    versions, and a foreign-written dir (the r8 refusal) now ACCEPTS
    appends that stack with the exporter's snapshot."""
    import os

    import pytest

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        list_metadata_versions,
        read_iceberg_table,
    )

    register(spark)
    dest = str(tmp_path / "ice_w")
    spark.range(10).selectExpr("id").repartition(3).write.format("pyice").mode(
        "append"
    ).save(dest)
    assert sorted(
        r.id for r in spark.read.format("pyice").load(dest).collect()
    ) == list(range(10))
    v1 = list_metadata_versions(dest)[-1]

    spark.range(10, 14).selectExpr("id").write.format("pyice").mode(
        "append"
    ).save(dest)
    assert spark.read.format("pyice").load(dest).count() == 14
    assert list_metadata_versions(dest)[-1] == v1 + 1

    # the pyice STREAM tails the writer's appended files
    out = str(tmp_path / "tail")
    q = (
        spark.readStream.format("pyice")
        .load(dest)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == list(range(14))

    spark.range(100, 103).selectExpr("id").write.format("pyice").mode(
        "overwrite"
    ).save(dest)
    assert sorted(
        r.id for r in spark.read.format("pyice").load(dest).collect()
    ) == [100, 101, 102]
    # no tmp litter
    assert not [
        f for f in os.listdir(os.path.join(dest, "data")) if f.startswith("_tmp-")
    ]

    # schema mismatch refuses
    with pytest.raises(Exception, match="schema"):
        spark.range(1).selectExpr("id", "'x' AS extra").write.format(
            "pyice"
        ).mode("append").save(dest)

    # a foreign-written iceberg dir (exporter output — the r8 refusal):
    # the direct commit appends a manifest that STACKS with the
    # exporter's snapshot, and a subsequent exporter-independent append
    # stacks again (appends from different writers never supersede)
    from pyspark.sql import types as T

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        export_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh-f"))
    st = T.StructType([T.StructField("id", T.LongType(), False)])
    t = catalog.create_table("nyc", "f", st).refresh()
    t.append_dataframe(spark.range(3).selectExpr("id"))
    foreign = str(tmp_path / "ice_foreign")
    export_iceberg_table(t.refresh(), foreign)
    spark.range(10, 12).selectExpr("id").write.format("pyice").mode(
        "append"
    ).save(foreign)
    spark.range(20, 21).selectExpr("id").write.format("pyice").mode(
        "append"
    ).save(foreign)
    assert sorted(
        r.id for r in spark.read.format("pyice").load(foreign).collect()
    ) == [0, 1, 2, 10, 11, 20]
    info = read_iceberg_table(foreign)
    # history intact: exporter snapshot + two appends, O(churn) commits
    assert len(info.metadata["snapshots"]) == 3
    assert not os.path.isdir(os.path.join(foreign, "_writer_catalog"))


def test_stream_writer_exactly_once(spark, tmp_path):
    """writeStream.format('pyice'): one Iceberg snapshot per epoch; the
    stream-watermark table property travels in the same commit as the
    files, so a re-delivered epoch drops; a new epoch advances."""
    import os
    import types

    import pytest

    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import (
        PyIceStreamWriter,
    )

    register(spark)
    src = str(tmp_path / "src")
    spark.range(6).selectExpr("id").write.format("pyice").mode("append").save(src)
    dest = str(tmp_path / "sink")
    q = (
        spark.readStream.format("pyice")
        .load(src)
        .writeStream.format("pyice")
        .option("path", dest)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(
        r.id for r in spark.read.format("pyice").load(dest).collect()
    ) == list(range(6))

    def _wm():
        from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
            read_iceberg_table,
        )

        return read_iceberg_table(dest, decode_dvs=False).metadata[
            "properties"
        ].get("stream-watermark-pyice-sink")

    assert _wm() == "0"

    w = PyIceStreamWriter(
        spark.read.format("pyice").load(dest).schema, {"path": dest}, False
    )
    ghost = os.path.join(dest, "data", "_tmp-ghost.parquet")
    open(ghost, "wb").write(b"x")
    w.commit(
        [types.SimpleNamespace(files=((ghost, 9, 1, "{}"),))], batchId=0
    )
    assert not os.path.exists(ghost)  # replayed epoch dropped + cleaned
    assert spark.read.format("pyice").load(dest).count() == 6

    # a NEW epoch commits and advances the watermark
    import shutil

    d2 = str(tmp_path / "one")
    spark.createDataFrame([(7,)], "id long").coalesce(1).write.parquet(d2)
    f2 = next(os.path.join(d2, n) for n in os.listdir(d2) if n.endswith(".parquet"))
    tmp2 = os.path.join(dest, "data", "_tmp-e1.parquet")
    shutil.copy(f2, tmp2)
    w.commit(
        [
            types.SimpleNamespace(
                files=((tmp2, 1, os.path.getsize(tmp2), "{}"),)
            )
        ],
        batchId=1,
    )
    assert spark.read.format("pyice").load(dest).count() == 7
    assert _wm() == "1"


def test_batch_writer_partitioned(spark, tmp_path):
    """Round 9 (verdict #3): partitioned pyice writes. A new table
    partitions via option('partitionBy'); write tasks route rows by
    partition tuple so each data file holds ONE partition value and its
    manifest entry carries the typed value — import shows the files
    prune. Appends to an EXISTING partitioned dir pick the spec up from
    metadata (no option needed)."""
    import os

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        import_iceberg_table,
        read_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog

    register(spark)
    dest = str(tmp_path / "ice_p")
    df = spark.range(20).selectExpr("id", "CAST(id % 3 AS LONG) AS bucket")
    df.write.format("pyice").option("partitionBy", "bucket").mode(
        "append"
    ).save(dest)
    # second append WITHOUT the option: spec comes from the metadata
    spark.createDataFrame([(100, 7)], "id long, bucket long").write.format(
        "pyice"
    ).mode("append").save(dest)

    got = sorted(
        (r.id, r.bucket)
        for r in spark.read.format("pyice").load(dest).collect()
    )
    assert got == sorted(
        [(i, i % 3) for i in range(20)] + [(100, 7)]
    )
    info = read_iceberg_table(dest)
    # every data file carries exactly one typed partition value
    assert all(set(f.partition) == {"bucket"} for f in info.files)
    assert {f.partition["bucket"] for f in info.files} == {"0", "1", "2", "7"}
    # and the values PRUNE after import: a bucket=7 scan reads 1 file
    from iceberg_metadata_pipeline_spark.catalog.partitioning import (
        prune_files_by_partition,
    )

    catalog = Catalog(spark, str(tmp_path / "wh-p"))
    t = import_iceberg_table(spark, catalog, dest, "nyc", "ice_p").refresh()
    pruned = prune_files_by_partition(
        spark, t.snapshot_files(), t.partition_specs, t._schema_types(),
        "bucket = 7",
    )
    assert len(pruned) == 1 and pruned[0].partition == {"bucket": "7"}
    # null partition values route to their own file and read back
    spark.createDataFrame([(200, None)], "id long, bucket long").write.format(
        "pyice"
    ).mode("append").save(dest)
    assert (200, None) in {
        (r.id, r.bucket)
        for r in spark.read.format("pyice").load(dest).collect()
    }


def test_concurrent_appends_never_lose_each_other(spark, tmp_path):
    """Round 9: commit_iceberg_append claims its metadata version
    ATOMICALLY (os.link) and rebuilds on conflict — two concurrent
    appends both land, the later one re-referencing the earlier one's
    manifest. Direct unit check: a taken version refuses the claim."""
    import os
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        DataFileEntry,
        _claim_metadata_version,
        commit_iceberg_append,
        create_iceberg_table_dir,
        read_iceberg_table,
    )

    dest = str(tmp_path / "occ")
    st = T.StructType([T.StructField("id", T.LongType(), False)])
    create_iceberg_table_dir(dest, st)
    # unit: claiming an existing version returns None, file untouched
    assert _claim_metadata_version(dest, {"x": 1}, 1) is None
    assert read_iceberg_table(dest).snapshot_id is None

    def entry(tag, ids):
        p = os.path.join(dest, "data", f"{tag}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), p)
        return DataFileEntry(
            path=p, record_count=len(ids),
            file_size_bytes=os.path.getsize(p), format="PARQUET",
        )

    # e2e: many appends racing from threads — every file must survive
    n = 8
    errs = []
    barrier = threading.Barrier(n)

    def work(i):
        try:
            barrier.wait()
            commit_iceberg_append(dest, [entry(f"t{i}", [i])])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=work, args=(i,)) for i in range(n)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    info = read_iceberg_table(dest)
    assert sorted(os.path.basename(f.path) for f in info.files) == [
        f"t{i}.parquet" for i in range(n)
    ]
    # one snapshot per commit, versions strictly stacked
    assert len(info.metadata["snapshots"]) == n
    assert info.metadata["last-sequence-number"] == n


def test_stream_writer_partitioned(spark, tmp_path):
    """Stream writer inherits partitioned routing (round 9): per-epoch
    rows land under identity-partition manifest values and read back
    via pyice with pruning-capable metadata."""
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import register

    register(spark)
    src = str(tmp_path / "src")
    spark.sql(
        "SELECT id, IF(id % 2 = 0, 'e', 'o') AS cat FROM RANGE(8)"
    ).write.format("pyice").mode("append").save(src)
    dest = str(tmp_path / "sink")
    q = (
        spark.readStream.format("pyice")
        .load(src)
        .writeStream.format("pyice")
        .option("path", dest)
        .option("partitionBy", "cat")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.format("pyice").load(dest)
    rows = {(r["id"], r["cat"]) for r in back.collect()}
    assert rows == {(i, "e" if i % 2 == 0 else "o") for i in range(8)}
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        read_iceberg_table,
    )

    info = read_iceberg_table(dest)
    assert {f.partition.get("cat") for f in info.files} == {"e", "o"}


def test_pyice_reader_yields_arrow_batches(spark, tmp_path):
    """The batch reader's read() yields pa.RecordBatch (not tuples):
    the Python↔JVM boundary stays columnar — asserted at the unit
    level so a regression to row yields fails loudly, not just
    slowly."""
    import pyarrow as pa

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        export_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import (
        PyIceBatchReader,
    )

    catalog = Catalog(spark, str(tmp_path / "wh"))
    t = catalog.create_table(
        "nyc", "vec", spark.range(10).selectExpr("id AS a").schema
    )
    t.append_dataframe(spark.range(10).selectExpr("id AS a").coalesce(1))
    dest = str(tmp_path / "ice")
    export_iceberg_table(t.refresh(), dest)

    reader = PyIceBatchReader({"path": dest})
    parts = reader.partitions()
    assert parts
    out = list(reader.read(parts[0]))
    assert out and all(isinstance(b, pa.RecordBatch) for b in out)
    assert sum(b.num_rows for b in out) == 10


def test_pyice_scans_naive_timestamps(spark, tmp_path):
    """tz-naive parquet timestamps (Spark INT96 output, pandas-written
    files — the fixture tables' own shape) now scan through pyice: the
    arrow cast localizes naive micros to UTC, matching the session's
    timeZone=UTC envelope. The pre-r12 tuple path raised pandas
    tz_convert errors on these files."""
    import datetime as dt

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        export_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.catalog.metacat import (
        scan_parquet_footers,
    )
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import register

    register(spark)
    raw = str(tmp_path / "raw")
    df = spark.createDataFrame(
        [(i, dt.datetime(2026, 1, 1, 12, 0, i)) for i in range(5)],
        "a long, ts timestamp",
    )
    df.coalesce(1).write.parquet(raw)
    # Spark writes INT96 by default → pyarrow reads timestamp[ns] NAIVE
    catalog = Catalog(spark, str(tmp_path / "wh"))
    t = catalog.create_table("nyc", "tsv", df.schema)
    t.append_files(scan_parquet_footers(raw, spark))
    dest = str(tmp_path / "ice")
    export_iceberg_table(t.refresh(), dest)

    back = spark.read.format("pyice").load(dest).orderBy("a").collect()
    assert [r.ts for r in back] == [
        dt.datetime(2026, 1, 1, 12, 0, i) for i in range(5)
    ]


def test_vectorized_mor_scan_matches_tuple_semantics(spark, tmp_path):
    """End-to-end MOR parity after vectorization: position + equality
    deletes through pyice equal the warehouse-scan answer on the same
    table (the format battery covers breadth; this pins the exact
    masks-compose-with-fills path in one place)."""
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        export_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import register

    register(spark)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).selectExpr(
        "id", "id % 7 AS k", "CAST(id * 1.5 AS DOUBLE) AS v"
    )
    t = catalog.create_table("nyc", "mor12", df.schema)
    t.append_dataframe(df.coalesce(2))
    t.delete_where_positional("id % 10 = 3")
    t.delete_where_mor("k = 5")
    dest = str(tmp_path / "ice")
    export_iceberg_table(t.refresh(), dest)
    back = spark.read.format("pyice").load(dest)
    expect = (
        df.where("id % 10 != 3 AND k != 5")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("s"),
        )
        .collect()[0]
    )
    got = back.agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
    assert (got.n, got.s) == (expect.n, expect.s)
