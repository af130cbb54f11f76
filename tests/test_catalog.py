"""Catalog/table-operation tests: idempotent ingest, snapshot isolation,
metadata tables, time travel, expiry, fault isolation (SURVEY.md §2.A/§7.4)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from iceberg_metadata_pipeline_spark.catalog.introspect import (
    list_tables,
    show_create_table,
)
from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
from iceberg_metadata_pipeline_spark.ingest.register import (
    import_data_root,
    import_folder,
    read_table,
)


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def test_import_counters_end_to_end(spark, catalog, counters_dir):
    report = import_data_root(spark, catalog, counters_dir)
    assert [r.table for r in report.ok] == ["system_interface_counters"]  # lowercased
    r = report.ok[0]
    assert r.n_files == 3 and r.n_records == 1000

    df = read_table(catalog, "nyc", "system_interface_counters")
    assert dict(df.dtypes)["timestamp"] == "timestamp"  # sanitize property applied
    assert df.count() == 1000

    # namespaces: nyc + default both ensured (ImportParquetFolders.java:53-61)
    assert set(catalog.list_namespaces()) >= {"nyc", "default"}
    assert list_tables(catalog, "nyc") == ["system_interface_counters"]


def test_reimport_is_idempotent(spark, catalog, counters_dir):
    import_data_root(spark, catalog, counters_dir)
    import_data_root(spark, catalog, counters_dir)  # re-run: no duplication
    df = read_table(catalog, "nyc", "system_interface_counters")
    assert df.count() == 1000
    table = catalog.load_table("nyc", "system_interface_counters")
    assert len(table.snapshot_files()) == 3


def test_fault_isolation_and_empty_folders(spark, catalog, tmp_path):
    root = tmp_path / "data"
    (root / "good").mkdir(parents=True)
    (root / "empty").mkdir()
    (root / "bad").mkdir()
    spark.range(10).write.parquet(str(root / "good" / "g"))
    (root / "bad" / "corrupt.parquet").write_bytes(b"not parquet at all")

    report = import_data_root(spark, catalog, str(root))
    by_name = {r.table: r for r in report.results}
    assert by_name["good"].ok and by_name["good"].n_records == 10
    assert not by_name["bad"].ok and by_name["bad"].error  # isolated, not fatal
    assert not by_name["empty"].ok and "skipped" in by_name["empty"].error
    assert list_tables(catalog, "nyc") == ["good"]


def test_snapshot_metadata_and_time_travel(spark, catalog):
    df1 = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    df2 = spark.range(100, 150).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t = catalog.create_table("nyc", "tt", df1.schema)
    s1 = t.append_dataframe(df1)
    t_ms_between = int(time.time() * 1000)
    time.sleep(0.01)
    s2 = t.append_dataframe(df2)

    assert t.scan(snapshot_id=s1).count() == 100
    assert t.scan().count() == 150
    assert t.scan(as_of_ms=t_ms_between).count() == 100  # TIMESTAMP AS OF

    snaps = t.snapshots_df().orderBy("timestamp_ms").collect()
    assert [s["operation"] for s in snaps] == ["append", "append"]
    assert snaps[1]["parent_snapshot_id"] == s1
    assert snaps[-1]["snapshot_id"] == s2
    assert snaps[-1]["total_records"] == 150

    hist = t.history_df().collect()
    assert sum(h["is_current"] for h in hist) == 1

    files = t.files_df().collect()
    assert all(f["record_count"] > 0 for f in files)
    assert t.files_df().agg(F.sum("record_count")).first()[0] == 150


def test_compaction_replace_snapshot(spark, catalog):
    df = spark.range(1000).select("id", (F.col("id") % 7).alias("k"))
    t = catalog.create_table("nyc", "cmp", df.schema)
    t.append_dataframe(df.repartition(8))
    assert len(t.snapshot_files()) == 8
    t.rewrite_data_files(target_num_files=1)
    assert len(t.snapshot_files()) == 1
    assert t.scan().count() == 1000
    ops = [s["operation"] for s in t.meta["snapshots"]]
    assert ops[-1] == "replace"
    # pre-compaction snapshot still readable (snapshot isolation)
    first = t.meta["snapshots"][0]["snapshot_id"]
    assert t.scan(snapshot_id=first).count() == 1000


def test_expire_snapshots_orphans(spark, catalog):
    df = spark.range(10)
    t = catalog.create_table("nyc", "exp", df.schema)
    t.append_dataframe(df)
    old_files = {f.path for f in t.snapshot_files()}
    t.rewrite_data_files(1)
    orphaned = t.expire_snapshots(keep_last=1)
    assert set(orphaned) == old_files  # replaced files now orphaned
    assert len(t.meta["snapshots"]) == 1
    assert t.scan().count() == 10


def test_drop_purge_and_recreate(spark, catalog):
    # A12 (src/archive/App.java:30-33): drop with purge, then recreate
    df = spark.range(5)
    t = catalog.create_table("nyc", "dp", df.schema)
    t.append_dataframe(df)
    assert catalog.drop_table("nyc", "dp", purge=True)
    assert not catalog.table_exists("nyc", "dp")
    t2 = catalog.create_table("nyc", "dp", df.schema, or_load=False)
    assert t2.scan().count() == 0
    assert not catalog.drop_table("nyc", "missing")


def test_show_create_table(spark, catalog, counters_dir):
    import_folder(spark, catalog, counters_dir + "/System_Interface_Counters")
    ddl = show_create_table(catalog, "nyc", "system_interface_counters")
    assert "CREATE TABLE nyc.system_interface_counters" in ddl
    assert "timestamp DECIMAL(20,0)" in ddl
    assert "'sanitize'='true'" in ddl


def test_file_prune_by_stats(spark, catalog):
    # two files with disjoint id ranges; filter must prune to one file but
    # return exact results
    t = catalog.create_table("nyc", "prune", spark.range(0).schema)
    t.append_dataframe(spark.range(0, 100).coalesce(1))
    t.append_dataframe(spark.range(1000, 1100).coalesce(1))
    from iceberg_metadata_pipeline_spark.catalog.metacat import _prune_by_stats

    files = t.snapshot_files()
    assert len(_prune_by_stats(files, "id < 50")) == 1
    assert len(_prune_by_stats(files, "id >= 1000")) == 1
    assert len(_prune_by_stats(files, "some_garbage && filter")) == 2  # keep-all fallback
    assert t.scan(filter="id < 50").count() == 50
    assert t.scan(filter="id >= 1000").count() == 100


def test_concurrent_append_rebases_and_rewrite_conflicts(spark, catalog):
    # two handles to one table = two optimistic writers. Appends must
    # rebase-and-retry after losing the CAS; rewrite commits must surface
    # the conflict (their manifest was derived from a stale snapshot).
    from iceberg_metadata_pipeline_spark.catalog.metacat import CommitConflictError

    df = spark.range(10).select(F.col("id").cast("long").alias("v"))
    t1 = catalog.create_table("nyc", "race", df.schema)
    t1.append_dataframe(df)
    t2 = catalog.load_table("nyc", "race")

    # writer 1 commits; writer 2 (stale) appends — must rebase, not clobber
    t1.append_dataframe(df.withColumn("v", F.col("v") + 100))
    t2.append_dataframe(df.withColumn("v", F.col("v") + 200))
    merged = catalog.load_table("nyc", "race")
    assert merged.scan().count() == 30  # all three appends survived

    # stale rewrite loses: t1 is now behind merged state
    with pytest.raises(CommitConflictError):
        # force staleness: t1 still holds the metadata from before t2's commit
        t1.delete_where("v >= 0")


def test_incremental_result_delivery(spark, sf_dir):
    # thriftServer.incrementalCollect=true parity (entrypoint-spark.sh:43):
    # large results stream to the client as an iterator, never one driver
    # materialization. toLocalIterator is that contract for our API.
    from iceberg_metadata_pipeline_spark.session import load_tables

    orders = load_tables(spark, sf_dir)["orders"]
    it = orders.orderBy("o_orderkey").toLocalIterator()
    first = next(it)
    assert first["o_orderkey"] is not None
    n = 1 + sum(1 for _ in it)
    assert n == orders.count()


def test_sorted_compaction_enables_file_pruning(spark, catalog, sf_dir):
    # sort-order rewrite: after compaction with sort_by, each file carries
    # a disjoint band of the sort column, so a range filter prunes files
    from iceberg_metadata_pipeline_spark.session import load_tables

    orders = load_tables(spark, sf_dir)["orders"]
    t = catalog.create_table("nyc", "orders_sorted", orders.schema)
    t.append_dataframe(orders)
    t.rewrite_data_files(target_num_files=4, sort_by=["o_totalprice"])

    files = t.snapshot_files()
    assert len(files) == 4
    bands = sorted(
        (f.stats["o_totalprice"][0], f.stats["o_totalprice"][1]) for f in files
    )
    assert all(b1[1] <= b2[0] for b1, b2 in zip(bands, bands[1:]))  # disjoint
    # stats-pruned scan touches one file for a one-band filter
    lo, hi = bands[0]
    pruned = t.scan(filter=f"o_totalprice <= {lo + (hi - lo) * 0.5}")
    n_input_files = pruned.rdd.getNumPartitions()
    full = t.scan()
    assert pruned.count() > 0
    assert n_input_files < full.rdd.getNumPartitions() or len(files) == 1


def test_schema_evolution_add_and_rename(spark, catalog):
    # add-column is metadata-only: old files scan with nulls in the new
    # column; rename keeps old files readable via the rename map
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, tag string")
    t = catalog.create_table("nyc", "evolve", df.schema)
    t.append_dataframe(df)

    t.add_column("score", "double")
    scanned = t.scan().orderBy("id").collect()
    assert [r["score"] for r in scanned] == [None, None]
    # new writes carry the column; old files still null-fill
    t.append_dataframe(
        spark.createDataFrame([(3, "c", 9.5)], "id long, tag string, score double")
    )
    got = {r["id"]: r["score"] for r in t.scan().collect()}
    assert got == {1: None, 2: None, 3: 9.5}

    t.rename_column("tag", "label")
    rows = {r["id"]: r["label"] for r in t.scan().collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}  # old data visible under new name

    # evolution survives reload (it is committed metadata)
    t2 = catalog.load_table("nyc", "evolve")
    assert [f.name for f in t2.schema.fields] == ["id", "label", "score"]
    assert {r["id"]: r["label"] for r in t2.scan().collect()} == {1: "a", 2: "b", 3: "c"}

    # drop is metadata-only too: the column vanishes from scans, the data
    # files are untouched
    t2.drop_column("score")
    assert [f.name for f in t2.schema.fields] == ["id", "label"]
    assert "score" not in t2.scan().columns
    assert t2.scan().count() == 3


def test_delete_where_keeps_null_predicate_rows(spark, catalog):
    # SQL DELETE removes rows where the condition is TRUE; a NULL predicate
    # result (NULL in the column) means the row is KEPT (ADVICE r1).
    df = spark.createDataFrame([(1, 10), (2, None), (3, 99)], "id long, v int")
    t = catalog.create_table("nyc", "del_nulls", df.schema)
    t.append_dataframe(df)
    t.delete_where("v > 50")
    kept = sorted(r["id"] for r in t.scan().collect())
    assert kept == [1, 2]  # id=2 (NULL v) must survive


def test_rename_chain_resolves_to_disk_name(spark, catalog):
    # a→b→c must read on-disk column 'a' (chain-resolved), and dropping a
    # renamed column must not resurface old data when the name is re-added.
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, a string")
    t = catalog.create_table("nyc", "renames", df.schema)
    t.append_dataframe(df)
    t.rename_column("a", "b")
    t.rename_column("b", "c")
    assert {r["id"]: r["c"] for r in t.scan().collect()} == {1: "x", 2: "y"}

    t.drop_column("c")
    t.add_column("c", "string")
    vals = [r["c"] for r in t.scan().collect()]
    assert vals == [None, None]  # old 'a' data must NOT come back as 'c'


def test_rename_back_to_original_name(spark, catalog):
    df = spark.createDataFrame([(1, "x")], "id long, a string")
    t = catalog.create_table("nyc", "rename_back", df.schema)
    t.append_dataframe(df)
    t.rename_column("a", "b")
    t.rename_column("b", "a")
    assert t.scan().collect()[0]["a"] == "x"


def test_merge_preserves_null_key_target_rows(spark, catalog):
    # A target row whose join key is NULL never matches (SQL equality) and
    # must be carried through unchanged — not overwritten with NULL source
    # values (ADVICE r1).
    tgt = spark.createDataFrame([(1, "keep"), (None, "nullkey")], "k long, v string")
    t = catalog.create_table("nyc", "merge_nulls", tgt.schema)
    t.append_dataframe(tgt)
    src = spark.createDataFrame([(1, "updated"), (7, "new")], "k long, v string")
    t.merge_into(src, on=["k"], when_matched_set={"v": "src_v"})
    rows = {r["k"]: r["v"] for r in t.scan().collect()}
    assert rows == {1: "updated", None: "nullkey", 7: "new"}

    # NULL-key source rows are "not matched" → inserted, not matched to the
    # NULL-key target row
    src2 = spark.createDataFrame([(None, "srcnull")], "k long, v string")
    t.merge_into(src2, on=["k"])
    vals = sorted((r["k"] is None, r["v"]) for r in t.scan().collect())
    assert ([v for _, v in vals if _ is True]) == sorted(["nullkey", "srcnull"])


def test_manifest_sharding_commit_is_o_delta(spark, catalog, tmp_path):
    """Commit metadata I/O must be O(changed files), not O(table): the
    metadata JSON holds O(1) snapshot records (no file entries), each
    commit writes one delta manifest sized by its own change, and
    reconstruction through the parent chain still yields the full table."""
    import glob
    import json as _json
    import os as _os

    from iceberg_metadata_pipeline_spark.catalog.metacat import DataFileEntry

    df = spark.createDataFrame([(1,)], "id long")
    t = catalog.create_table("nyc", "sharded", df.schema)

    # register N one-file commits (metadata-only, like the reference importer)
    data_dir = tmp_path / "files"
    data_dir.mkdir()
    sizes = []
    for i in range(12):
        p = str(data_dir / f"f{i}.parquet")
        spark.createDataFrame([(i,)], "id long").coalesce(1).write.parquet(p)
        part = glob.glob(p + "/*.parquet")[0]
        t.append_files([DataFileEntry(part, 1, _os.path.getsize(part))])
        meta_path = _os.path.join(
            t.location, "metadata", f"v{t.version}.metadata.json"
        )
        sizes.append(_os.path.getsize(meta_path))

    # metadata JSON contains no data-file paths at all
    with open(meta_path) as fh:
        assert "f11.parquet" not in fh.read()
    # per-commit metadata growth is one O(1) snapshot record, NOT one
    # manifest copy: growth between consecutive commits stays ~constant
    deltas = [b - a for a, b in zip(sizes, sizes[1:])]
    assert max(deltas) - min(deltas) <= 64, deltas
    # each delta manifest holds exactly its own commit's file
    snaps = t.meta["snapshots"]
    with open(_os.path.join(t.location, "metadata", snaps[-1]["manifest_file"])) as fh:
        d = _json.load(fh)
    assert len(d["added"]) == 1 and d["removed_paths"] == []

    # full reconstruction through the chain
    assert t.scan().count() == 12
    assert len(t.snapshot_files()) == 12
    # time travel to a mid-chain snapshot
    mid = snaps[5]["snapshot_id"]
    assert len(t.snapshot_files(snapshot_id=mid)) == 6

    # expiry checkpoints the oldest survivor; scans keep working
    t.expire_snapshots(keep_last=2)
    t2 = catalog.load_table("nyc", "sharded")
    assert t2.scan().count() == 12
    assert len(t2.snapshot_files(snapshot_id=snaps[-2]["snapshot_id"])) == 11


def test_merge_on_read_delete_lifecycle(spark, catalog, tmp_path):
    """MOR deletes: no data-file rewrite at delete time, correct scans,
    time travel sees pre-delete state, compaction folds deletes in, and
    expiry checkpoints keep live deletes applied."""
    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(100)], "id long, tag string"
    )
    t = catalog.create_table("nyc", "mor", df.schema)
    pre_delete_snap = t.append_dataframe(df)
    files_before = sorted(f.path for f in t.snapshot_files())

    t.delete_where_mor("tag = 'odd' AND id < 50")
    assert sorted(f.path for f in t.snapshot_files()) == files_before  # no rewrite
    assert t.scan().count() == 75
    # NULL-predicate rows are kept by MOR deletes too
    t2 = catalog.load_table("nyc", "mor")  # fresh handle reads delete entries
    assert t2.scan().count() == 75

    # time travel to the pre-delete snapshot still sees all rows
    assert t.scan(snapshot_id=pre_delete_snap).count() == 100

    # equality-delete file: drop ids 90..99 by key set
    keys = spark.createDataFrame([(i,) for i in range(90, 100)], "id long")
    t.delete_keys_mor(keys)
    assert t.scan().count() == 65
    assert sorted(f.path for f in t.snapshot_files()) == files_before

    # COW update on top of pending MOR deletes must not resurrect rows
    t.update_set("id = 0", {"tag": "'zero'"})
    assert t.scan().count() == 65
    assert t.scan().filter("tag = 'zero'").count() == 1

    # compaction folds deletes: rows physically gone, entries cleared
    t.rewrite_data_files(target_num_files=1)
    assert t.scan().count() == 65
    assert t._resolve_deletes(t.current_snapshot) == []

    # fresh MOR delete, then expiry: the checkpoint must carry it
    t.delete_where_mor("id >= 60")
    n_after = t.scan().count()
    t.expire_snapshots(keep_last=2)
    t3 = catalog.load_table("nyc", "mor")
    assert t3.scan().count() == n_after


def test_distributed_footer_scan_matches_driver_scan(spark, tmp_path):
    """The Spark-job footer sweep must produce the same DataFileEntry list
    (paths, counts, stats) as the sequential driver loop."""
    from iceberg_metadata_pipeline_spark.catalog.metacat import scan_parquet_footers

    root = tmp_path / "many"
    spark.range(0, 1000).selectExpr("id", "id * 2 AS v").repartition(8).write.parquet(
        str(root)
    )
    local = sorted(scan_parquet_footers(str(root)), key=lambda e: e.path)
    dist = scan_parquet_footers(str(root), spark, threshold=0)  # force the job
    assert [e.to_json() for e in dist] == [e.to_json() for e in local]
    assert sum(e.record_count for e in dist) == 1000
    assert all(e.stats.get("id") for e in dist)  # stats survive the boundary


def test_type_promotion_reads_across_old_and_new_files(spark, catalog):
    """promote_column is metadata-only: int32 files written before the
    promotion stay on disk and are read under their real type, cast up and
    unioned with post-promotion int64 files."""
    import pytest as _pytest

    df32 = spark.createDataFrame([(1, 10), (2, 20)], "id long, v int")
    t = catalog.create_table("nyc", "promote", df32.schema)
    t.append_dataframe(df32)

    t.promote_column("v", "bigint")
    assert dict(t.scan().dtypes)["v"] == "bigint"
    assert {r["id"]: r["v"] for r in t.scan().collect()} == {1: 10, 2: 20}

    # new writes land as bigint, including values beyond int32 range
    t.append_dataframe(spark.createDataFrame([(3, 5_000_000_000)], "id long, v long"))
    got = {r["id"]: r["v"] for r in t.scan().collect()}
    assert got == {1: 10, 2: 20, 3: 5_000_000_000}

    # promotion survives reload; COW ops read mixed-type files correctly
    t2 = catalog.load_table("nyc", "promote")
    t2.update_set("id = 1", {"v": "v + 1"})
    assert {r["id"]: r["v"] for r in t2.scan().collect()} == {
        1: 11, 2: 20, 3: 5_000_000_000
    }

    # float→double and decimal widening allowed; narrowing rejected
    with _pytest.raises(ValueError):
        t2.promote_column("v", "int")
    with _pytest.raises(ValueError):
        t2.promote_column("id", "double")


def test_promotion_with_rename_interplay(spark, catalog):
    """A column renamed AND promoted must still read old files under the
    old on-disk name and narrow type."""
    df = spark.createDataFrame([(1, 7)], "id long, small int")
    t = catalog.create_table("nyc", "promote_rename", df.schema)
    t.append_dataframe(df)
    t.rename_column("small", "big")
    t.promote_column("big", "bigint")
    t.append_dataframe(spark.createDataFrame([(2, 9_000_000_000)], "id long, big long"))
    got = {r["id"]: r["big"] for r in t.scan().collect()}
    assert got == {1: 7, 2: 9_000_000_000}
    assert dict(t.scan().dtypes)["big"] == "bigint"


def test_incremental_scan_reads_only_appended_rows(spark, catalog):
    df1 = spark.createDataFrame([(1,), (2,)], "id long")
    t = catalog.create_table("nyc", "incr", df1.schema)
    s1 = t.append_dataframe(df1)
    s2 = t.append_dataframe(spark.createDataFrame([(3,), (4,)], "id long"))
    s3 = t.append_dataframe(spark.createDataFrame([(5,)], "id long"))

    got = sorted(r["id"] for r in t.scan_incremental(s1).collect())
    assert got == [3, 4, 5]
    got = sorted(r["id"] for r in t.scan_incremental(s1, to_snapshot_id=s2).collect())
    assert got == [3, 4]
    assert t.scan_incremental(s3).count() == 0

    # non-append commit in range → explicit error, not silent wrong feed
    t.delete_where("id = 3")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-append"):
        t.scan_incremental(s1)
    # a range that stops before the delete still works
    assert t.scan_incremental(s1, to_snapshot_id=s2).count() == 2


def test_refs_tags_and_branches(spark, catalog):
    df = spark.createDataFrame([(1,)], "id long")
    t = catalog.create_table("nyc", "refs", df.schema)
    s1 = t.append_dataframe(df)
    s2 = t.append_dataframe(spark.createDataFrame([(2,)], "id long"))

    t.create_tag("v1", s1)
    t.create_branch("audit")  # defaults to current
    refs = {r["name"]: (r["type"], r["snapshot_id"]) for r in t.refs_df().collect()}
    assert refs == {"v1": ("tag", s1), "audit": ("branch", s2)}

    # scanning by ref = time travel by name
    assert t.scan(snapshot_id=refs["v1"][1]).count() == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.create_tag("v1", s2)  # tags are immutable
    with _pytest.raises(ValueError):
        t.advance_branch("v1", s2)  # not a branch
    t.advance_branch("audit", s1)

    # refs survive reload
    t2 = catalog.load_table("nyc", "refs")
    got = {r["name"]: r["snapshot_id"] for r in t2.refs_df().collect()}
    assert got == {"v1": s1, "audit": s1}
    t2.drop_ref("v1")
    assert [r["name"] for r in t2.refs_df().collect()] == ["audit"]


def test_remove_orphan_files(spark, catalog):
    import os

    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    t = catalog.create_table("nyc", "orphans", df.schema)
    t.append_dataframe(df)
    t.delete_keys_mor(spark.createDataFrame([(1,)], "id long"))

    # simulate a crashed write: data files on disk, commit never happened
    stray_dir = os.path.join(t.location, "data", "crashed-write")
    spark.createDataFrame([(99,)], "id long").write.parquet(stray_dir)
    n_before = t.scan().count()

    found = t.remove_orphan_files(dry_run=True)
    assert found and all("crashed-write" in p for p in found)
    removed = t.remove_orphan_files()
    assert removed == found
    # referenced data AND the equality-delete file survive
    assert t.scan().count() == n_before
    assert t.remove_orphan_files(dry_run=True) == []


def test_mor_equality_delete_anti_join_broadcasts(spark, catalog):
    """The table side must never shuffle against a delete-key file: the
    anti-join is a BroadcastHashJoin with the keys on the build side."""
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    t = catalog.create_table("nyc", "morplan", df.schema)
    t.append_dataframe(df)
    t.delete_keys_mor(spark.createDataFrame([(1,), (2,)], "id long"))
    plan = t.scan()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_wap_branch_isolation_and_publish(spark, tables, tmp_path):
    customer = tables["customer"]
    catalog = Catalog(spark, str(tmp_path / "wap"))
    t = catalog.create_table("nyc", "c_wap", customer.schema)
    t.append_dataframe(customer.limit(40))
    n_main = t.scan().count()
    # two staged commits chain on the branch; main is untouched by both
    t.append_dataframe(customer.limit(100).exceptAll(customer.limit(40)), branch="audit")
    t.append_dataframe(customer.limit(120).exceptAll(customer.limit(100)), branch="audit")
    assert t.scan().count() == n_main
    assert t.scan(ref="audit").count() == 120
    head = t.publish_branch("audit")
    assert t.meta["current_snapshot_id"] == head
    assert t.scan().count() == 120


def test_wap_branch_row_level_ops(spark, tables, tmp_path):
    """Stage DELETE/UPDATE/MERGE on a branch: main is untouched until
    publish; audit reads see staged row-op state via scan(ref=)."""
    customer = tables["customer"]
    catalog = Catalog(spark, str(tmp_path / "waprow"))
    t = catalog.create_table("nyc", "c_waprow", customer.schema)
    t.append_dataframe(customer.limit(50))
    n_main = t.scan().count()
    keys = [r["c_custkey"] for r in t.scan().select("c_custkey").limit(5).collect()]
    key_list = ", ".join(str(k) for k in keys)
    # COW delete on the branch
    t.delete_where(f"c_custkey IN ({key_list})", branch="audit")
    assert t.scan().count() == n_main, "main must not see staged delete"
    assert t.scan(ref="audit").count() == n_main - 5
    # COW update chains on the same branch
    t.update_set(
        f"c_custkey = {keys[-1] + 1 if keys[-1] + 1 not in keys else max(keys) + 7}",
        {"c_mktsegment": "'STAGED'"},
        branch="audit",
    )
    assert t.scan().filter("c_mktsegment = 'STAGED'").count() == 0
    head = t.publish_branch("audit")
    assert t.meta["current_snapshot_id"] == head
    assert t.scan().count() == n_main - 5


def test_wap_branch_mor_delete(spark, tables, tmp_path):
    customer = tables["customer"]
    catalog = Catalog(spark, str(tmp_path / "wapmor"))
    t = catalog.create_table("nyc", "c_wapmor", customer.schema)
    t.append_dataframe(customer.limit(30))
    files_before = {f.path for f in t.snapshot_files()}
    t.delete_where_mor("c_custkey <= 3", branch="audit")
    # MOR on a branch: zero data files rewritten anywhere
    r = t.meta["refs"]["audit"]
    assert {f.path for f in t.snapshot_files(r["snapshot_id"])} == files_before
    assert t.scan().filter("c_custkey <= 3").count() > 0  # main unaffected
    assert t.scan(ref="audit").filter("c_custkey <= 3").count() == 0
    t.publish_branch("audit")
    assert t.scan().filter("c_custkey <= 3").count() == 0


def test_publish_refuses_non_fast_forward(spark, tables, tmp_path):
    customer = tables["customer"]
    catalog = Catalog(spark, str(tmp_path / "wapff"))
    t = catalog.create_table("nyc", "c_ff", customer.schema)
    t.append_dataframe(customer.limit(10))
    t.append_dataframe(customer.limit(20).exceptAll(customer.limit(10)), branch="audit")
    # main advances independently → branch head no longer descends from main
    t.append_dataframe(customer.limit(30).exceptAll(customer.limit(20)))
    with pytest.raises(ValueError, match="fast-forward"):
        t.publish_branch("audit")


def test_rollback_requires_ancestor(spark, tables, tmp_path):
    customer = tables["customer"]
    catalog = Catalog(spark, str(tmp_path / "rb"))
    t = catalog.create_table("nyc", "c_rb", customer.schema)
    s1 = t.append_dataframe(customer.limit(10))
    t.append_dataframe(customer.limit(20).exceptAll(customer.limit(10)))
    t.rollback_to_snapshot(s1)
    assert t.scan().count() == 10
    # a branch-only snapshot is not an ancestor of main
    sb = t.append_dataframe(customer.limit(25).exceptAll(customer.limit(20)), branch="b")
    with pytest.raises(ValueError, match="ancestor"):
        t.rollback_to_snapshot(sb)


def test_manifests_metadata_table(spark, tables, tmp_path):
    customer = tables["customer"]
    catalog = Catalog(spark, str(tmp_path / "mf"))
    t = catalog.create_table("nyc", "c_mf", customer.schema)
    t.append_dataframe(customer.limit(10))
    t.append_dataframe(customer.limit(20).exceptAll(customer.limit(10)))
    rows = t.manifests_df().orderBy("added_snapshot_id").collect()
    assert len(rows) == 2
    assert all(r["length"] and r["length"] > 0 for r in rows)
    assert rows[0]["is_full"] in (True, False)
    assert sum(r["added_files_count"] for r in rows) == len(t.snapshot_files())


def test_mor_update_and_merge_sequence_semantics(spark, catalog):
    """Iceberg v2 sequence numbers: MOR UPDATE/MERGE commit rewritten rows
    and the delete of their old copies atomically — the delete applies
    only to lower-sequence files, so the new copies survive even when
    they still match the delete; rows appended after an MOR delete are
    likewise immune to it."""
    df = spark.createDataFrame(
        [(i, float(i), "a" if i % 2 == 0 else "b") for i in range(100)],
        "id long, val double, tag string",
    )
    t = catalog.create_table("nyc", "morseq", df.schema)
    t.append_dataframe(df)
    files_before = {f.path for f in t.snapshot_files()}

    # MOR update: every pre-existing file carried over, new file(s) added
    t.update_set_mor("tag = 'a'", {"val": "val + 1000"})
    files_after = {f.path for f in t.snapshot_files()}
    assert files_before <= files_after and len(files_after) > len(files_before)
    got = {r["id"]: r["val"] for r in t.scan().collect()}
    assert len(got) == 100
    assert got[0] == 1000.0 and got[1] == 1.0 and got[2] == 1002.0
    # updated copies still match the predicate but survive (sequence guard)
    assert t.scan().filter("tag = 'a'").count() == 50

    # append after MOR delete: late rows matching the predicate survive
    t.delete_where_mor("tag = 'b'")
    assert t.scan().count() == 50
    late = spark.createDataFrame([(200, 0.5, "b")], "id long, val double, tag string")
    t.append_dataframe(late)
    assert t.scan().filter("tag = 'b'").count() == 1

    # MOR merge: matched row updated via src_ reference, new key inserted,
    # no pre-existing file rewritten, exactly one surviving copy per key
    src = spark.createDataFrame(
        [(0, 7.0, "a"), (300, 3.0, "c")], "id long, val double, tag string"
    )
    files_pre_merge = {f.path for f in t.snapshot_files()}
    t.merge_into_mor(src, on=["id"], when_matched_set={"val": "src_val"})
    assert files_pre_merge <= {f.path for f in t.snapshot_files()}
    rows = {r["id"]: (r["val"], r["tag"]) for r in t.scan().collect()}
    assert rows[0] == (7.0, "a")
    assert rows[300] == (3.0, "c")
    assert t.scan().count() == 52
    assert t.scan().filter("id = 0").count() == 1

    # a fresh handle reads the same state from disk (seq fields round-trip)
    t2 = catalog.load_table("nyc", "morseq")
    assert t2.scan().count() == 52

    # compaction folds deletes in; visible rows unchanged
    t.rewrite_data_files(target_num_files=1)
    rows2 = {r["id"]: (r["val"], r["tag"]) for r in t.scan().collect()}
    assert rows2 == rows


def test_binpack_plan_respects_partitions_and_size(spark, catalog):
    """plan_compaction: groups never mix partition tuples, large files are
    left alone, and execution preserves scan results + pruning metadata."""
    from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField

    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(400)], "id long, bucket long, val double"
    )
    t = catalog.create_table("nyc", "bp", df.schema)
    t.set_partition_spec([PartitionField(source="bucket", transform="identity")])
    # three small appends → ≥2 small files per partition value
    for lo in (0, 100, 200):
        t.append_dataframe(df.filter((F.col("id") >= lo) & (F.col("id") < lo + 100)))
    plan = t.plan_compaction(min_group_files=2)
    assert plan, "small files must produce a plan"
    for group in plan:
        parts = {tuple(sorted(f.partition.items())) for f in group}
        assert len(parts) == 1, "a group must not cross partitions"

    n_before = len(t.snapshot_files())
    t.rewrite_small_files()
    files_after = t.snapshot_files()
    assert len(files_after) < n_before
    # partition tuples survive the rewrite (pruning stays possible)
    assert all(f.partition for f in files_after)
    assert t.scan().count() == 300
    assert t.scan(filter="bucket = 0").count() == 150

    # a second call finds nothing left to do
    assert t.rewrite_small_files() is None


def test_binpack_folds_applicable_mor_deletes(spark, catalog):
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, val double")
    t = catalog.create_table("nyc", "bpmor", df.schema)
    t.append_dataframe(df.filter("id < 50"))
    t.append_dataframe(df.filter("id >= 50"))
    t.delete_where_mor("id >= 90")
    t.rewrite_small_files()
    assert t.scan().count() == 90
    t2 = catalog.load_table("nyc", "bpmor")
    assert t2.scan().count() == 90


def test_rewrite_manifests_collapses_chain(spark, catalog):
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    t = catalog.create_table("nyc", "rm", df.schema)
    for _ in range(5):
        t.append_dataframe(df)
    collapsed = t.rewrite_manifests()
    assert collapsed >= 4
    # resolution still exact, from a fresh handle too
    assert t.scan().count() == 50
    t2 = catalog.load_table("nyc", "rm")
    assert t2.scan().count() == 50
    # second rewrite is a no-op (already a checkpoint)
    assert t2.rewrite_manifests() == 0
    # time travel and expiry still behave
    t2.expire_snapshots(keep_last=1)
    assert catalog.load_table("nyc", "rm").scan().count() == 50


def test_zorder_rewrite_enables_multi_column_skipping(spark, catalog):
    """Z-order vs linear sort: after a zorder_by(x, y) rewrite, min/max
    file pruning must bite on BOTH columns; a linear sort gives the
    secondary column full-range stats in every file (no pruning)."""
    from iceberg_metadata_pipeline_spark.catalog.metacat import _prune_by_stats

    df = spark.range(10000).select(
        (F.col("id") % 100).alias("x"), (F.col("id") / 100).cast("long").alias("y")
    )
    t = catalog.create_table("nyc", "zorder", df.schema)
    t.append_dataframe(df)
    t.rewrite_data_files(target_num_files=16, zorder_by=["x", "y"])
    files = t.snapshot_files()
    assert len(files) == 16
    x_hits = _prune_by_stats(files, "x <= 10")
    y_hits = _prune_by_stats(files, "y <= 10")
    assert len(x_hits) < len(files) / 2, "zorder must prune on x"
    assert len(y_hits) < len(files) / 2, "zorder must prune on y"
    # correctness unaffected by layout
    assert t.scan(filter="x <= 10").count() == 1100
    assert t.scan(filter="y <= 10").count() == 1100

    # linear sort on x: y stats span every file → no y pruning
    t.rewrite_data_files(target_num_files=16, sort_by=["x"])
    files = t.snapshot_files()
    assert len(_prune_by_stats(files, "x <= 10")) < len(files) / 2
    assert len(_prune_by_stats(files, "y <= 10")) == len(files)

    with pytest.raises(ValueError):
        t.rewrite_data_files(sort_by=["x"], zorder_by=["y"])


def test_merge_delete_not_matched_by_source(spark, catalog):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE: target syncs to the source
    key set; the conditional form deletes only rows matching the extra
    predicate. NULL-key target rows never match and are subject to the
    clause (Spark MERGE semantics)."""
    tgt = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (None, "nullkey")], "id long, tag string"
    )
    src = spark.createDataFrame([(1, "a2"), (4, "d")], "id long, tag string")
    t = catalog.create_table("nyc", "sync", tgt.schema)
    t.append_dataframe(tgt)
    t.merge_into(
        src,
        on=["id"],
        when_matched_set={"tag": "src_tag"},
        delete_not_matched_by_source=True,
    )
    rows = {r["id"]: r["tag"] for r in t.scan().collect()}
    assert rows == {1: "a2", 4: "d"}

    # conditional variant: only delete unmatched rows with tag = 'c'
    t2 = catalog.create_table("nyc", "sync2", tgt.schema)
    t2.append_dataframe(tgt)
    t2.merge_into(
        src,
        on=["id"],
        when_matched_set={"tag": "src_tag"},
        delete_not_matched_by_source="tag = 'c'",
    )
    rows = {r["tag"] for r in t2.scan().collect()}
    assert rows == {"a2", "b", "nullkey", "d"}


def test_changelog_and_metadata_count(spark, catalog):
    df = spark.createDataFrame(
        [(i, float(i), "keep" if i % 3 else "drop") for i in range(90)],
        "id long, val double, tag string",
    )
    t = catalog.create_table("nyc", "cdc", df.schema)
    snap1 = t.append_dataframe(df)
    assert t.count_rows() == 90  # metadata-only path (no deletes pending)

    t.delete_where("tag = 'drop'")
    ch = t.changelog(snap1).collect()
    assert all(r["_change_type"] == "delete" for r in ch)
    assert {r["id"] for r in ch} == {i for i in range(90) if i % 3 == 0}

    snap2 = t.current_snapshot["snapshot_id"]
    t.append_dataframe(spark.createDataFrame([(1000, 5.0, "new")], df.schema))
    ch2 = {(r["id"], r["_change_type"]) for r in t.changelog(snap2).collect()}
    assert ch2 == {(1000, "insert")}

    # MOR deletes force the fallback count; results still correct
    t.delete_where_mor("id < 10")
    assert t.count_rows() == t.scan().count()

    # changelog across the MOR delete: only the surviving-row diff
    ch3 = t.changelog(snap2).collect()
    types = {r["_change_type"] for r in ch3}
    assert types == {"insert", "delete"}


def test_mor_random_ops_match_model(spark, catalog):
    """Randomized MOR lifecycle vs an in-memory model: interleaved appends,
    predicate/equality MOR deletes, MOR updates, MOR merges, and
    compactions must keep the scan exactly equal to the model at every
    step (the sequence-number algebra has to hold under composition, not
    just in single-op tests). Seeded, so failures reproduce."""
    import random

    rng = random.Random(7)
    schema = "id long, val double, tag string"

    def df_of(rows):
        return spark.createDataFrame(rows, schema)

    t = catalog.create_table("nyc", "model", df_of([(0, 0.0, "a")]).schema)
    model: dict[int, tuple] = {}
    rows = [(i, float(i), rng.choice("abc")) for i in range(50)]
    next_id = 50
    t.append_dataframe(df_of(rows))
    model.update({r[0]: r for r in rows})

    for step in range(12):
        op = rng.choice(["append", "del_pred", "del_keys", "upd", "merge", "compact"])
        if op == "append":
            rows = [
                (next_id + i, float(rng.randint(0, 99)), rng.choice("abc"))
                for i in range(10)
            ]
            next_id += 10
            t.append_dataframe(df_of(rows))
            model.update({r[0]: r for r in rows})
        elif op == "del_pred":
            tag, lim = rng.choice("abc"), rng.randint(0, 99)
            t.delete_where_mor(f"tag = '{tag}' AND val <= {lim}")
            model = {
                k: r for k, r in model.items() if not (r[2] == tag and r[1] <= lim)
            }
        elif op == "del_keys" and model:
            ids = rng.sample(sorted(model), min(5, len(model)))
            t.delete_keys_mor(spark.createDataFrame([(i,) for i in ids], "id long"))
            for i in ids:
                model.pop(i)
        elif op == "upd":
            tag = rng.choice("abc")
            t.update_set_mor(f"tag = '{tag}'", {"val": "val + 1000"})
            model = {
                k: (r[0], r[1] + 1000 if r[2] == tag else r[1], r[2])
                for k, r in model.items()
            }
        elif op == "merge":
            ids = rng.sample(sorted(model), min(3, len(model))) if model else []
            new_id = next_id
            next_id += 1
            src = [(i, 5.0, "m") for i in ids] + [(new_id, 7.0, "n")]
            t.merge_into_mor(
                df_of(src), on=["id"], when_matched_set={"val": "src_val", "tag": "src_tag"}
            )
            for i in ids:
                model[i] = (i, 5.0, "m")
            model[new_id] = (new_id, 7.0, "n")
        else:
            t.rewrite_small_files() if step % 2 else t.rewrite_data_files()
        got = {(r["id"], round(r["val"], 6), r["tag"]) for r in t.scan().collect()}
        want = {(k, round(v[1], 6), v[2]) for k, v in model.items()}
        assert got == want, f"diverged at step {step} ({op})"

    # a fresh handle reads the same final state from disk
    t2 = catalog.load_table("nyc", "model")
    got = {(r["id"], round(r["val"], 6), r["tag"]) for r in t2.scan().collect()}
    assert got == {(k, round(v[1], 6), v[2]) for k, v in model.items()}


def test_rewrite_delete_files_purges_inert_entries(spark, catalog):
    """After compaction folds a delete's covered files away, the entry is
    inert; rewrite_delete_files drops it without touching live ones."""
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, val double")
    t = catalog.create_table("nyc", "purge", df.schema)
    t.append_dataframe(df.filter("id < 50"))
    t.append_dataframe(df.filter("id >= 50"))
    t.delete_where_mor("id >= 90")
    # binpack folds both files (applying the delete); the entry stays live
    # metadata until purged
    t.rewrite_small_files()
    assert len(t._resolve_deletes(t.current_snapshot)) == 1
    dropped, kept = t.rewrite_delete_files()
    assert (dropped, kept) == (1, 0)
    assert t.scan().count() == 90

    # a delete newer than every file stays (it still covers them)
    t.delete_where_mor("id < 5")
    assert t.rewrite_delete_files() == (0, 1)
    assert t.scan().count() == 85
    # fresh handle agrees
    assert catalog.load_table("nyc", "purge").scan().count() == 85


def test_expire_older_than_and_rollback_timestamp(spark, catalog):
    import time as _time

    df = spark.createDataFrame([(1,)], "id long")

    # rollback by timestamp: pointer moves to the pre-cutoff snapshot
    t = catalog.create_table("nyc", "ts_roll", df.schema)
    t.append_dataframe(df)
    snap_before = t.current_snapshot["snapshot_id"]
    _time.sleep(0.01)
    cutoff_ms = int(_time.time() * 1000)
    _time.sleep(0.01)
    t.append_dataframe(df)
    t.append_dataframe(df)
    assert t.rollback_to_timestamp(cutoff_ms) == snap_before
    assert t.scan().count() == 1
    # expiry never drops the (rolled-back) current snapshot
    t.expire_snapshots(keep_last=1)
    assert t.scan().count() == 1
    assert catalog.load_table("nyc", "ts_roll").scan().count() == 1

    # older_than expiry: only pre-cutoff snapshots go
    t2 = catalog.create_table("nyc", "ts_exp", df.schema)
    t2.append_dataframe(df)
    _time.sleep(0.01)
    cutoff2 = int(_time.time() * 1000)
    _time.sleep(0.01)
    t2.append_dataframe(df)
    t2.append_dataframe(df)
    n_before = len(t2.meta["snapshots"])
    t2.expire_snapshots(keep_last=1, older_than_ms=cutoff2)
    assert 2 <= len(t2.meta["snapshots"]) < n_before
    assert catalog.load_table("nyc", "ts_exp").scan().count() == 3


def test_maintain_policy_triggers_conditionally(spark, catalog):
    df = spark.createDataFrame([(i, float(i)) for i in range(120)], "id long, val double")
    t = catalog.create_table("nyc", "svc", df.schema)
    # below thresholds: maintain is a no-op
    t.append_dataframe(df.filter("id < 20"))
    assert t.maintain(small_files_threshold=8, chain_threshold=8) == {}

    # accumulate small files past the threshold (plus a delete that goes
    # inert once binpack folds its covered files away)
    for lo in range(20, 120, 10):
        t.append_dataframe(df.filter(f"id >= {lo} AND id < {lo + 10}"))
    t.delete_where_mor("id >= 110")
    report = t.maintain(small_files_threshold=8, chain_threshold=8)
    assert "binpack" in report and report["binpack"]["rewritten_files"] >= 8
    assert t.scan().count() == 110
    # the delete entry went inert with the binpack and gets purged on the
    # next sweep (binpack and purge both ran within one or two sweeps)
    t.maintain(small_files_threshold=8, chain_threshold=8)
    assert t._resolve_deletes(t.current_snapshot) == []
    # chain checkpoint trigger: many appends then a sweep collapses it
    for _ in range(8):
        t.append_dataframe(spark.createDataFrame([(999, 1.0)], df.schema))
    report = t.maintain(small_files_threshold=10**9, chain_threshold=8)
    assert "manifest_checkpoint" in report
    assert t._chain_depth() <= 1
    assert catalog.load_table("nyc", "svc").scan().count() == 118


def test_positional_delete_lifecycle(spark, catalog):
    """Position deletes: correct scans, no rewrite, appends after the
    delete immune (sequence), mixes with predicate/equality deletes,
    folds under compaction, survives fresh handles."""
    df = spark.createDataFrame(
        [(i, float(i), "a" if i % 2 == 0 else "b") for i in range(100)],
        "id long, val double, tag string",
    )
    t = catalog.create_table("nyc", "posdel", df.schema)
    t.append_dataframe(df)
    files_before = sorted(f.path for f in t.snapshot_files())
    t.delete_where_positional("tag = 'b' AND id < 50")
    assert sorted(f.path for f in t.snapshot_files()) == files_before
    assert t.scan().count() == 75
    # appended rows matching the old predicate survive
    t.append_dataframe(spark.createDataFrame([(201, 1.0, "b")], df.schema))
    assert t.scan().count() == 76
    # position-deleting again sees current state (delete the new row too)
    t.delete_where_positional("id = 201")
    assert t.scan().count() == 75
    # mixes with an equality delete
    t.delete_keys_mor(spark.createDataFrame([(0,), (2,)], "id long"))
    assert t.scan().count() == 73
    # a filtered scan composes with the positional anti-join
    assert t.scan(filter="tag = 'b'").count() == 25
    # fresh handle and compaction agree
    assert catalog.load_table("nyc", "posdel").scan().count() == 73
    t.rewrite_data_files(target_num_files=1)
    assert t.scan().count() == 73
    assert t._resolve_deletes(t.current_snapshot) == []


def test_consolidate_position_deletes_to_dv(spark, catalog):
    """DV-style consolidation: N pending position entries merge into one
    (scans: N anti-joins → 1) with contents bit-identical, non-position
    entries and their sequences untouched, dead pairs dropped, and a
    later append still immune to the merged (older-seq) entry."""
    df = spark.createDataFrame(
        [(i, "x" if i % 3 == 0 else "y") for i in range(90)], "id long, tag string"
    )
    t = catalog.create_table("nyc", "dvtab", df.schema)
    t.append_dataframe(df)
    t.delete_where_positional("id < 10")
    t.delete_where_positional("id >= 80")
    t.delete_where_positional("id = 42")
    t.delete_where_mor("id = 55")  # predicate entry must pass through
    before_rows = sorted(r["id"] for r in t.scan().collect())
    deletes = t._resolve_deletes(t.current_snapshot)
    assert sum(d["kind"] == "position" for d in deletes) == 3
    pred_seqs = {d["seq"] for d in deletes if d["kind"] == "predicate"}

    n_before, n_after = t.consolidate_position_deletes()
    assert (n_before, n_after) == (3, 1)
    after = t._resolve_deletes(t.current_snapshot)
    assert sum(d["kind"] == "position" for d in after) == 1
    assert {d["seq"] for d in after if d["kind"] == "predicate"} == pred_seqs
    assert sorted(r["id"] for r in t.scan().collect()) == before_rows
    # merged DV holds exactly the union of live pairs
    dv = next(d for d in after if d["kind"] == "position")
    pairs = spark.read.parquet(dv["path"]).count()
    assert pairs == 21  # 10 + 10 + 1 deleted positions
    # appends after consolidation are immune (entry seq < new file seq)
    t.append_dataframe(spark.createDataFrame([(5, "x")], df.schema))
    assert sorted(r["id"] for r in t.scan().collect()) == sorted(before_rows + [5])
    # idempotent: one entry is already consolidated
    assert t.consolidate_position_deletes() == (1, 1)
    # fresh handle agrees
    assert catalog.load_table("nyc", "dvtab").scan().count() == len(before_rows) + 1


def test_bloom_filter_file_skipping(spark, catalog):
    """Per-file bloom filters: a point lookup on an unclustered string
    column prunes files min/max can't (every file spans the probe);
    membership false positives only add reads, absence is definite."""
    from iceberg_metadata_pipeline_spark.catalog.metacat import _prune_by_stats

    df = spark.createDataFrame(
        [(i, f"user_{i:04d}") for i in range(2000)], "id long, name string"
    )
    t = catalog.create_table("nyc", "bloom", df.schema)
    # four files, interleaved names so min/max overlaps everywhere
    for r in range(4):
        t.append_dataframe(df.filter(F.col("id") % 4 == r))
    t.build_bloom_filters("name")
    t2 = catalog.load_table("nyc", "bloom")  # blooms persisted
    files = t2.snapshot_files()
    assert all(f.stats.get("bloom_name") for f in files)
    # name user_0005 lives in exactly one file (id 5 % 4 == 1)
    hits = _prune_by_stats(files, "name = 'user_0005'")
    assert 1 <= len(hits) <= 2  # target + rare false positives
    # min/max alone cannot prune (interleaved): strip blooms and compare
    import copy

    stripped = []
    for f in files:
        g = copy.deepcopy(f)
        g.stats.pop("bloom_name", None)
        stripped.append(g)
    assert len(_prune_by_stats(stripped, "name = 'user_0005'")) == 4
    # absent value prunes everything
    assert _prune_by_stats(files, "name = 'not_a_user'") == []
    # correctness through scan: results identical with pruning active
    assert t2.scan(filter="name = 'user_0005'").count() == 1
    assert t2.scan(filter="name = 'not_a_user'").count() == 0
    # sequence preservation: a pending MOR delete still applies to the
    # re-registered (stats-update) files
    t2.delete_where_mor("id < 100")
    assert t2.scan().count() == 1900


def test_update_set_mor_noop_skips_commit(spark, catalog):
    """An UPDATE matching zero rows must not commit anything: a
    predicate delete entry registered for a no-op would make every
    subsequent scan re-evaluate the condition against all earlier files
    forever — pure read amplification with no semantic effect."""
    df = spark.createDataFrame([(i, float(i)) for i in range(50)], "id long, v double")
    t = catalog.create_table("nyc", "noopupd", df.schema)
    t.append_dataframe(df)
    snaps_before = len(t.meta["snapshots"])
    sid = t.update_set_mor("id > 999999", {"v": "v + 1"})
    assert sid == t.meta["current_snapshot_id"]
    assert len(t.meta["snapshots"]) == snaps_before  # no new snapshot
    assert t._resolve_deletes(t.current_snapshot) == []  # no delete entry
    assert t.scan().count() == 50
    # a matching update still works as before
    t.update_set_mor("id = 7", {"v": "v + 1000"})
    assert t.scan(filter="id = 7").first()["v"] == 1007.0


def test_bloom_typed_literal_no_false_negative(spark, catalog):
    """Bloom probes on NON-string columns must canonicalize the SQL
    literal to the build-side rendering (bit patterns for float/double,
    CAST-to-string otherwise). The raw literal text `100000` differs
    from the double rendering, and a naive probe would declare the file
    definitely-absent — silently dropping rows that exist. Every typed
    probe below must keep the file that holds the value."""
    import datetime
    import decimal

    from iceberg_metadata_pipeline_spark.catalog.metacat import _prune_by_stats

    rows = [
        (
            i,
            float(i * 12500),  # 100000.0 at i=8 — renders '100000.0'
            decimal.Decimal(i) / 2,  # 100.50 at i=201 under (12,2)
            datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i),
            datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
        )
        for i in range(400)
    ]
    schema = "id long, d double, dec decimal(12,2), ts timestamp_ntz, dt date"
    t = catalog.create_table("nyc", "bloomtyped", spark.createDataFrame(rows, schema).schema)
    df = spark.createDataFrame(rows, schema)
    for r in range(4):  # interleave so min/max never prunes
        t.append_dataframe(df.filter(F.col("id") % 4 == r))
    for c in ["d", "dec", "ts", "dt", "id"]:
        t.build_bloom_filters(c)
    files = t.snapshot_files()

    probes = [  # filters as a user types them, each matching 1 row
        "d = 100000",
        "d = 100000.0",
        "dec = 100.5",
        "id = 250",
        "ts = '2024-01-05 04:00:00'",
        "dt = '2024-02-29'",
    ]
    for filt in probes:
        survivors = _prune_by_stats(files, filt)
        assert survivors, f"bloom false-negatively pruned ALL files for {filt!r}"
    # end-to-end: the scan with pruning active returns the matching rows
    assert t.scan(filter="d = 100000").count() == 1
    assert t.scan(filter="dec = 100.5").count() == 1
    assert t.scan(filter="ts = '2024-01-05 04:00:00'").count() == 1
    assert t.scan(filter="id = 250").count() == 1
    # definite absence still prunes (the perf half of the contract)
    assert _prune_by_stats(files, "d = 33333.5") == []
    assert _prune_by_stats(files, "id = 999999") == []
    # unparseable/unknown literal forms keep files (maybe-present)
    assert len(_prune_by_stats(files, "d = banana")) == len(files)


def test_column_min_max_stats_and_fallback(spark, catalog):
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, v double")
    t = catalog.create_table("nyc", "mm", df.schema)
    t.append_dataframe(df)
    assert t.column_min_max("v") == (0.0, 99.0)
    # pending MOR delete forces the scan fallback (the max row is deleted)
    t.delete_where_mor("id = 99")
    assert t.column_min_max("v") == (0.0, 98.0)


def test_incremental_bloom_maintenance_on_append(spark, catalog):
    """write.bloom-columns: every append blooms its own files at write
    time — no whole-table stats pass needed; pruning works immediately
    and newly appended files are covered too."""
    from iceberg_metadata_pipeline_spark.catalog.metacat import _prune_by_stats

    df = spark.createDataFrame(
        [(i, f"k_{i:04d}") for i in range(400)], "id long, name string"
    )
    t = catalog.create_table(
        "nyc", "abloom", df.schema, properties={"write.bloom-columns": "name"}
    )
    for r in range(3):
        t.append_dataframe(df.filter(F.col("id") % 3 == r))
    files = t.snapshot_files()
    assert all(f.stats.get("bloom_name") for f in files if f.record_count > 0)
    hits = _prune_by_stats([f for f in files if f.record_count > 0], "name = 'k_0007'")
    assert 1 <= len(hits) <= 2
    assert t.scan(filter="name = 'k_0007'").count() == 1
    assert catalog.load_table("nyc", "abloom").scan().count() == 400


def test_arrow_schema_inference_matches_spark(spark, sf_dir):
    """The driver-side pyarrow fast path must be indistinguishable from
    ``spark.read.parquet(...).schema`` (the A8 spec) on whitelist types,
    and must punt (None → Spark fallback) on anything else — uint64
    especially, whose DECIMAL(20,0) rendering only Spark defines."""
    import glob
    import os

    from iceberg_metadata_pipeline_spark.ingest.register import _infer_schema_arrow

    checked = fell_back = 0
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        fast = _infer_schema_arrow(p)
        if fast is None:
            fell_back += 1  # exotic types (e.g. embeddings' array<float>)
            continue
        assert fast == spark.read.parquet(p).schema, p
        checked += 1
    assert checked >= 8 and fell_back >= 1


def test_delete_files_and_position_deletes_metadata_tables(spark, catalog):
    """Iceberg's .delete_files / .position_deletes views over pending MOR
    entries: all three delete shapes appear with their provenance, and
    the positional view exposes the row-level (file, pos) content. Both
    reachable through SQL like the other metadata tables."""
    from iceberg_metadata_pipeline_spark.catalog.sqlfront import catalog_sql
    from pyspark.sql import types as T

    t = catalog.create_table(
        "nyc",
        "mordel",
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
        ),
    )
    t.append_dataframe(
        spark.createDataFrame([(i, f"n{i}") for i in range(10)], t.schema)
    )
    t.refresh()
    t.delete_where_mor("id = 1")  # predicate entry
    t.refresh()
    t.delete_keys_mor(spark.createDataFrame([(2,)], "id long"))  # equality file
    t.refresh()
    t.delete_where_positional("id = 3")  # position-delete file
    t.refresh()

    df = t.delete_files_df()
    by_kind = {r["kind"]: r for r in df.collect()}
    assert set(by_kind) == {"predicate", "equality", "position"}
    assert by_kind["predicate"]["predicate"] == "id = 1"
    assert by_kind["predicate"]["file_path"] is None
    assert by_kind["equality"]["equality_columns"] == "id"
    assert by_kind["equality"]["file_path"]
    # delete "files" are directories of part files: size is their sum,
    # not the directory inode (~4096)
    assert by_kind["equality"]["file_size_bytes"] > 0
    assert by_kind["position"]["file_path"]

    pos = t.position_deletes_df().collect()
    assert len(pos) == 1 and pos[0]["delete_file_path"] == by_kind["position"]["file_path"]
    # positions are FILE-relative (parallel appends split rows across
    # files); the referenced data file must be a live table file
    assert pos[0]["pos"] >= 0
    # file_path is URI-form (Spark's _metadata.file_path — the same form
    # the MOR anti-join matches against); strip the scheme to compare
    assert pos[0]["file_path"].removeprefix("file:") in {
        f.path for f in t.snapshot_files()
    }

    # scan still excludes all three deleted rows
    assert sorted(r["id"] for r in t.scan().collect()) == [0, 4, 5, 6, 7, 8, 9]

    # SQL reachability
    n = catalog_sql(catalog, "SELECT COUNT(*) AS n FROM nyc.mordel.delete_files")
    assert n.collect()[0]["n"] == 3
    p = catalog_sql(catalog, "SELECT pos FROM nyc.mordel.position_deletes").collect()
    assert [r["pos"] for r in p] == [pos[0]["pos"]]


def test_add_column_with_initial_default(spark, catalog):
    """Iceberg-v3 default semantics: pre-existing rows read the INITIAL
    default (not NULL), post-add appends that omit the column materialize
    the write-default, and appends that supply the column keep their
    values — including genuine NULLs, which must NOT be replaced (that is
    exactly the absent-vs-null distinction the per-file decision makes)."""
    from iceberg_metadata_pipeline_spark.catalog.sqlfront import catalog_sql
    from pyspark.sql import types as T

    t = catalog.create_table(
        "nyc",
        "defaults",
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
        ),
    )
    t.append_dataframe(spark.createDataFrame([(1, "a"), (2, "b")], t.schema))
    t.refresh()

    catalog_sql(
        catalog, "ALTER TABLE nyc.defaults ADD COLUMN region STRING DEFAULT 'emea'"
    )
    t.refresh()

    # old rows: the initial default, not NULL
    got = {(r["id"], r["region"]) for r in t.scan().collect()}
    assert got == {(1, "emea"), (2, "emea")}

    # append WITHOUT the column → write-default materializes
    t.append_dataframe(
        spark.createDataFrame([(3, "c")], "id long, name string")
    )
    t.refresh()
    # append WITH the column, including a genuine NULL → preserved
    t.append_dataframe(
        spark.createDataFrame(
            [(4, "d", "apac"), (5, "e", None)],
            "id long, name string, region string",
        )
    )
    t.refresh()
    got = {(r["id"], r["region"]) for r in t.scan().collect()}
    assert got == {
        (1, "emea"),
        (2, "emea"),
        (3, "emea"),
        (4, "apac"),
        (5, None),
    }

    # rename carries the default; drop forgets it
    t.rename_column("region", "zone")
    t.refresh()
    got = {(r["id"], r["zone"]) for r in t.scan().collect()}
    assert (1, "emea") in got and (5, None) in got
    t.drop_column("zone")
    t.refresh()
    assert "column-defaults" not in t.properties or "zone" not in t.properties.get(
        "column-defaults", ""
    )


def test_dynamic_overwrite_random_sequence_matches_model(spark, catalog):
    """Random append / dynamic-overwrite sequences over a partitioned
    table vs an in-memory model keyed by partition — guards the
    touched-partition derivation the way the MOR model test guards the
    commit algebra. Seeded."""
    import random

    from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField

    rng = random.Random(29)
    schema = spark.createDataFrame([(0, "p0", 0.0)], "id long, part string, v double").schema
    t = catalog.create_table(
        "nyc",
        "dynfuzz",
        schema,
        partition_spec=[PartitionField("part", "identity")],
    )
    model: dict[str, list[tuple]] = {}
    next_id = 0
    for step in range(10):
        parts = [f"p{rng.randint(0, 3)}" for _ in range(rng.randint(1, 2))]
        rows = []
        for p in set(parts):
            rows += [
                (next_id + i, p, float(rng.randint(0, 9))) for i in range(2)
            ]
            next_id += 2
        df = spark.createDataFrame(rows, schema)
        t.refresh()
        if rng.random() < 0.5:
            t.append_dataframe(df)
            for r in rows:
                model.setdefault(r[1], []).append(r)
        else:
            t.overwrite_partitions(df)
            for p in {r[1] for r in rows}:
                model[p] = [r for r in rows if r[1] == p]
        t.refresh()
        got = {(r["id"], r["part"], r["v"]) for r in t.scan().collect()}
        want = {r for rs in model.values() for r in rs}
        assert got == want, f"diverged at step {step}"


def test_schema_merge_append_and_compression_codec(spark, catalog):
    """write.spark.accept-any-schema: a batch carrying a NEW column
    auto-adds it (metadata-only) and older rows read NULL; without the
    property the extra column is simply not projected. Plus
    write.parquet.compression-codec lands in the files' footers."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    t = catalog.create_table(
        "nyc",
        "evolve",
        T.StructType([T.StructField("id", T.LongType())]),
        properties={"write.parquet.compression-codec": "zstd"},
    )
    t.append_dataframe(spark.range(3).selectExpr("id"))
    t.refresh()
    codecs = {
        pq.ParquetFile(f.path).metadata.row_group(0).column(0).compression
        for f in t.snapshot_files()
        if f.record_count > 0
    }
    assert codecs == {"ZSTD"}

    # no accept-any-schema: extra column writes but is not projected
    t.append_dataframe(spark.range(3, 5).selectExpr("id", "id * 2 AS extra"))
    t.refresh()
    assert "extra" not in t.scan().columns

    t.set_properties({"write.spark.accept-any-schema": "true"})
    t.append_dataframe(spark.range(5, 7).selectExpr("id", "id * 10 AS v2"))
    t.refresh()
    got = {(r["id"], r["v2"]) for r in t.scan().select("id", "v2").collect()}
    assert {(5, 50), (6, 60)} <= got
    assert all(v is None for i, v in got if i < 5)  # old rows: NULL


def test_maintain_honors_retention_properties(spark, catalog):
    """history.expire.max-snapshot-age-ms / min-snapshots-to-keep drive
    automatic snapshot expiry in maintain() — Iceberg's property names;
    without the property maintain never expires."""
    import time as _time

    t = catalog.create_table("nyc", "ret", spark.range(1).schema)
    for i in range(4):
        t.append_dataframe(spark.range(i * 10, i * 10 + 5))
    assert len(t.meta["snapshots"]) == 4
    t.maintain(small_files_threshold=999, chain_threshold=999)
    assert len(t.meta["snapshots"]) == 4  # no property → no expiry

    t.set_properties(
        {
            "history.expire.max-snapshot-age-ms": "50",
            "history.expire.min-snapshots-to-keep": "2",
        }
    )
    _time.sleep(0.1)  # everything is now older than 50ms
    report = t.maintain(small_files_threshold=999, chain_threshold=999)
    assert "snapshot_expiry" in report
    assert len(t.meta["snapshots"]) == 2  # min-to-keep floor
    assert t.scan().count() == 20  # current contents intact


def test_scan_metadata_columns(spark, catalog):
    """Iceberg's hidden metadata columns: _file/_pos from Spark's file
    metadata, _spec_id/_partition broadcast-joined from the manifest."""
    from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField

    t = catalog.create_table(
        "nyc",
        "metacols",
        spark.createDataFrame([(0, "x")], "id long, part string").schema,
        partition_spec=[PartitionField("part", "identity")],
    )
    t.append_dataframe(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, part string")
    )
    rows = t.scan(metadata_columns=True).collect()
    assert len(rows) == 2
    by_id = {r["id"]: r for r in rows}
    for i, p in ((1, "a"), (2, "b")):
        r = by_id[i]
        assert r["_file"].endswith(".parquet") and f"__p_part={p}" in r["_file"]
        assert r["_pos"] == 0
        assert r["_spec_id"] == t.meta["default_spec_id"]
        assert r["_partition"] == '{"part": "%s"}' % p
    # plain scans stay clean — no metadata columns leak
    assert set(t.scan().columns) == {"id", "part"}


def test_row_lineage_ids_stable_across_compaction(spark, catalog):
    """Iceberg v3 row lineage: every row gets a table-wide _row_id at
    commit (first_row_id block per file); ids are dense per append,
    monotonic across appends, SURVIVE compaction (materialized into the
    rewritten files), and deleted ids are never reused."""
    df1 = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, s string")
    t = catalog.create_table("nyc", "lineage", df1.schema)
    t.append_dataframe(df1.coalesce(1))
    t.append_dataframe(
        spark.createDataFrame([(100 + i, "w") for i in range(5)], df1.schema).coalesce(1)
    )
    rows = t.scan(metadata_columns=True).select("id", "_row_id").collect()
    ids = {r["id"]: r["_row_id"] for r in rows}
    assert sorted(ids.values()) == list(range(15))  # dense, no gaps, no dupes
    assert t.meta["next_row_id"] == 15
    # second append's block starts after the first (monotonic allocation)
    assert min(ids[100 + i] for i in range(5)) >= 10

    # MOR delete: survivors keep their ids
    t.delete_where_mor("id >= 100 AND id < 103")
    after_del = {r["id"]: r["_row_id"] for r in t.scan(metadata_columns=True).select("id", "_row_id").collect()}
    assert after_del == {k: v for k, v in ids.items() if not (100 <= k < 103)}

    # compaction preserves ids (materialized __row_id in the new files);
    # the rewrite still allocates a fresh (unused) block — v3 semantics:
    # next-row-id advances on every data commit, ids are never reused
    t.rewrite_data_files(target_num_files=1)
    after_cmp = {r["id"]: r["_row_id"] for r in t.scan(metadata_columns=True).select("id", "_row_id").collect()}
    assert after_cmp == after_del
    counter_after_cmp = t.meta["next_row_id"]
    assert counter_after_cmp >= 15
    # a new append takes ids beyond everything ever allocated
    t.append_dataframe(spark.createDataFrame([(999, "z")], df1.schema))
    final = {r["id"]: r["_row_id"] for r in t.scan(metadata_columns=True).select("id", "_row_id").collect()}
    assert final[999] == counter_after_cmp
    new_id = final.pop(999)
    assert new_id not in after_cmp.values()
    assert final == after_cmp

    # sort-order rewrite also preserves ids (rows move files; ids don't)
    t.rewrite_data_files(target_num_files=2, sort_by=["id"])
    sorted_ids = {r["id"]: r["_row_id"] for r in t.scan(metadata_columns=True).select("id", "_row_id").collect()}
    assert sorted_ids == {**final, 999: new_id}

    # copy-on-write UPDATE carries ids (v3 carry-over): the updated row
    # keeps its _row_id on the new version
    t.update_set("id = 3", {"s": "'patched'"})
    upd = {r["id"]: r["_row_id"] for r in t.scan(metadata_columns=True).select("id", "_row_id").collect()}
    assert upd == sorted_ids
    assert t.scan(filter="id = 3").first()["s"] == "patched"

    # plain scans stay clean
    assert set(t.scan().columns) == {"id", "s"}


def test_row_lineage_binpack_preserves_ids(spark, catalog):
    """Bin-pack compaction (the partition-preserving maintenance path)
    also carries row ids through the rewrite."""
    schema = "id long, v double"
    t = catalog.create_table("nyc", "lineage_bp", spark.createDataFrame([], schema).schema)
    for k in range(4):  # four small files
        t.append_dataframe(
            spark.createDataFrame([(k * 10 + i, float(i)) for i in range(5)], schema).coalesce(1)
        )
    before = {r["id"]: r["_row_id"] for r in t.scan(metadata_columns=True).select("id", "_row_id").collect()}
    assert sorted(before.values()) == list(range(20))
    sid = t.rewrite_small_files(target_file_size_bytes=1 << 20, min_group_files=2)
    assert sid is not None and len(t.snapshot_files()) < 4
    after = {r["id"]: r["_row_id"] for r in t.scan(metadata_columns=True).select("id", "_row_id").collect()}
    assert after == before


def test_changelog_compute_updates_pairs_rows(spark, catalog):
    """changelog(compute_updates=True): an UPDATE between two snapshots
    comes back as update_preimage/update_postimage paired by row id, not
    as an unpaired delete+insert; pure inserts/deletes classify as
    themselves; unchanged rows that merely moved files emit nothing."""
    df = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(20)], "id long, s string, v double"
    )
    t = catalog.create_table("nyc", "cdcpair", df.schema)
    t.append_dataframe(df.coalesce(1))
    snap1 = t.meta["current_snapshot_id"]
    t.update_set("id IN (3, 7)", {"s": "'changed'"})  # CoW update, ids carried
    t.append_dataframe(spark.createDataFrame([(100, "new", 0.0)], df.schema))
    t.delete_where("id = 11")
    ch = t.changelog(snap1, compute_updates=True).collect()
    by_type: dict[str, list] = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert sorted(r["id"] for r in by_type["update_preimage"]) == [3, 7]
    assert sorted(r["id"] for r in by_type["update_postimage"]) == [3, 7]
    assert all(r["s"] == "changed" for r in by_type["update_postimage"])
    assert all(r["s"] != "changed" for r in by_type["update_preimage"])
    assert [r["id"] for r in by_type["insert"]] == [100]
    assert [r["id"] for r in by_type["delete"]] == [11]
    # nothing else: untouched rows rewritten alongside id 3/7/11 are quiet
    assert len(ch) == 2 + 2 + 1 + 1
    # the unpaired (legacy) changelog still reports the same net changes
    legacy = t.changelog(snap1).collect()
    assert sum(r["_change_type"] == "insert" for r in legacy) >= 3  # 3,7 post + 100


def test_merge_inserted_rows_get_fresh_lineage_ids(spark, catalog):
    """MERGE writing matched updates and new inserts into one rewritten
    file: carried ids stay, inserted rows inherit the file's fresh block
    — no NULLs, no collisions."""
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    t = catalog.create_table("nyc", "mergelin", df.schema)
    t.append_dataframe(df.coalesce(1))
    before = {r["k"]: r["_row_id"] for r in t.scan(metadata_columns=True).select("k", "_row_id").collect()}
    src = spark.createDataFrame([(2, 99.0), (3, 30.0)], "k long, v double")
    t.merge_into(src, on=["k"], when_matched_set={"v": "src_v"})
    after = {r["k"]: r["_row_id"] for r in t.scan(metadata_columns=True).select("k", "_row_id").collect()}
    assert after[1] == before[1] and after[2] == before[2]  # carried
    assert after[3] is not None and after[3] not in before.values()  # fresh
    assert len(set(after.values())) == 3  # no collisions


def test_cherrypick_snapshot_publishes_diverged_wap_branch(spark, tables, tmp_path):
    """When main advanced after the audit branch forked, publish_branch
    correctly refuses the fast-forward; cherrypick_snapshot re-applies
    the staged APPEND's files onto the new head — the non-FF WAP escape.
    Non-append snapshots are rejected; replays are idempotent."""
    import pytest as _pytest

    from iceberg_metadata_pipeline_spark.catalog.sqlfront import catalog_sql

    customer = tables["customer"]
    catalog = Catalog(spark, str(tmp_path / "wapcp"))
    t = catalog.create_table("nyc", "c_cp", customer.schema)
    t.append_dataframe(customer.limit(10))
    staged = t.append_dataframe(
        customer.limit(20).exceptAll(customer.limit(10)), branch="audit"
    )
    t.append_dataframe(customer.limit(30).exceptAll(customer.limit(20)))  # main moves
    with pytest.raises(ValueError, match="fast-forward"):
        t.publish_branch("audit")

    out = catalog_sql(
        catalog,
        f"CALL system.cherrypick_snapshot('nyc.c_cp', {staged})",
    ).collect()
    assert out[0]["source_snapshot_id"] == staged
    t.refresh()
    assert t.scan().count() == 30  # 10 base + 10 main-advance + 10 staged

    # idempotent: the staged files are already on the head
    t.cherrypick_snapshot(staged)
    t.refresh()
    assert t.scan().count() == 30

    # delete snapshots cannot be cherry-picked (a no-op delete would not
    # even commit — the round-2 guard — so delete real rows)
    t.delete_where("c_custkey <= 5")
    bad = t.meta["snapshots"][-1]["snapshot_id"]
    with _pytest.raises(ValueError, match="append snapshots only"):
        t.cherrypick_snapshot(bad)


def test_merge_insert_honors_column_defaults(spark, catalog):
    """MERGE ... WHEN NOT MATCHED INSERT (cols) must fill unlisted
    columns with their declared default, matching the INSERT statement
    path — the same logical operation must not yield different rows."""
    from pyspark.sql import types as T

    t = catalog.create_table(
        "nyc",
        "mrgdef",
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
        ),
    )
    t.add_column("status", "string", default="'new'")
    t.refresh()
    t.append_dataframe(
        spark.createDataFrame([(1, "a", "old")], "id long, v string, status string")
    )
    t.refresh()
    t.merge_into(
        spark.createDataFrame([(2, "b")], "id long, v string"),
        on=["id"],
        when_not_matched=[{"condition": None, "values": {"id": "src_id", "v": "src_v"}}],
    )
    t.refresh()
    got = {(r["id"], r["v"], r["status"]) for r in t.scan().collect()}
    assert got == {(1, "a", "old"), (2, "b", "new")}


def test_entries_family_metadata_tables(spark, catalog):
    """Iceberg's .entries / .all_entries / .all_manifests /
    .all_data_files / .all_delete_files: entry statuses track per-commit
    transitions (1=added, 0=existing, 2=deleted), authorship survives
    carry-forward, and every view is SQL-reachable."""
    from iceberg_metadata_pipeline_spark.catalog.sqlfront import catalog_sql
    from pyspark.sql import types as T

    t = catalog.create_table(
        "nyc",
        "entfam",
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
        ),
    )
    t.append_dataframe(
        spark.createDataFrame([(i, f"a{i}") for i in range(6)], t.schema)
    )
    t.refresh()
    s1 = t.current_snapshot["snapshot_id"]
    t.append_dataframe(
        spark.createDataFrame([(i, f"b{i}") for i in range(6, 10)], t.schema)
    )
    t.refresh()
    s2 = t.current_snapshot["snapshot_id"]

    # .entries — second append's files are ADDED(1), first append's EXISTING(0)
    ent = t.entries_df().collect()
    by_status = {}
    for r in ent:
        by_status.setdefault(r["status"], []).append(r)
    assert {r["snapshot_id"] for r in by_status[1]} == {s2}
    assert {r["snapshot_id"] for r in by_status[0]} == {s1}
    assert all(r["sequence_number"] is not None for r in ent)

    # MOR delete → .all_delete_files records it with provenance
    t.delete_where_mor("id = 1")
    t.refresh()
    adf = t.all_delete_files_df().collect()
    assert len(adf) == 1 and adf[0]["kind"] == "predicate"
    assert adf[0]["reference"] == "id = 1"

    # compaction rewrites files → .all_entries shows DELETED(2) transitions
    t.rewrite_data_files()
    t.refresh()
    allent = t.all_entries_df().collect()
    statuses = {r["status"] for r in allent}
    assert 2 in statuses and 1 in statuses
    removed_paths = {r["file_path"] for r in allent if r["status"] == 2}
    first_commit_added = {r["file_path"] for r in allent if r["snapshot_id"] == s1}
    assert first_commit_added <= removed_paths  # originals replaced

    # .all_manifests spans every commit; .all_data_files spans history
    am = t.all_manifests_df().collect()
    assert len(am) == len(t.meta["snapshots"])
    adf2 = t.all_data_files_df().collect()
    live = {r["file_path"] for r in t.files_df().collect()}
    assert live <= {r["file_path"] for r in adf2}

    # SQL reachability of the whole family
    for meta in ("entries", "all_entries", "all_manifests",
                 "all_data_files", "all_delete_files"):
        out = catalog_sql(catalog, f"SELECT COUNT(*) AS n FROM nyc.entfam.{meta}")
        assert out.collect()[0]["n"] >= 1


def test_expire_snapshots_protects_ref_snapshots(spark, catalog):
    """Ref-aware expiry (Iceberg semantics): snapshots a tag or branch
    points at survive expire_snapshots even outside the keep-last window,
    stay readable via VERSION AS OF '<ref>' (their chain island is
    checkpointed self-contained), and their files are not orphaned."""
    from iceberg_metadata_pipeline_spark.catalog.sqlfront import catalog_sql
    from pyspark.sql import types as T

    t = catalog.create_table(
        "nyc", "refkeep",
        T.StructType([T.StructField("id", T.LongType())]),
    )
    sids = []
    for lo in (0, 10, 20, 30):
        t.append_dataframe(
            spark.createDataFrame([(i,) for i in range(lo, lo + 5)], t.schema)
        )
        t.refresh()
        sids.append(t.current_snapshot["snapshot_id"])
    t.create_tag("v2", sids[1])
    orphaned = t.expire_snapshots(keep_last=1)
    t.refresh()
    kept = {s["snapshot_id"] for s in t.meta["snapshots"]}
    assert kept == {sids[1], sids[3]}  # tag target + current survive
    # the tagged snapshot resolves through its checkpoint island
    rows = catalog_sql(
        catalog, "SELECT COUNT(*) AS n FROM nyc.refkeep VERSION AS OF 'v2'"
    ).collect()
    assert rows[0]["n"] == 10  # two appends of 5
    # current head still reads everything
    assert t.scan().count() == 20
    # no file referenced by a surviving snapshot was reported orphaned
    live = {f.path for f in t.snapshot_files()} | {
        f.path for f in t.snapshot_files(snapshot_id=sids[1])
    }
    assert not (set(orphaned) & live)


def test_maintain_expires_aged_refs(spark, catalog):
    """history.expire.max-ref-age-ms: maintain() drops branches/tags older
    than the limit (so snapshot expiry stops protecting their snapshots);
    young refs survive."""
    import time as _time

    from pyspark.sql import types as T

    t = catalog.create_table(
        "nyc", "refage", T.StructType([T.StructField("id", T.LongType())])
    )
    t.append_dataframe(spark.createDataFrame([(1,)], t.schema))
    t.refresh()
    t.create_tag("old_tag")
    t.create_branch("young_branch")
    # age the tag artificially (metadata edit, like a long-lived table)
    t.meta["refs"]["old_tag"]["created_ms"] = int(_time.time() * 1000) - 10_000_000
    t.set_properties({"history.expire.max-ref-age-ms": "3600000"})
    report = t.maintain()
    assert report.get("ref_expiry", {}).get("dropped_refs") == ["old_tag"]
    t.refresh()
    assert set(t.meta.get("refs", {})) == {"young_branch"}


def test_branch_write_preserves_created_ms(spark, catalog):
    """Advancing a branch is not re-creating it: the ref keeps its birth
    time through writes (ref-age retention and .refs depend on it)."""
    from pyspark.sql import types as T

    t = catalog.create_table(
        "nyc", "refborn", T.StructType([T.StructField("id", T.LongType())])
    )
    t.append_dataframe(spark.createDataFrame([(1,)], t.schema))
    t.refresh()
    t.create_branch("b")
    born = t.meta["refs"]["b"]["created_ms"]
    t.append_dataframe(spark.createDataFrame([(2,)], t.schema), branch="b")
    t.refresh()
    assert t.meta["refs"]["b"]["created_ms"] == born
    row = {r["name"]: r["created_ms"] for r in t.refs_df().collect()}
    assert row["b"] == born


def _plan_node_counts(df) -> tuple[int, int]:
    """(parquet scans, LEFT ANTI joins) in ``df``'s physical plan, taken
    before execution (an executed adaptive plan also prints its initial
    plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("FileScan parquet"), plan.count("LeftAnti")


def test_mor_read_plan_size_independent_of_history(spark, catalog):
    """Six MOR rounds mixing predicate, equality and position deletes:
    the read plan holds one parquet scan for the data (one schema
    signature), one scan per delete-file shape, one Filter for every
    predicate delete and one anti-join per delete shape — however many
    delete commits there were. Rows match a Python model of the same
    history, including the sequence rule (new copies and inserted rows
    are exempt from older deletes)."""
    df = spark.createDataFrame(
        [(i, i, "a" if i % 2 == 0 else "b") for i in range(200)],
        "id long, v long, tag string",
    )
    t = catalog.create_table("nyc", "morshape", df.schema)
    t.append_dataframe(df.repartition(3))
    model = {i: (i, "a" if i % 2 == 0 else "b") for i in range(200)}

    t.update_set_mor("id % 7 = 1", {"v": "v + 100"})
    model.update({i: (v + 100, g) for i, (v, g) in model.items() if i % 7 == 1})
    t.delete_keys_mor(spark.createDataFrame([(3,), (4,)], "id long"))
    for i in (3, 4):
        model.pop(i)
    t.delete_where_positional("id % 11 = 5")
    model = {i: r for i, r in model.items() if i % 11 != 5}
    t.merge_into_mor(
        spark.createDataFrame([(8, 999, "c"), (500, 5, "c")], "id long, v long, tag string"),
        on=["id"],
        when_matched_set={"v": "src_v"},
    )
    model[8] = (999, "a")
    model[500] = (5, "c")
    t.delete_where_mor("tag = 'b' AND id > 150")
    model = {i: r for i, r in model.items() if not (r[1] == "b" and i > 150)}
    t.delete_keys_mor(spark.createDataFrame([(20,), (500,)], "id long"))
    t.delete_where_positional("id = 30")
    for i in (20, 500, 30):
        model.pop(i)

    kinds = sorted(d["kind"] for d in t._resolve_deletes(t.current_snapshot))
    assert kinds == ["equality"] * 3 + ["position"] * 2 + ["predicate"] * 2
    scan = t.scan()
    # data files, position-delete files, equality-delete files; one join
    # per delete shape. (The optimizer may split the one predicate Filter
    # across the plan, so that is counted as built.)
    assert _plan_node_counts(scan) == (3, 2)
    assert scan._jdf.queryExecution().analyzed().toString().count("Filter") == 1
    assert {r["id"]: (r["v"], r["tag"]) for r in scan.collect()} == model


def test_mor_null_equality_keys(spark, catalog, tmp_path):
    """SQL ``DELETE … WHERE k IN (SELECT …)`` with a NULL in the subquery
    and NULL-key rows in the table keeps the NULL-key rows, as DuckDB
    does (a NULL key deletes nothing under IN semantics). A foreign
    equality delete carrying a NULL key removes the NULL-key rows: the
    Iceberg spec matches equality deletes null-safely."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog.sqlfront import catalog_sql

    rows = [(1, "a"), (2, "b"), (None, "n1"), (3, "c"), (None, "n2")]
    keys = [(2,), (None,)]
    t = catalog.create_table(
        "nyc", "nullk", spark.createDataFrame(rows, "k long, s string").schema
    )
    t.append_dataframe(spark.createDataFrame(rows, "k long, s string"))
    kt = catalog.create_table("nyc", "nullkeys", spark.createDataFrame(keys, "k long").schema)
    kt.append_dataframe(spark.createDataFrame(keys, "k long"))
    stmt = "DELETE FROM nyc.nullk WHERE k IN (SELECT k FROM nyc.nullkeys)"
    catalog_sql(catalog, stmt)
    got = sorted(
        (r["k"] is None, r["k"], r["s"])
        for r in catalog_sql(catalog, "SELECT k, s FROM nyc.nullk").collect()
    )

    con = duckdb.connect()
    con.execute("CREATE SCHEMA nyc")
    con.execute("CREATE TABLE nyc.nullk (k BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO nyc.nullk VALUES (?, ?)", rows)
    con.execute("CREATE TABLE nyc.nullkeys (k BIGINT)")
    con.executemany("INSERT INTO nyc.nullkeys VALUES (?)", keys)
    con.execute(stmt)
    want = sorted(
        (k is None, k, s) for k, s in con.execute("SELECT k, s FROM nyc.nullk").fetchall()
    )
    assert got == want
    assert [s for null, _, s in got if null] == ["n1", "n2"]

    path = str(tmp_path / "eq-null.parquet")
    pq.write_table(pa.table({"k": pa.array([None, 3], pa.int64())}), path)
    t.refresh().add_foreign_delete_files([], [(["k"], [path])])
    assert sorted(r["s"] for r in t.refresh().scan().collect()) == ["a"]


def test_cow_update_after_mor_delete_respects_sequences(spark, catalog):
    """A copy-on-write UPDATE after a merge-on-read delete rewrites only
    the files it touches. The rewritten files get a higher sequence, so
    the pending delete no longer applies to them, even where the update
    makes rows match it; carried-over files keep their sequence and stay
    subject to it."""
    schema = "id long, v long"
    t = catalog.create_table("nyc", "cowmor", spark.createDataFrame([], schema).schema)
    t.append_dataframe(spark.createDataFrame([(i, i % 3) for i in range(10)], schema))
    t.append_dataframe(
        spark.createDataFrame([(i, i % 3) for i in range(100, 110)], schema).coalesce(1)
    )
    t.delete_where_mor("v = 0")
    (dseq,) = [d["seq"] for d in t._resolve_deletes(t.current_snapshot)]
    old = {f.path: f.seq for f in t.snapshot_files()}

    t.update_set("id < 50", {"v": "0"})
    files = t.snapshot_files()
    carried = [f for f in files if f.path in old]
    rewritten = [f for f in files if f.path not in old]
    assert carried and rewritten
    assert all(f.seq < dseq for f in carried)
    assert all(f.seq > dseq for f in rewritten)
    assert [d["seq"] for d in t._resolve_deletes(t.current_snapshot)] == [dseq]
    got = sorted((r["id"], r["v"]) for r in t.scan().collect())
    assert got == [(i, 0) for i in range(10) if i % 3] + [
        (i, i % 3) for i in range(100, 110) if i % 3
    ]


def test_delete_keys_mor_skips_empty_key_sets(spark, catalog):
    """An equality delete whose keys are all NULL, or that has no keys at
    all, deletes nothing and commits no delete entry: a 0-row delete file
    would otherwise be listed and read by every later scan."""
    t = catalog.create_table(
        "nyc", "emptykeys", spark.createDataFrame([(1, "a")], "k long, s string").schema
    )
    t.append_dataframe(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    t.refresh().delete_keys_mor(spark.createDataFrame([(None,)], "k long"))
    t.refresh().delete_keys_mor(spark.createDataFrame([], "k long"))
    t.refresh()
    assert t._resolve_deletes(t.current_snapshot) == []
    assert sorted(r["k"] for r in t.scan().collect()) == [1, 2]
