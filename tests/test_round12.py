"""Round 12: the REST catalog's scan planning (compound filters, paged
plans, equality-key refusals), multi-table transactions and staged
creates, and incremental Iceberg export. The round's DataSource tests
live with their sources (test_pyice_source.py, test_pyrest_source.py)."""

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


def test_strip_outer_parens_unit():
    from iceberg_metadata_pipeline_spark.catalog.partitioning import (
        strip_outer_parens,
    )

    assert strip_outer_parens("(a = 1)") == "a = 1"
    assert strip_outer_parens("((x > 2))") == "x > 2"
    assert strip_outer_parens("(a = 1) OR (b = 2)") == "(a = 1) OR (b = 2)"
    assert strip_outer_parens("a = '(weird)'") == "a = '(weird)'"
    assert strip_outer_parens("(a = '(x')") == "a = '(x'"


def test_plan_compound_and_filter_prunes_both_columns(spark, server):
    """r11 ADVICE (low): _expr_to_sql parenthesizes AND branches, which
    made stats pruning inert for every compound filter. With the parens
    stripped per conjunct, an AND filter prunes on BOTH columns."""
    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["pp"]})
    t = catalog.create_table(
        "pp", "t", spark.range(1).selectExpr("id AS a", "id AS b").schema
    )
    # three files with disjoint (a, b) ranges
    for lo in (0, 100, 200):
        t.append_dataframe(
            spark.range(lo, lo + 10).selectExpr("id AS a", "id AS b")
            .coalesce(1)
        )
    url = f"{base}/v1/namespaces/pp/tables/t/plan"
    flt = {
        "type": "and",
        "left": {"type": "gt-eq", "term": "a", "value": 100},
        "right": {"type": "lt", "term": "b", "value": 150},
    }
    code, out = _req(url, "POST", {"filter": flt})
    assert code == 200
    # a >= 100 drops file 1; b < 150 drops file 3 → exactly one task
    assert len(out["file-scan-tasks"]) == 1
    fp = out["file-scan-tasks"][0]["data-file"]["file-path"]
    import pyarrow.parquet as pq

    vals = pq.read_table(fp).column("a").to_pylist()
    assert min(vals) == 100


def test_plan_refuses_unresolvable_equality_keys(spark, server, tmp_path):
    """r11 ADVICE (medium): planTableScan must REFUSE (409) when an
    equality-delete key column no longer resolves against the served
    schema — silently narrowing equality-ids would make a thin client
    anti-join on fewer columns and over-delete."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["eqk"]})
    t = catalog.create_table(
        "eqk", "t", spark.range(1).selectExpr("id", "id AS k").schema
    )
    t.append_dataframe(spark.range(5).selectExpr("id", "id AS k").coalesce(1))
    eqp = str(tmp_path / "eq.parquet")
    pq.write_table(pa.table({"k": pa.array([2], pa.int64())}), eqp)
    t.add_foreign_delete_files([], [(["k"], [eqp])])
    url = f"{base}/v1/namespaces/eqk/tables/t/plan"
    code, out = _req(url, "POST", {})
    assert code == 200  # resolvable: plan serves the equality delete
    assert out["delete-files"][0]["equality-ids"]
    t.rename_column("k", "k2")
    import urllib.error

    try:
        _req(url, "POST", {})
        raise AssertionError("plan should refuse after key rename")
    except urllib.error.HTTPError as e:
        assert e.code == 409
        assert b"do not resolve" in e.read()


def test_incremental_export_occ_retry(spark, tmp_path, monkeypatch):
    """r11 ADVICE (low): _commit_incremental_row_delta claims EXACTLY
    base_version+1 — a concurrent mirror commit between read and claim
    fails the claim and the caller retries from the fresh latest state
    instead of superseding the concurrent commit with a stale snapshot."""
    import json as _json
    import shutil

    from iceberg_metadata_pipeline_spark.catalog import iceberg_format as IF

    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(20).selectExpr("id", "id % 3 AS k")
    t = catalog.create_table("nyc", "occ", df.schema)
    t.append_dataframe(df.coalesce(1))
    dest = str(tmp_path / "ice")
    IF.export_iceberg_table(t.refresh(), dest)

    # next change: a positional MOR delete → incremental row-delta path
    # (delete_where_mor would mint a PREDICATE entry, which disables the
    # incremental path by design)
    t.delete_where_positional("k = 1")

    real_claim = IF._claim_metadata_version
    state = {"raced": False}

    def racing_claim(location, metadata, version):
        if not state["raced"] and location == dest:
            state["raced"] = True
            # concurrent writer lands first at the same version
            latest = IF._latest_metadata_path(dest)
            with open(latest) as fh:
                md = _json.load(fh)
            md["last-updated-ms"] = md.get("last-updated-ms", 0) + 1
            assert real_claim(dest, md, version) is not None
        return real_claim(location, metadata, version)

    monkeypatch.setattr(IF, "_claim_metadata_version", racing_claim)
    out = IF.export_iceberg_table(t.refresh(), dest)
    assert state["raced"]
    monkeypatch.undo()

    # the export landed ABOVE the concurrent commit and serves the
    # post-delete rows exactly
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import register

    register(spark)
    got = sorted(
        r.id for r in spark.read.format("pyice").load(dest).collect()
    )
    assert got == [i for i in range(20) if i % 3 != 1]


def test_replace_equality_delete_preserves_anchor_seq(spark, tmp_path):
    """r11 ADVICE (low): a 1:1 equality rewrite passing the removed
    entry's seq (4-tuple group) applies to exactly the original files;
    the bare 3-tuple form re-anchors to the maintenance commit and
    widens reach — both behaviors pinned."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(wh):
        catalog = Catalog(spark, str(tmp_path / wh))
        t = catalog.create_table(
            "nyc", "anch", spark.range(1).selectExpr("id", "id AS k").schema
        )
        t.append_dataframe(
            spark.range(0, 5).selectExpr("id", "id AS k").coalesce(1)
        )
        eqp = str(tmp_path / f"{wh}-eq.parquet")
        pq.write_table(pa.table({"k": pa.array([2], pa.int64())}), eqp)
        t.add_foreign_delete_files([], [(["k"], [eqp])])
        orig_seq = next(
            d["seq"]
            for d in t._resolve_deletes(t.current_snapshot)
            if d["kind"] == "equality"
        )
        # rows appended AFTER the delete: k=2 here must SURVIVE
        t.append_dataframe(
            spark.createDataFrame([(100, 2)], "id long, k long").coalesce(1)
        )
        from iceberg_metadata_pipeline_spark.ingest.discover import (
            find_parquet_files,
        )

        old_root = next(
            d["path"]
            for d in t._resolve_deletes(t.current_snapshot)
            if d["kind"] == "equality"
        )
        import os as _os

        old_path = (
            find_parquet_files(old_root)
            if _os.path.isdir(old_root)
            else [old_root]
        )
        eqp2 = str(tmp_path / f"{wh}-eq2.parquet")
        pq.write_table(pa.table({"k": pa.array([2], pa.int64())}), eqp2)
        return t, orig_seq, old_path, eqp2

    # anchored rewrite: the later k=2 row survives (exact 1:1 semantics)
    t, orig_seq, old_path, eqp2 = build("wh-a")
    t.replace_delete_files(list(old_path), [], [(["k"], [eqp2], None, orig_seq)])
    got = sorted(r.id for r in t.scan().collect())
    assert got == [0, 1, 3, 4, 100]

    # bare rewrite re-anchors: the later k=2 row is now deleted too
    t2, _seq, old_path2, eqp3 = build("wh-b")
    t2.replace_delete_files(list(old_path2), [], [(["k"], [eqp3])])
    got2 = sorted(r.id for r in t2.scan().collect())
    assert got2 == [0, 1, 3, 4]


def test_plan_pagination_wire_walk(spark, server, tmp_path):
    """r11 verdict weak #2: planTableScan with page-size returns the
    first page + stateless plan-tasks tokens; walking fetchScanTasks
    yields exactly the unpaged plan (same tasks, same delete refs),
    every response bounded by the page size — including a table with
    MOR deletes whose delete-files arrays re-index page-locally."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["pg"]})
    t = catalog.create_table(
        "pg", "t", spark.range(1).selectExpr("id").schema
    )
    for lo in range(0, 50, 10):  # five files
        t.append_dataframe(
            spark.range(lo, lo + 10).selectExpr("id").coalesce(1)
        )
    # a position delete referencing the first file (applies to all five
    # tasks' pages through the seq rule? no — position refs one file,
    # but the REFERENCE rides every page whose tasks it applies to)
    f0 = sorted(x.path for x in t.snapshot_files())[0]
    dp = str(tmp_path / "pg-d.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([f0], pa.string()),
                "pos": pa.array([0], pa.int64()),
            }
        ),
        dp,
    )
    t.add_position_delete_files([dp])

    url = f"{base}/v1/namespaces/pg/tables/t/plan"
    code, full = _req(url, "POST", {})
    assert code == 200 and len(full["file-scan-tasks"]) == 5

    code, paged = _req(url, "POST", {"page-size": 2})
    assert code == 200
    assert len(paged["file-scan-tasks"]) == 2
    # LINKED pagination: each response carries exactly ONE next-token,
    # so every response is O(page) — incl. the first
    tokens = paged["plan-tasks"]
    assert len(tokens) == 1

    def resolve(page):
        dels = page.get("delete-files") or []
        out = []
        for task in page["file-scan-tasks"]:
            out.append(
                (
                    task["data-file"]["file-path"],
                    tuple(
                        dels[i]["file-path"]
                        for i in task.get("delete-file-references") or []
                    ),
                )
            )
        return out

    walked = resolve(paged)
    turl = f"{base}/v1/namespaces/pg/tables/t/tasks"
    pending = list(tokens)
    n_pages = 0
    while pending:
        code, page = _req(turl, "POST", {"plan-task": pending.pop(0)})
        assert code == 200
        assert len(page["file-scan-tasks"]) <= 2  # bounded per response
        assert len(page.get("plan-tasks") or []) <= 1  # linked chain
        walked.extend(resolve(page))
        pending.extend(page.get("plan-tasks") or [])
        n_pages += 1
    assert n_pages == 2  # offsets 2 and 4
    assert walked == resolve(full)
    # the delete reference survives paging on whichever page holds f0's task
    assert any(refs for _p, refs in walked)

    # garbled token → 400
    import urllib.error

    try:
        _req(turl, "POST", {"plan-task": "bm90LWEtdG9rZW4="})
        raise AssertionError("garbled token should 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_plan_pagination_pins_snapshot(spark, server):
    """Tokens pin the snapshot at plan time: appends landing between
    page fetches do NOT leak into later pages (stable pagination)."""
    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["pg2"]})
    t = catalog.create_table(
        "pg2", "t", spark.range(1).selectExpr("id").schema
    )
    for lo in range(0, 30, 10):
        t.append_dataframe(
            spark.range(lo, lo + 10).selectExpr("id").coalesce(1)
        )
    url = f"{base}/v1/namespaces/pg2/tables/t/plan"
    code, paged = _req(url, "POST", {"page-size": 2})
    assert len(paged["file-scan-tasks"]) == 2 and len(paged["plan-tasks"]) == 1
    # concurrent append AFTER planning
    t.append_dataframe(spark.range(100, 110).selectExpr("id").coalesce(1))
    code, page2 = _req(
        f"{base}/v1/namespaces/pg2/tables/t/tasks",
        "POST",
        {"plan-task": paged["plan-tasks"][0]},
    )
    assert not page2.get("plan-tasks")  # pinned snapshot exhausted
    got = {tk["data-file"]["file-path"] for tk in paged["file-scan-tasks"]}
    got |= {tk["data-file"]["file-path"] for tk in page2["file-scan-tasks"]}
    assert len(got) == 3  # the three planned files, not the fourth


def test_transaction_two_table_atomic_commit(spark, server):
    """POST /v1/transactions/commit: both tables' changes land in one
    transaction; a stale requirement on table B refuses the WHOLE
    transaction with table A untouched (requirements all validate
    before the first mutation)."""
    import urllib.error

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["tx"]})
    ta = catalog.create_table("tx", "a", spark.range(1).selectExpr("id").schema)
    tb = catalog.create_table("tx", "b", spark.range(1).selectExpr("id").schema)
    ta.append_dataframe(spark.range(3).selectExpr("id").coalesce(1))
    tb.append_dataframe(spark.range(3).selectExpr("id").coalesce(1))
    sid_a = int(ta.current_snapshot["snapshot_id"])
    sid_b = int(tb.current_snapshot["snapshot_id"])

    def change(name, sid, k, v):
        return {
            "identifier": {"namespace": ["tx"], "name": name},
            "requirements": [
                {"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": sid}
            ],
            "updates": [{"action": "set-properties", "updates": {k: v}}],
        }

    # happy path: both land
    code, _ = _req(
        f"{base}/v1/transactions/commit",
        "POST",
        {"table-changes": [change("a", sid_a, "p", "1"), change("b", sid_b, "q", "2")]},
    )
    assert code == 204
    assert catalog.load_table("tx", "a").properties.get("p") == "1"
    assert catalog.load_table("tx", "b").properties.get("q") == "2"

    # stale requirement on B: 409, A untouched
    try:
        _req(
            f"{base}/v1/transactions/commit",
            "POST",
            {
                "table-changes": [
                    change("a", sid_a, "p", "CHANGED"),
                    change("b", 424242, "q", "CHANGED"),
                ]
            },
        )
        raise AssertionError("stale requirement should 409")
    except urllib.error.HTTPError as e:
        assert e.code == 409
    assert catalog.load_table("tx", "a").properties.get("p") == "1"  # untouched
    assert catalog.load_table("tx", "b").properties.get("q") == "2"

    # malformed update SHAPE on B also refuses with A untouched
    bad = {
        "identifier": {"namespace": ["tx"], "name": "b"},
        "requirements": [],
        "updates": [{"action": "add-schema", "schema": {"type": "struct", "fields": []}}],
    }
    try:
        _req(
            f"{base}/v1/transactions/commit",
            "POST",
            {"table-changes": [change("a", sid_a, "p", "CHANGED2"), bad]},
        )
        raise AssertionError("unpaired add-schema should 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
    assert catalog.load_table("tx", "a").properties.get("p") == "1"


def test_staged_create_commits_through_transaction(spark, server):
    """stage-create → commitTransaction with assert-create: the table
    does not exist until the transaction lands; afterwards loadTable
    round-trips it with the staged schema + the commit's properties."""
    import urllib.error

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["sc"]})
    schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "v", "required": False, "type": "double"},
        ],
    }
    code, staged = _req(
        f"{base}/v1/namespaces/sc/tables",
        "POST",
        {"name": "ctas", "schema": schema, "stage-create": True},
    )
    assert code == 200
    assert "metadata-location" not in staged  # staged, not live
    assert not catalog.table_exists("sc", "ctas")

    # committing WITHOUT assert-create → 404 (not a live table)
    try:
        _req(
            f"{base}/v1/transactions/commit",
            "POST",
            {
                "table-changes": [
                    {
                        "identifier": {"namespace": ["sc"], "name": "ctas"},
                        "requirements": [],
                        "updates": [],
                    }
                ]
            },
        )
        raise AssertionError("missing assert-create should 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404

    code, _ = _req(
        f"{base}/v1/transactions/commit",
        "POST",
        {
            "table-changes": [
                {
                    "identifier": {"namespace": ["sc"], "name": "ctas"},
                    "requirements": [{"type": "assert-create"}],
                    "updates": [
                        {"action": "set-properties", "updates": {"born": "txn"}}
                    ],
                }
            ]
        },
    )
    assert code == 204
    t = catalog.load_table("sc", "ctas")
    assert t.properties.get("born") == "txn"
    assert [f.name for f in t.schema.fields] == ["id", "v"]
    code, loaded = _req(f"{base}/v1/namespaces/sc/tables/ctas")
    assert code == 200 and "metadata-location" in loaded

    # assert-create against the NOW-EXISTING table → 409
    try:
        _req(
            f"{base}/v1/transactions/commit",
            "POST",
            {
                "table-changes": [
                    {
                        "identifier": {"namespace": ["sc"], "name": "ctas"},
                        "requirements": [{"type": "assert-create"}],
                        "updates": [],
                    }
                ]
            },
        )
        raise AssertionError("assert-create on existing should 409")
    except urllib.error.HTTPError as e:
        assert e.code == 409


def test_staged_create_commits_through_commit_table(spark, server):
    """The single-table CTAS handshake: stage-create, then commitTable
    on the staged identifier with assert-create materializes it."""
    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["sc2"]})
    schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [{"id": 1, "name": "id", "required": False, "type": "long"}],
    }
    _req(
        f"{base}/v1/namespaces/sc2/tables",
        "POST",
        {"name": "t", "schema": schema, "stage-create": True},
    )
    code, out = _req(
        f"{base}/v1/namespaces/sc2/tables/t",
        "POST",
        {
            "requirements": [{"type": "assert-create"}],
            "updates": [{"action": "set-properties", "updates": {"k": "v"}}],
        },
    )
    assert code == 200 and "metadata-location" in out
    assert catalog.load_table("sc2", "t").properties.get("k") == "v"


def test_incremental_export_compaction_replace_diff(spark, tmp_path):
    """r11 verdict #6: a delete-free compaction exports as ONE
    replace-diff — untouched manifests carried VERBATIM (same file
    paths), affected manifests rewritten to their survivors (EXISTING,
    original sequence numbers), rewrite outputs in one new manifest —
    instead of a full metadata rewrite. Delete-carrying compactions
    keep the conservative full path (pinned in test_round11.py)."""
    import os

    from iceberg_metadata_pipeline_spark.catalog import avro_io
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        export_iceberg_table,
        read_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.catalog.metacat import DataFileEntry
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import register

    catalog = Catalog(spark, str(tmp_path / "wh"))
    t = catalog.create_table("nyc", "cpt", spark.range(1).selectExpr("id").schema)
    dest = str(tmp_path / "ice")
    # three incremental appends → three data manifests in the mirror
    # (append A writes TWO files so the partial-survivor path is hit)
    t.append_dataframe(
        spark.range(0, 4).selectExpr("id").repartitionByRange(2, "id")
    )
    export_iceberg_table(t.refresh(), dest)
    t.append_dataframe(spark.range(10, 14).selectExpr("id").coalesce(1))
    export_iceberg_table(t.refresh(), dest)
    t.append_dataframe(spark.range(20, 24).selectExpr("id").coalesce(1))
    export_iceberg_table(t.refresh(), dest)

    def manifests(dest):
        info = read_iceberg_table(dest, decode_dvs=False)
        import json as _json

        with open(info.metadata_path) as fh:
            md = _json.load(fh)
        snap = next(
            s
            for s in md["snapshots"]
            if int(s["snapshot-id"]) == int(md["current-snapshot-id"])
        )
        _, _, rows = avro_io.read_container(snap["manifest-list"])
        return {r["manifest_path"]: r for r in rows}

    before = manifests(dest)
    assert len(before) == 3

    # compact: one file of append A + the append-B file → one new file;
    # the other A file and the append-C manifest are untouched
    files = {os.path.abspath(f.path): f for f in t.snapshot_files()}
    a_files = sorted(p for p in files if files[p].record_count == 2)
    b_file = next(
        p for p in files if files[p].record_count == 4
        and sorted(
            r.id for r in spark.read.parquet(p).collect()
        )[0] == 10
    )
    victims = {a_files[0], b_file}
    merged = str(tmp_path / "merged")
    spark.read.parquet(*sorted(victims)).coalesce(1).write.parquet(merged)
    import glob as _glob

    mfile = _glob.glob(merged + "/*.parquet")[0]
    import pyarrow.parquet as pq

    t.replace_files(
        [
            DataFileEntry(
                path=mfile,
                record_count=pq.read_metadata(mfile).num_rows,
                file_size_bytes=os.path.getsize(mfile),
                format="PARQUET",
                partition={},
            )
        ],
        victims,
        operation="replace",
    )
    export_iceberg_table(t.refresh(), dest)
    after = manifests(dest)

    # the untouched append-C manifest path is carried verbatim
    untouched_carried = set(before) & set(after)
    assert untouched_carried, "no manifest carried verbatim"
    # the partially-affected manifest was rewritten: a survivor entry
    # exists with status=EXISTING and its ORIGINAL sequence number
    survivor_path = a_files[1]
    surv_entries = []
    for mp in set(after) - set(before):
        _, _, es = avro_io.read_container(mp)
        surv_entries.extend(es)
    surv = [
        e
        for e in surv_entries
        if os.path.abspath(e["data_file"]["file_path"]) == survivor_path
    ]
    assert surv and int(surv[0]["status"]) == 0
    assert int(surv[0]["sequence_number"]) == int(files[survivor_path].seq)

    # the read is exact
    register(spark)
    back = spark.read.format("pyice").load(dest)
    assert sorted(r.id for r in back.collect()) == sorted(
        list(range(0, 4)) + list(range(10, 14)) + list(range(20, 24))
    )
    # and the summary says replace, not a full rewrite
    info = read_iceberg_table(dest, decode_dvs=False)
    import json as _json

    with open(info.metadata_path) as fh:
        md = _json.load(fh)
    snap = next(
        s
        for s in md["snapshots"]
        if int(s["snapshot-id"]) == int(md["current-snapshot-id"])
    )
    assert snap["summary"]["operation"] == "replace"

