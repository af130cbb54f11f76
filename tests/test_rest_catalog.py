"""Iceberg REST catalog server (serving/rest_catalog.py): spec-shaped
HTTP conversation via stdlib urllib — no client library, so what is
exercised is the exact wire surface a pyiceberg/Trino client would hit.
The loadTable metadata round-trips through read_iceberg_table (the
format layer is the interop proof, the server the transport)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import types as T

from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
    export_iceberg_table,
    read_iceberg_table,
)
from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
from iceberg_metadata_pipeline_spark.serving.rest_catalog import RestCatalogServer


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


def _status_of(url: str, method: str = "GET", body: dict | None = None) -> int:
    try:
        return _req(url, method, body)[0]
    except urllib.error.HTTPError as e:
        return e.code


ICE_SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "cat", "required": False, "type": "string"},
    ],
}


def test_config_and_namespace_lifecycle(server):
    _, _, base = server
    code, cfg = _req(f"{base}/v1/config")
    assert code == 200 and set(cfg) == {"defaults", "overrides"}
    code, _ = _req(f"{base}/v1/namespaces", "POST", {"namespace": ["nyc"]})
    assert code == 200
    assert _status_of(f"{base}/v1/namespaces", "POST", {"namespace": ["nyc"]}) == 409
    code, out = _req(f"{base}/v1/namespaces")
    assert code == 200 and ["nyc"] in out["namespaces"]
    code, out = _req(f"{base}/v1/namespaces/nyc")
    assert code == 200 and out["namespace"] == ["nyc"]
    assert _status_of(f"{base}/v1/namespaces/ghost") == 404


def test_create_load_round_trip(spark, server):
    catalog, _, base = server
    code, result = _req(
        f"{base}/v1/namespaces/nyc/tables",
        "POST",
        {"name": "events", "schema": ICE_SCHEMA},
    )
    assert code == 200
    assert result["metadata"]["format-version"] == 2
    # write through metacat, then loadTable must serve the NEW snapshot
    t = catalog.load_table("nyc", "events")
    t.append_dataframe(
        spark.sql("SELECT id, IF(id % 2 = 0, 'e', 'o') AS cat FROM RANGE(10)")
    )
    code, loaded = _req(f"{base}/v1/namespaces/nyc/tables/events")
    assert code == 200
    # the served metadata parses with the format layer and sees the rows
    info = read_iceberg_table(
        loaded["metadata"]["location"]
    )
    assert sum(f.record_count for f in info.files) == 10
    assert [f.name for f in info.schema.fields] == ["id", "cat"]
    # identical snapshot → identical metadata-location (export cache)
    code, again = _req(f"{base}/v1/namespaces/nyc/tables/events")
    assert again["metadata-location"] == loaded["metadata-location"]
    # next append moves the snapshot → new metadata version served
    t.refresh().append_dataframe(spark.sql("SELECT id, 'x' AS cat FROM RANGE(3)"))
    code, moved = _req(f"{base}/v1/namespaces/nyc/tables/events")
    assert moved["metadata-location"] != loaded["metadata-location"]
    info2 = read_iceberg_table(moved["metadata"]["location"])
    assert sum(f.record_count for f in info2.files) == 13


def test_list_head_drop(server):
    _, _, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["a"]})
    _req(
        f"{base}/v1/namespaces/a/tables",
        "POST",
        {"name": "t1", "schema": ICE_SCHEMA},
    )
    code, out = _req(f"{base}/v1/namespaces/a/tables")
    assert out["identifiers"] == [{"namespace": ["a"], "name": "t1"}]
    assert _status_of(f"{base}/v1/namespaces/a/tables/t1", "HEAD") == 200
    assert _status_of(f"{base}/v1/namespaces/a/tables/nope", "HEAD") == 404
    assert _status_of(f"{base}/v1/namespaces/a/tables/t1", "DELETE") == 204
    assert _status_of(f"{base}/v1/namespaces/a/tables/t1", "HEAD") == 404


def test_register_adopts_exported_table(spark, server, tmp_path):
    catalog, _, base = server
    # build + export a table OUTSIDE the served catalog
    other = Catalog(spark, str(tmp_path / "wh-other"))
    st = T.StructType([T.StructField("x", T.LongType(), True)])
    t = other.create_table("src", "numbers", st).refresh()
    t.append_dataframe(spark.range(7).selectExpr("id AS x"))
    meta_path = export_iceberg_table(t.refresh(), str(tmp_path / "ice-out"))
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["adopt"]})
    code, result = _req(
        f"{base}/v1/namespaces/adopt/register",
        "POST",
        {"name": "numbers", "metadata-location": meta_path},
    )
    assert code == 200
    got = sorted(
        r["x"] for r in catalog.load_table("adopt", "numbers").scan().collect()
    )
    assert got == list(range(7))


def test_rename_and_refusals(server):
    _, _, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["r"]})
    _req(
        f"{base}/v1/namespaces/r/tables",
        "POST",
        {"name": "old", "schema": ICE_SCHEMA},
    )
    code = _status_of(
        f"{base}/v1/tables/rename",
        "POST",
        {
            "source": {"namespace": ["r"], "name": "old"},
            "destination": {"namespace": ["r"], "name": "new"},
        },
    )
    assert code == 204
    assert _status_of(f"{base}/v1/namespaces/r/tables/new", "HEAD") == 200
    # commitTable serves metadata-only property commits (r7); data and
    # schema commits remain a documented refusal, not a silent no-op
    assert (
        _status_of(
            f"{base}/v1/namespaces/r/tables/new",
            "POST",
            {"updates": [{"action": "add-snapshot", "snapshot": {}}]},
        )
        == 400
    )
    # metrics sink accepts and discards
    assert (
        _status_of(
            f"{base}/v1/namespaces/r/tables/new/metrics",
            "POST",
            {"report-type": "scan-report"},
        )
        == 204
    )
    # duplicate create refused
    assert (
        _status_of(
            f"{base}/v1/namespaces/r/tables",
            "POST",
            {"name": "new", "schema": ICE_SCHEMA},
        )
        == 409
    )


def test_view_lifecycle_and_spec_metadata(spark, server):
    catalog, _, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["v"]})
    _req(
        f"{base}/v1/namespaces/v/tables",
        "POST",
        {"name": "base_t", "schema": ICE_SCHEMA},
    )
    catalog.load_table("v", "base_t").append_dataframe(
        spark.sql("SELECT id, 'c' AS cat FROM RANGE(4)")
    )
    code, created = _req(
        f"{base}/v1/namespaces/v/views",
        "POST",
        {
            "name": "evens",
            "view-version": {
                "representations": [
                    {
                        "type": "sql",
                        "sql": "SELECT id FROM v.base_t WHERE id % 2 = 0",
                        "dialect": "spark",
                    }
                ]
            },
        },
    )
    assert code == 200
    md = created["metadata"]
    assert md["format-version"] == 1 and md["current-version-id"] == 1
    rep = md["versions"][0]["representations"][0]
    assert rep["dialect"] == "spark" and "WHERE id % 2 = 0" in rep["sql"]
    # planned output schema captured (id: long)
    ver_schema = next(
        s for s in md["schemas"]
        if s["schema-id"] == md["versions"][0]["schema-id"]
    )
    assert [f["name"] for f in ver_schema["fields"]] == ["id"]
    code, out = _req(f"{base}/v1/namespaces/v/views")
    assert out["identifiers"] == [{"namespace": ["v"], "name": "evens"}]
    assert _status_of(f"{base}/v1/namespaces/v/views/evens", "HEAD") == 200
    # unchanged definition → identical metadata-location (idempotent)
    code, again = _req(f"{base}/v1/namespaces/v/views/evens")
    assert again["metadata-location"] == created["metadata-location"]
    # replace the definition through metacat → loadView serves version 2
    catalog.create_view(
        "v", "evens", "SELECT id, cat FROM v.base_t WHERE id % 2 = 0", replace=True
    )
    code, v2 = _req(f"{base}/v1/namespaces/v/views/evens")
    assert v2["metadata"]["current-version-id"] == 2
    assert len(v2["metadata"]["versions"]) == 2
    assert _status_of(f"{base}/v1/namespaces/v/views/evens", "DELETE") == 204
    assert _status_of(f"{base}/v1/namespaces/v/views/evens", "HEAD") == 404


def test_commit_table_property_updates(spark, server):
    """commitTable metadata-only subset: set/remove properties apply
    through metacat's property commit, requirement mismatches are 409
    CommitFailedException, data commits still refuse, and loadTable
    serves the NEW properties (export cache invalidated)."""
    catalog, _, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["c"]})
    _req(
        f"{base}/v1/namespaces/c/tables",
        "POST",
        {"name": "pc", "schema": ICE_SCHEMA},
    )
    url = f"{base}/v1/namespaces/c/tables/pc"
    code, out = _req(
        url,
        "POST",
        {
            "requirements": [{"type": "assert-ref-snapshot-id", "ref": "main",
                              "snapshot-id": None}],
            "updates": [
                {"action": "set-properties",
                 "updates": {"owner": "etl", "comment": "hello"}},
            ],
        },
    )
    assert code == 200
    assert out["metadata"]["properties"]["owner"] == "etl"
    t = catalog.load_table("c", "pc")
    assert t.properties["owner"] == "etl" and t.properties["comment"] == "hello"
    # remove-properties
    code, out = _req(
        url, "POST",
        {"updates": [{"action": "remove-properties", "removals": ["comment"]}]},
    )
    assert code == 200 and "comment" not in out["metadata"]["properties"]
    # loadTable reflects the change (cache dropped despite unchanged snapshot)
    code, loaded = _req(url)
    assert code == 200 and loaded["metadata"]["properties"].get("owner") == "etl"
    assert "comment" not in loaded["metadata"]["properties"]
    # requirement mismatch -> 409
    assert (
        _status_of(
            url, "POST",
            {"requirements": [{"type": "assert-ref-snapshot-id",
                               "ref": "main", "snapshot-id": 12345}],
             "updates": [{"action": "set-properties", "updates": {"x": "1"}}]},
        )
        == 409
    )
    # unsupported requirement types are loud too
    assert (
        _status_of(
            url, "POST",
            {"requirements": [{"type": "assert-last-assigned-field-id",
                               "last-assigned-field-id": 2}],
             "updates": []},
        )
        == 400
    )
    # unknown table -> 404
    assert (
        _status_of(f"{base}/v1/namespaces/c/tables/ghost", "POST", {"updates": []})
        == 404
    )


def test_commit_table_updates_fold_in_list_order(spark, server):
    """Round-8 advisor catch: updates must apply in LIST order — a
    spec-ordered commit [set k=v, remove k] ends with k ABSENT (the old
    code applied all removals before all sets, resurrecting k), and
    [remove k, set k=v] ends with k=v."""
    catalog, _, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["o"]})
    _req(
        f"{base}/v1/namespaces/o/tables",
        "POST",
        {"name": "ord", "schema": ICE_SCHEMA},
    )
    url = f"{base}/v1/namespaces/o/tables/ord"
    code, out = _req(
        url, "POST",
        {"updates": [
            {"action": "set-properties", "updates": {"k": "v", "keep": "1"}},
            {"action": "remove-properties", "removals": ["k"]},
        ]},
    )
    assert code == 200
    props = out["metadata"]["properties"]
    assert "k" not in props and props.get("keep") == "1"
    t = catalog.load_table("o", "ord")
    assert "k" not in t.properties

    code, out = _req(
        url, "POST",
        {"updates": [
            {"action": "remove-properties", "removals": ["keep"]},
            {"action": "set-properties", "updates": {"keep": "2"}},
        ]},
    )
    assert code == 200
    assert out["metadata"]["properties"].get("keep") == "2"
    # invalid update later in the list leaves the table untouched
    code = _status_of(
        url, "POST",
        {"updates": [
            {"action": "set-properties", "updates": {"keep": "3"}},
            {"action": "add-snapshot", "snapshot": {}},
        ]},
    )
    assert code == 400
    assert catalog.load_table("o", "ord").properties.get("keep") == "2"


def test_commit_table_schema_evolution(spark, server):
    """Round-8 brief item: commitTable serves add-schema +
    set-current-schema-id by diffing field IDs against the schema
    loadTable served — rename (same id, new name), type promotion
    (int->long family), add (new id), drop (missing id) — plus
    add-spec/set-default-spec-id for identity partition evolution;
    stale requirements still 409 and data commits still refuse."""
    catalog, _, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["ev"]})
    _req(
        f"{base}/v1/namespaces/ev/tables",
        "POST",
        {
            "name": "sch",
            "schema": {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "int"},
                    {"id": 2, "name": "cat", "required": False, "type": "string"},
                    {"id": 3, "name": "old", "required": False, "type": "double"},
                ],
            },
        },
    )
    url = f"{base}/v1/namespaces/ev/tables/sch"
    code, out = _req(url)
    served = out["metadata"]["schemas"][0]["fields"] if "schemas" in out["metadata"] else None
    # evolve: rename cat->category, promote id int->long, add score, drop old
    code, out = _req(
        url,
        "POST",
        {
            "requirements": [
                {"type": "assert-current-schema-id", "current-schema-id": 0}
            ],
            "updates": [
                {
                    "action": "add-schema",
                    "schema": {
                        "type": "struct",
                        "schema-id": 1,
                        "fields": [
                            {"id": 1, "name": "id", "required": False,
                             "type": "long"},
                            {"id": 2, "name": "category", "required": False,
                             "type": "string"},
                            {"id": 4, "name": "score", "required": False,
                             "type": "double"},
                        ],
                    },
                },
                {"action": "set-current-schema-id", "schema-id": -1},
            ],
        },
    )
    assert code == 200
    t = catalog.load_table("ev", "sch")
    got = {f.name: f.dataType.simpleString() for f in t.schema.fields}
    assert got == {"id": "bigint", "category": "string", "score": "double"}
    # subsequent loadTable serves the NEW schema
    code, loaded = _req(url)
    cur = loaded["metadata"]["schemas"][0]
    names = {f["name"]: f["type"] for f in cur["fields"]}
    assert names == {"id": "long", "category": "string", "score": "double"}

    # partition evolution: identity on category (source-id 2 of the
    # SERVED schema — ids re-derive deterministically)
    code, out = _req(
        url,
        "POST",
        {
            "updates": [
                {
                    "action": "add-spec",
                    "spec": {
                        "spec-id": 1,
                        "fields": [
                            {"source-id": 2, "transform": "identity",
                             "name": "category"}
                        ],
                    },
                },
                {"action": "set-default-spec-id", "spec-id": -1},
            ]
        },
    )
    assert code == 200
    t = catalog.load_table("ev", "sch")
    assert [pf.source for pf in t.default_spec] == ["category"]

    # invalid promotions refuse with nothing applied
    code = _status_of(
        url,
        "POST",
        {
            "updates": [
                {
                    "action": "add-schema",
                    "schema": {
                        "type": "struct",
                        "schema-id": 2,
                        "fields": [
                            {"id": 1, "name": "id", "required": False,
                             "type": "string"},  # long -> string: illegal
                            {"id": 2, "name": "category", "required": False,
                             "type": "string"},
                            {"id": 3, "name": "score", "required": False,
                             "type": "double"},
                        ],
                    },
                },
                {"action": "set-current-schema-id", "schema-id": -1},
            ]
        },
    )
    assert code == 400
    t = catalog.load_table("ev", "sch")
    assert t.schema["id"].dataType.simpleString() == "bigint"
    # data commits still refuse
    assert (
        _status_of(url, "POST",
                   {"updates": [{"action": "add-snapshot", "snapshot": {}}]})
        == 400
    )
    # stale schema requirement 409s
    assert (
        _status_of(
            url, "POST",
            {"requirements": [{"type": "assert-current-schema-id",
                               "current-schema-id": 7}],
             "updates": []},
        )
        == 409
    )


def test_commit_table_drop_and_readd_same_name_is_atomic(spark, server):
    """ADVICE r8 (medium): a commit that drops a column and re-adds the
    same NAME under a new field id (what pyiceberg emits for a type
    rewrite) must apply — drops free names before adds. And a plan that
    cannot apply (add collides with a post-rename live name) must leave
    the table completely untouched, not half-evolved."""
    catalog, _, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["at"]})
    _req(
        f"{base}/v1/namespaces/at/tables",
        "POST",
        {
            "name": "t",
            "schema": {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "int"},
                    {"id": 2, "name": "v", "required": False, "type": "string"},
                ],
            },
        },
    )
    url = f"{base}/v1/namespaces/at/tables/t"
    # drop v (id 2) + add v (id 3, new type) in ONE commit
    code, _ = _req(
        url,
        "POST",
        {
            "updates": [
                {
                    "action": "add-schema",
                    "schema": {
                        "type": "struct",
                        "schema-id": 1,
                        "fields": [
                            {"id": 1, "name": "id", "required": False,
                             "type": "int"},
                            {"id": 3, "name": "v", "required": False,
                             "type": "double"},
                        ],
                    },
                },
                {"action": "set-current-schema-id", "schema-id": -1},
            ]
        },
    )
    assert code == 200
    t = catalog.load_table("at", "t")
    assert {f.name: f.dataType.simpleString() for f in t.schema.fields} == {
        "id": "int", "v": "double"
    }
    # invalid plan: rename id->key AND add a new column also named key —
    # must 400 with NOTHING applied (the old bug applied the rename then
    # raised on the add, leaving the table half-evolved)
    code = _status_of(
        url,
        "POST",
        {
            "updates": [
                {
                    "action": "add-schema",
                    "schema": {
                        "type": "struct",
                        "schema-id": 2,
                        "fields": [
                            {"id": 1, "name": "key", "required": False,
                             "type": "int"},
                            {"id": 3, "name": "v", "required": False,
                             "type": "double"},
                            {"id": 9, "name": "key", "required": False,
                             "type": "string"},
                        ],
                    },
                },
                {"action": "set-current-schema-id", "schema-id": -1},
            ]
        },
    )
    assert code == 400
    t = catalog.load_table("at", "t")
    assert {f.name for f in t.schema.fields} == {"id", "v"}  # untouched


def test_commit_table_append_snapshot(spark, server, tmp_path):
    """Round 9 (verdict #4): a foreign client POSTs an APPEND snapshot
    commit — it wrote its own parquet data file, avro manifest, and
    manifest list under the served metadata location — and the server
    folds the added files into the table via metacat's append. The next
    loadTable serves the rows; a stale assert-ref-snapshot-id 409s; a
    non-append (delete-manifest) commit 400s with nothing applied."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog import avro_io
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        manifest_entry_schema,
        manifest_list_schema,
    )

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["ap"]})
    _req(
        f"{base}/v1/namespaces/ap/tables",
        "POST",
        {
            "name": "t",
            "schema": {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            },
        },
    )
    url = f"{base}/v1/namespaces/ap/tables/t"
    code, out = _req(url)
    location = out["metadata"]["location"]
    meta_dir = os.path.join(location, "metadata")
    cur_sid = out["metadata"].get("current-snapshot-id")

    # --- foreign writer: one data file + manifest + manifest list ---
    def write_commit_files(tag: str, ids: list[int], extra_manifest=None):
        data = os.path.join(location, "data", f"{tag}.parquet")
        os.makedirs(os.path.dirname(data), exist_ok=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), data)
        sid = 5000 + hash(tag) % 1000
        mpath = os.path.join(meta_dir, f"{tag}-m0.avro")
        avro_io.write_container(
            mpath,
            manifest_entry_schema([]),
            [
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": 1,
                    "data_file": {
                        "content": 0,
                        "file_path": data,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": len(ids),
                        "file_size_in_bytes": os.path.getsize(data),
                    },
                }
            ],
        )
        mlist = os.path.join(meta_dir, f"snap-{sid}-{tag}.avro")
        rows = [
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": sid,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": len(ids),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ] + (extra_manifest or [])
        avro_io.write_container(mlist, manifest_list_schema(), rows)
        return sid, mlist

    sid, mlist = write_commit_files("c1", [10, 11, 12])
    commit = {
        "requirements": [
            {"type": "assert-ref-snapshot-id", "ref": "main",
             "snapshot-id": None if cur_sid in (None, -1) else cur_sid}
        ],
        "updates": [
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": sid, "timestamp-ms": 1700000000000,
                "manifest-list": mlist,
                "summary": {"operation": "append"}}},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "type": "branch", "snapshot-id": sid},
        ],
    }
    code, out = _req(url, "POST", commit)
    assert code == 200
    # loadTable now serves a snapshot whose files include the new rows
    t = catalog.load_table("ap", "t")
    got = sorted(r.id for r in t.scan().collect())
    assert got == [10, 11, 12]

    # replaying the SAME commit with the (now stale) ref → 409
    assert _status_of(url, "POST", commit) == 409

    # a second append stacks (fresh ref requirement)
    new_sid = int(catalog.load_table("ap", "t").current_snapshot["snapshot_id"])
    sid2, mlist2 = write_commit_files("c2", [20])
    commit2 = {
        "requirements": [
            {"type": "assert-ref-snapshot-id", "ref": "main",
             "snapshot-id": new_sid}
        ],
        "updates": [
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": sid2, "timestamp-ms": 1700000001000,
                "manifest-list": mlist2,
                "summary": {"operation": "append"}}},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "type": "branch", "snapshot-id": sid2},
        ],
    }
    code, _ = _req(url, "POST", commit2)
    assert code == 200
    assert sorted(
        r.id for r in catalog.load_table("ap", "t").scan().collect()
    ) == [10, 11, 12, 20]

    # OVERWRITE commit (round 9 extension): the posted manifest list IS
    # the new live set — files absent from it are removed, new ones
    # added. Here the foreign rewrite replaces everything with [99].
    before_sid = int(catalog.load_table("ap", "t").current_snapshot["snapshot_id"])
    sid3, mlist3 = write_commit_files("c3", [99])
    ow = {
        "updates": [
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": sid3, "manifest-list": mlist3,
                "summary": {"operation": "overwrite"}}},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "type": "branch", "snapshot-id": sid3},
        ],
    }
    code, _ = _req(url, "POST", ow)
    assert code == 200
    t = catalog.load_table("ap", "t")
    assert sorted(r.id for r in t.scan().collect()) == [99]
    # history preserved: the pre-overwrite snapshot still time-travels
    assert sorted(
        r.id for r in t.scan(snapshot_id=before_sid).collect()
    ) == [10, 11, 12, 20]

    # a REPLACE that removes no current file is semantically an append
    # (dynamic-partition overwrite into a new partition, overwrite of an
    # empty table) — served as one, since the client chose its operation
    # name and cannot re-post under another (advisor finding, r10)
    sid4, mlist4 = write_commit_files("c4", [7], extra_manifest=None)
    # c4's manifest list omits c3's file -> that WOULD remove it; build a
    # no-op-removal case by reusing c3's manifest alongside c4's
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        manifest_list_schema as _mls,
    )

    _, _, prev_rows = avro_io.read_container(mlist3)
    _, _, new_rows = avro_io.read_container(mlist4)
    both = os.path.join(meta_dir, "snap-both-c4.avro")
    avro_io.write_container(both, _mls(), list(prev_rows) + list(new_rows))
    noop = {
        "updates": [
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": sid4, "manifest-list": both,
                "summary": {"operation": "replace"}}},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "type": "branch", "snapshot-id": sid4},
        ],
    }
    assert _status_of(url, "POST", noop) == 200
    assert sorted(
        r.id for r in catalog.load_table("ap", "t").scan().collect()
    ) == [7, 99]

    # unknown snapshot operations still refuse with nothing applied
    sid5, mlist5 = write_commit_files("c5", [1])
    bad = {
        "updates": [
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": sid5, "manifest-list": mlist5,
                "summary": {"operation": "expire"}}},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "type": "branch", "snapshot-id": sid5},
        ],
    }
    assert _status_of(url, "POST", bad) == 400
    assert sorted(
        r.id for r in catalog.load_table("ap", "t").scan().collect()
    ) == [7, 99]
    # add-snapshot without set-snapshot-ref still refuses
    assert _status_of(
        url, "POST",
        {"updates": [{"action": "add-snapshot", "snapshot": {}}]},
    ) == 400


def test_commit_table_branch_append_wap(spark, server, tmp_path):
    """Round 9 extension: an append commit whose set-snapshot-ref names a
    NON-main branch stages onto that branch (write-audit-publish over
    REST): main scans stay blind until publish_branch fast-forwards;
    assert-ref-snapshot-id checks the NAMED ref's head; tag refs and
    branch rewrites refuse."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog import avro_io
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        manifest_entry_schema,
        manifest_list_schema,
    )

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["wb"]})
    _req(
        f"{base}/v1/namespaces/wb/tables",
        "POST",
        {
            "name": "t",
            "schema": {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            },
        },
    )
    url = f"{base}/v1/namespaces/wb/tables/t"
    code, out = _req(url)
    location = out["metadata"]["location"]
    meta_dir = os.path.join(location, "metadata")

    def commit_files(tag, ids):
        data = os.path.join(location, "data", f"{tag}.parquet")
        os.makedirs(os.path.dirname(data), exist_ok=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), data)
        sid = 7000 + hash(tag) % 1000
        mpath = os.path.join(meta_dir, f"{tag}-m0.avro")
        avro_io.write_container(
            mpath,
            manifest_entry_schema([]),
            [{
                "status": 1, "snapshot_id": sid, "sequence_number": 1,
                "data_file": {
                    "content": 0, "file_path": data,
                    "file_format": "PARQUET", "partition": {},
                    "record_count": len(ids),
                    "file_size_in_bytes": os.path.getsize(data),
                },
            }],
        )
        mlist = os.path.join(meta_dir, f"snap-{sid}-{tag}.avro")
        avro_io.write_container(
            mlist, manifest_list_schema(),
            [{
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0, "content": 0,
                "sequence_number": 1, "min_sequence_number": 1,
                "added_snapshot_id": sid, "added_files_count": 1,
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": len(ids), "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }],
        )
        return sid, mlist

    sid, mlist = commit_files("b1", [100, 101])
    staged = {
        "requirements": [
            {"type": "assert-ref-snapshot-id", "ref": "audit",
             "snapshot-id": None}
        ],
        "updates": [
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": sid, "timestamp-ms": 1700000000000,
                "manifest-list": mlist,
                "summary": {"operation": "append"}}},
            {"action": "set-snapshot-ref", "ref-name": "audit",
             "type": "branch", "snapshot-id": sid},
        ],
    }
    code, _ = _req(url, "POST", staged)
    assert code == 200
    t = catalog.load_table("wb", "t")
    # main is blind to the staged rows; the branch sees them
    assert t.scan().count() == 0
    assert sorted(r.id for r in t.scan(ref="audit").collect()) == [100, 101]
    # stale branch-ref assertion now 409s (the ref moved)
    assert _status_of(url, "POST", staged) == 409
    # publish: main fast-forwards to the audited snapshot
    t.publish_branch("audit")
    assert sorted(
        r.id for r in catalog.load_table("wb", "t").scan().collect()
    ) == [100, 101]

    # tag refs refuse
    sid2, mlist2 = commit_files("b2", [7])
    tagc = {
        "updates": [
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": sid2, "manifest-list": mlist2,
                "summary": {"operation": "append"}}},
            {"action": "set-snapshot-ref", "ref-name": "pin",
             "type": "tag", "snapshot-id": sid2},
        ],
    }
    assert _status_of(url, "POST", tagc) == 400
    # branch rewrites refuse
    ow = {
        "updates": [
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": sid2, "manifest-list": mlist2,
                "summary": {"operation": "overwrite"}}},
            {"action": "set-snapshot-ref", "ref-name": "audit",
             "type": "branch", "snapshot-id": sid2},
        ],
    }
    assert _status_of(url, "POST", ow) == 400


def test_commit_table_delete_commit(spark, server, tmp_path):
    """Round 10 (verdict top item): row-level DELETE commits over REST —
    a foreign engine posts a content=1 manifest of position-delete
    files and the server maps it onto metacat's MOR position entries;
    the next loadTable serves a mirror whose delete manifest a pyice
    read applies; a whole-file delete maps onto a pure removal; stale
    refs 409; equality deletes and mixed shapes refuse with nothing
    applied."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog import avro_io
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        manifest_entry_schema,
        manifest_list_schema,
        read_iceberg_table,
    )

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["dl"]})
    _req(
        f"{base}/v1/namespaces/dl/tables",
        "POST",
        {
            "name": "t",
            "schema": {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            },
        },
    )
    url = f"{base}/v1/namespaces/dl/tables/t"
    # seed two files through the warehouse API (two commits -> two files)
    t = catalog.load_table("dl", "t")
    t.append_dataframe(
        spark.createDataFrame([(i,) for i in range(4)], "id long").coalesce(1)
    )
    t.append_dataframe(
        spark.createDataFrame([(i,) for i in range(10, 14)], "id long").coalesce(1)
    )
    code, out = _req(url)
    assert code == 200
    location = out["metadata"]["location"]
    meta_dir = os.path.join(location, "metadata")
    cur_sid = out["metadata"]["current-snapshot-id"]
    # the served manifest list names the real data files + their rows
    snap = next(
        s for s in out["metadata"]["snapshots"]
        if s["snapshot-id"] == cur_sid
    )
    _, _, mrows = avro_io.read_container(snap["manifest-list"])
    data_manifests = [dict(r) for r in mrows]
    assert all(int(m["content"]) == 0 for m in data_manifests)
    data_files = []
    for m in data_manifests:
        _, _, entries = avro_io.read_container(m["manifest_path"])
        data_files.extend(e["data_file"]["file_path"] for e in entries)
    assert len(data_files) == 2

    def post_delete(tag, del_rows, extra_err=None, content=1, fmt="PARQUET",
                    req_sid=None, eq_ids=None, eq_table=None, raw_path=None):
        """Write a position-delete parquet (or, with eq_table, an
        equality-delete parquet) + content=1 manifest + a manifest list
        re-referencing the current data manifests, POST it as an
        op=delete commit, return the HTTP status."""
        dpath = raw_path or os.path.join(location, "data", f"{tag}-del.parquet")
        os.makedirs(os.path.dirname(dpath), exist_ok=True)
        if raw_path is None:
            pq.write_table(
                eq_table
                if eq_table is not None
                else pa.table(
                    {
                        "file_path": pa.array([r[0] for r in del_rows], pa.string()),
                        "pos": pa.array([r[1] for r in del_rows], pa.int64()),
                    }
                ),
                dpath,
            )
        sid = 7000 + hash(tag) % 1000
        mpath = os.path.join(meta_dir, f"{tag}-d0.avro")
        avro_io.write_container(
            mpath,
            manifest_entry_schema([]),
            [
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": 9,
                    "data_file": {
                        "content": content,
                        "file_path": dpath,
                        "file_format": fmt,
                        "partition": {},
                        "record_count": len(del_rows),
                        "file_size_in_bytes": os.path.getsize(dpath),
                        **({"equality_ids": eq_ids} if eq_ids else {}),
                    },
                }
            ],
        )
        mlist = os.path.join(meta_dir, f"snap-{sid}-{tag}.avro")
        avro_io.write_container(
            mlist,
            manifest_list_schema(),
            data_manifests
            + [
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": 0,
                    "content": 1,
                    "sequence_number": 9,
                    "min_sequence_number": 9,
                    "added_snapshot_id": sid,
                    "added_files_count": 1,
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": len(del_rows),
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            ],
        )
        commit = {
            "requirements": [
                {"type": "assert-ref-snapshot-id", "ref": "main",
                 "snapshot-id": req_sid if req_sid is not None else int(
                     catalog.load_table("dl", "t").current_snapshot[
                         "snapshot_id"])}
            ],
            "updates": [
                {"action": "add-snapshot", "snapshot": {
                    "snapshot-id": sid, "timestamp-ms": 1700000002000,
                    "manifest-list": mlist,
                    "summary": {"operation": "delete"}}},
                {"action": "set-snapshot-ref", "ref-name": "main",
                 "type": "branch", "snapshot-id": sid},
            ],
        }
        import urllib.error as _ue

        try:
            return _req(url, "POST", commit), commit
        except _ue.HTTPError as e:
            return (e.code, None), commit

    # delete (file0, pos 1) -> the id at position 1 of that file
    # disappears (manifest entry order is not promised; derive the
    # expectation from the file's actual contents)
    victim = int(pq.read_table(data_files[0])["id"][1].as_py())
    expect = sorted(set([0, 1, 2, 3, 10, 11, 12, 13]) - {victim})
    (code, _), commit = post_delete("d1", [(data_files[0], 1)])
    assert code == 200
    t = catalog.load_table("dl", "t")
    assert sorted(r.id for r in t.scan().collect()) == expect
    # replaying the same commit against the moved ref -> 409
    assert _status_of(url, "POST", commit) == 409

    # the refreshed mirror carries a content=1 delete manifest a spec
    # reader applies: read it back via the format layer end-to-end
    code, out2 = _req(url)
    assert code == 200
    info = read_iceberg_table(location)
    assert any(d.content == 1 for d in info.delete_files)
    # ... and via the pyice DataSource (the e2e the verdict asked for)
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import (
        register as register_pyice,
    )

    register_pyice(spark)
    back = spark.read.format("pyice").load(location)
    assert sorted(r.id for r in back.collect()) == expect

    # equality-delete file WITHOUT equality_ids refuses
    (code, _), _ = post_delete("d2", [(data_files[0], 2)], content=2)
    assert code == 400
    # ... with unknown field ids refuses
    (code, _), _ = post_delete(
        "d2b", [(data_files[0], 2)], content=2, eq_ids=[99]
    )
    assert code == 400
    # a proper equality-delete commit (field id 1 = `id`) is SERVED:
    # ids 12 and 13 disappear everywhere
    (code, _), _ = post_delete(
        "d2c",
        [],
        content=2,
        eq_ids=[1],
        eq_table=pa.table({"id": pa.array([12, 13], pa.int64())}),
    )
    assert code == 200
    expect = sorted(set(expect) - {12, 13})
    assert sorted(
        r.id for r in catalog.load_table("dl", "t").scan().collect()
    ) == expect
    # the refreshed mirror now carries a content=2 delete file pyice applies
    code, _ = _req(url)
    assert code == 200
    info2 = read_iceberg_table(location)
    assert any(d.content == 2 for d in info2.delete_files)
    back2 = spark.read.format("pyice").load(location)
    assert sorted(r.id for r in back2.collect()) == expect
    # non-puffin bytes posing as PUFFIN refuse (magic mismatch -> 400)
    (code, _), _ = post_delete("d3", [(data_files[0], 2)], fmt="PUFFIN")
    assert code == 400
    assert sorted(
        r.id for r in catalog.load_table("dl", "t").scan().collect()
    ) == expect

    # a REAL v3 deletion vector is SERVED (round 10): a puffin DV
    # referencing file1 pos 0 drops that row
    from iceberg_metadata_pipeline_spark.catalog.puffin import (
        write_deletion_vectors,
    )

    dvp = os.path.join(location, "data", "dv1.puffin")
    write_deletion_vectors(dvp, {data_files[1]: [0]})
    dv_victim = int(pq.read_table(data_files[1])["id"][0].as_py())
    (code, _), _ = post_delete("d4", [], fmt="PUFFIN", raw_path=dvp)
    assert code == 200
    expect = sorted(set(expect) - {dv_victim})
    assert sorted(
        r.id for r in catalog.load_table("dl", "t").scan().collect()
    ) == expect

    # whole-file delete: a manifest list whose data manifest re-lists
    # ONLY file0 (the other file's entries are simply gone — the
    # "dropped from the list" rewrite encoding)
    sid = 7999
    keep_ids = sorted(
        set(int(v) for v in pq.read_table(data_files[0])["id"].to_pylist())
        - {victim}
        - {12, 13}  # the equality-delete victims, wherever they live
    )
    only0 = os.path.join(meta_dir, "only0-m0.avro")
    avro_io.write_container(
        only0,
        manifest_entry_schema([]),
        [
            {
                "status": 1,
                "snapshot_id": sid,
                "sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": data_files[0],
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 4,
                    "file_size_in_bytes": os.path.getsize(data_files[0]),
                },
            }
        ],
    )
    mlist = os.path.join(meta_dir, "snap-drop.avro")
    avro_io.write_container(
        mlist,
        manifest_list_schema(),
        [
            {
                "manifest_path": only0,
                "manifest_length": os.path.getsize(only0),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": sid,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 4,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
    )
    commit = {
        "updates": [
            {"action": "add-snapshot", "snapshot": {
                "snapshot-id": sid, "manifest-list": mlist,
                "summary": {"operation": "delete"}}},
            {"action": "set-snapshot-ref", "ref-name": "main",
             "type": "branch", "snapshot-id": sid},
        ],
    }
    code, out3 = _req(url, "POST", commit)
    assert code == 200
    assert sorted(
        r.id for r in catalog.load_table("dl", "t").scan().collect()
    ) == keep_ids


def test_commit_table_remove_snapshots(spark, server, tmp_path):
    """Round 10: expire over REST — the spec's remove-snapshots table
    update maps onto metacat's explicit-set expiry. Expired snapshots
    404 on time travel; the current snapshot and ref-protected
    snapshots refuse with nothing applied."""
    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["ex"]})
    _req(
        f"{base}/v1/namespaces/ex/tables",
        "POST",
        {
            "name": "t",
            "schema": {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            },
        },
    )
    url = f"{base}/v1/namespaces/ex/tables/t"
    t = catalog.load_table("ex", "t")
    sids = []
    for batch in ([1, 2], [3], [4]):
        t.append_dataframe(
            spark.createDataFrame([(i,) for i in batch], "id long").coalesce(1)
        )
        sids.append(int(t.current_snapshot["snapshot_id"]))

    # expire the two oldest snapshots
    code, _ = _req(url, "POST", {
        "updates": [
            {"action": "remove-snapshots", "snapshot-ids": sids[:2]},
        ],
    })
    assert code == 200
    t = catalog.load_table("ex", "t")
    assert sorted(r.id for r in t.scan().collect()) == [1, 2, 3, 4]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.scan(snapshot_id=sids[0]).collect()
    # current snapshot refuses
    assert _status_of(url, "POST", {
        "updates": [
            {"action": "remove-snapshots", "snapshot-ids": [sids[2]]},
        ],
    }) == 400
    # unknown id refuses
    assert _status_of(url, "POST", {
        "updates": [
            {"action": "remove-snapshots", "snapshot-ids": [123456]},
        ],
    }) == 400
    assert sorted(
        r.id for r in catalog.load_table("ex", "t").scan().collect()
    ) == [1, 2, 3, 4]


def test_commit_table_delete_maintenance(spark, server, tmp_path):
    """Round 11 (verdict item 3, the last writer-verb gap): a foreign
    engine's rewrite_position_delete_files maintenance commit — DELETE
    manifest entries with status=2 removing prior delete files, plus a
    consolidated replacement in the same commit — applies as ONE atomic
    delete-maintenance snapshot: purged entries gone, scan identical,
    replay 409s, a removal naming a non-live delete file refuses with
    nothing applied."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.catalog import avro_io
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        manifest_entry_schema,
        manifest_list_schema,
    )

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["dm"]})
    _req(
        f"{base}/v1/namespaces/dm/tables",
        "POST",
        {
            "name": "t",
            "schema": {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            },
        },
    )
    url = f"{base}/v1/namespaces/dm/tables/t"
    t = catalog.load_table("dm", "t")
    t.append_dataframe(
        spark.createDataFrame([(i,) for i in range(4)], "id long").coalesce(1)
    )
    t.append_dataframe(
        spark.createDataFrame(
            [(i,) for i in range(10, 14)], "id long"
        ).coalesce(1)
    )
    # two separate position-delete commits through the WAREHOUSE API ->
    # two live MOR entries (what maintenance will consolidate)
    files = sorted(f.path for f in t.snapshot_files())
    victims = set()
    for i, (f, pos) in enumerate([(files[0], 1), (files[1], 0)]):
        victims.add(int(pq.read_table(f)["id"][pos].as_py()))
        dp = str(tmp_path / f"dm-d{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([f], pa.string()),
                    "pos": pa.array([pos], pa.int64()),
                }
            ),
            dp,
        )
        t.add_position_delete_files([dp])
    expect = sorted({0, 1, 2, 3, 10, 11, 12, 13} - victims)
    assert sorted(r.id for r in t.scan().collect()) == expect
    assert len(t._resolve_deletes(t.current_snapshot)) == 2

    # refresh the mirror; it serves TWO content=1 delete files
    code, out = _req(url)
    assert code == 200
    location = out["metadata"]["location"]
    meta_dir = os.path.join(location, "metadata")
    info = read_iceberg_table(location, decode_dvs=False)
    old_parts = sorted(d.path for d in info.delete_files)
    assert len(old_parts) == 2
    cur_sid = out["metadata"]["current-snapshot-id"]
    snap = next(
        s
        for s in out["metadata"]["snapshots"]
        if s["snapshot-id"] == cur_sid
    )
    _, _, mrows = avro_io.read_container(snap["manifest-list"])
    data_manifests = [
        dict(r) for r in mrows if int(r.get("content") or 0) == 0
    ]

    def post_maintenance(tag, remove_parts, replacement_rows, req_sid=None):
        sid = 8100 + hash(tag) % 800
        entries = [
            {
                "status": 2,
                "snapshot_id": sid,
                "sequence_number": 9,
                "data_file": {
                    "content": 1,
                    "file_path": p,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 1,
                    "file_size_in_bytes": 1,
                },
            }
            for p in remove_parts
        ]
        if replacement_rows:
            rp = str(tmp_path / f"{tag}-consolidated.parquet")
            pq.write_table(
                pa.table(
                    {
                        "file_path": pa.array(
                            [r[0] for r in replacement_rows], pa.string()
                        ),
                        "pos": pa.array(
                            [r[1] for r in replacement_rows], pa.int64()
                        ),
                    }
                ),
                rp,
            )
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": 9,
                    "data_file": {
                        "content": 1,
                        "file_path": rp,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": len(replacement_rows),
                        "file_size_in_bytes": os.path.getsize(rp),
                    },
                }
            )
        mpath = os.path.join(meta_dir, f"{tag}-d0.avro")
        avro_io.write_container(mpath, manifest_entry_schema([]), entries)
        mlist = os.path.join(meta_dir, f"snap-{sid}-{tag}.avro")
        avro_io.write_container(
            mlist,
            manifest_list_schema(),
            data_manifests
            + [
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": 0,
                    "content": 1,
                    "sequence_number": 9,
                    "min_sequence_number": 9,
                    "added_snapshot_id": sid,
                    "added_files_count": 1,
                    "existing_files_count": 0,
                    "deleted_files_count": len(remove_parts),
                    "added_rows_count": len(replacement_rows or ()),
                    "existing_rows_count": 0,
                    "deleted_rows_count": len(remove_parts),
                }
            ],
        )
        commit = {
            "requirements": [
                {
                    "type": "assert-ref-snapshot-id",
                    "ref": "main",
                    "snapshot-id": req_sid
                    if req_sid is not None
                    else int(
                        catalog.load_table("dm", "t").current_snapshot[
                            "snapshot_id"
                        ]
                    ),
                }
            ],
            "updates": [
                {
                    "action": "add-snapshot",
                    "snapshot": {
                        "snapshot-id": sid,
                        "timestamp-ms": 1700000003000,
                        "manifest-list": mlist,
                        "summary": {"operation": "delete"},
                    },
                },
                {
                    "action": "set-snapshot-ref",
                    "ref-name": "main",
                    "type": "branch",
                    "snapshot-id": sid,
                },
            ],
        }
        try:
            return _req(url, "POST", commit), commit
        except urllib.error.HTTPError as e:
            return (e.code, None), commit

    # a removal naming a NON-LIVE delete file refuses, nothing applied
    (code, _), _ = post_maintenance(
        "mbad", ["/nope/gone-delete.parquet"], []
    )
    assert code == 400
    t = catalog.load_table("dm", "t")
    assert len(t._resolve_deletes(t.current_snapshot)) == 2

    # the real maintenance shape: remove both entries, add ONE
    # consolidated replacement covering the same pairs
    pairs = []
    for p in old_parts:
        tt = pq.read_table(p)
        pairs.extend(
            zip(tt["file_path"].to_pylist(), tt["pos"].to_pylist())
        )
    (code, _), commit = post_maintenance("mok", old_parts, pairs)
    assert code == 200
    t = catalog.load_table("dm", "t")
    live = t._resolve_deletes(t.current_snapshot)
    assert len(live) == 1  # consolidated
    assert sorted(r.id for r in t.scan().collect()) == expect  # identical
    # replaying the same commit against the moved ref -> 409
    assert _status_of(url, "POST", commit) == 409

    # the refreshed mirror's .delete_files carries ONE entry now
    code, _ = _req(url)
    assert code == 200
    info2 = read_iceberg_table(location, decode_dvs=False)
    assert len(info2.delete_files) == 1
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import (
        register as register_pyice,
    )

    register_pyice(spark)
    back = spark.read.format("pyice").load(location)
    assert sorted(r.id for r in back.collect()) == expect


def test_plan_table_scan(spark, server, tmp_path):
    """Round 11: server-side scan planning (the REST planTableScan
    verb) — a thin client gets completed file-scan-tasks without
    reading a manifest: stats-pruned by the posted filter, per-task
    delete-file references (v2 sequence-gated, deduplicated through
    the top-level delete-files array), residual filter echoed; bad
    expressions and unknown columns 400; unknown snapshots 404."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["pl"]})
    _req(
        f"{base}/v1/namespaces/pl/tables",
        "POST",
        {
            "name": "t",
            "schema": {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            },
        },
    )
    t = catalog.load_table("pl", "t")
    t.append_dataframe(
        spark.createDataFrame([(i,) for i in range(4)], "id long").coalesce(1)
    )
    t.append_dataframe(
        spark.createDataFrame(
            [(i,) for i in range(100, 104)], "id long"
        ).coalesce(1)
    )
    url = f"{base}/v1/namespaces/pl/tables/t/plan"

    # unfiltered plan: both files, no deletes
    code, out = _req(url, "POST", {})
    assert code == 200 and out["plan-status"] == "completed"
    assert len(out["file-scan-tasks"]) == 2
    assert "delete-files" not in out
    # per-column bounds keyed by field id ride each data-file (a thin
    # client can range-prune without reading a footer)
    bounds = sorted(
        (
            t_["data-file"]["lower-bounds"]["1"],
            t_["data-file"]["upper-bounds"]["1"],
        )
        for t_ in out["file-scan-tasks"]
    )
    assert bounds == [(0, 3), (100, 103)]
    paths = {t_["data-file"]["file-path"] for t_ in out["file-scan-tasks"]}
    assert paths == {os.path.abspath(f.path) for f in t.snapshot_files()}

    # stats pruning: id >= 100 keeps only the second file; the filter
    # comes back as the residual
    flt = {"type": "gt-eq", "term": "id", "value": 100}
    code, out = _req(url, "POST", {"filter": flt})
    assert code == 200
    assert len(out["file-scan-tasks"]) == 1
    assert out["file-scan-tasks"][0]["residual-filter"] == flt

    # a delete commit attaches per-task delete references, seq-gated:
    # files appended AFTER the delete carry none
    files = sorted(f.path for f in t.snapshot_files())
    dp = str(tmp_path / "pl-d.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([files[0]], pa.string()),
                "pos": pa.array([0], pa.int64()),
            }
        ),
        dp,
    )
    t.add_position_delete_files([dp])
    t.append_dataframe(
        spark.createDataFrame([(200,)], "id long").coalesce(1)
    )
    code, out = _req(url, "POST", {})
    assert code == 200
    assert len(out["file-scan-tasks"]) == 3
    assert len(out["delete-files"]) >= 1
    assert all(
        d["content"] == "position-deletes" for d in out["delete-files"]
    )
    by_path = {
        t_["data-file"]["file-path"]: t_ for t_ in out["file-scan-tasks"]
    }
    new_file = next(
        p for p in by_path if p not in {os.path.abspath(f) for f in files}
    )
    assert "delete-file-references" not in by_path[new_file]  # newer seq
    old = by_path[os.path.abspath(files[0])]
    assert old["delete-file-references"] == list(
        range(len(out["delete-files"]))
    )[: len(old["delete-file-references"])]

    # time travel: plan an old snapshot id
    old_sid = t.meta["snapshots"][0]["snapshot_id"]
    code, out = _req(url, "POST", {"snapshot-id": old_sid})
    assert code == 200 and len(out["file-scan-tasks"]) == 1
    assert _status_of(url, "POST", {"snapshot-id": 424242}) == 404

    # refusals: unsupported expression / unknown column
    assert _status_of(
        url, "POST", {"filter": {"type": "starts-with", "term": "id"}}
    ) == 400
    assert _status_of(
        url, "POST", {"filter": {"type": "eq", "term": "nope", "value": 1}}
    ) == 400


def test_pyrest_datasource_reads_through_plan(spark, server, tmp_path):
    """Round 11: the pyrest DataSource is a THIN ENGINE over the plan
    verb — no metadata JSON, no manifests: loadTable for the schema,
    planTableScan for tasks, parquet + referenced delete files in each
    task. Covers MOR deletes, snapshot time travel, and server-side
    filter pruning."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_metadata_pipeline_spark.ingest.pyrest_source import register

    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["pr"]})
    _req(
        f"{base}/v1/namespaces/pr/tables",
        "POST",
        {
            "name": "t",
            "schema": {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"}
                ],
            },
        },
    )
    t = catalog.load_table("pr", "t")
    t.append_dataframe(
        spark.createDataFrame([(i,) for i in range(4)], "id long").coalesce(1)
    )
    t.append_dataframe(
        spark.createDataFrame(
            [(i,) for i in range(100, 104)], "id long"
        ).coalesce(1)
    )
    first_sid = t.meta["snapshots"][0]["snapshot_id"]
    files = sorted(f.path for f in t.snapshot_files())
    victim = int(pq.read_table(files[0])["id"][1].as_py())
    dp = str(tmp_path / "pr-d.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([files[0]], pa.string()),
                "pos": pa.array([1], pa.int64()),
            }
        ),
        dp,
    )
    t.add_position_delete_files([dp])
    expect = sorted({0, 1, 2, 3, 100, 101, 102, 103} - {victim})

    register(spark)
    back = (
        spark.read.format("pyrest").option("url", base).load("pr.t")
    )
    assert sorted(r.id for r in back.collect()) == expect

    # time travel plans the pre-delete first snapshot (one file)
    old = (
        spark.read.format("pyrest")
        .option("url", base)
        .option("snapshotId", str(first_sid))
        .load("pr.t")
    )
    assert sorted(r.id for r in old.collect()) == [0, 1, 2, 3]

    # a server-side filter prunes to one file; Spark's own filter above
    # the source keeps semantics exact
    flt = _json.dumps({"type": "gt-eq", "term": "id", "value": 100})
    pruned = (
        spark.read.format("pyrest")
        .option("url", base)
        .option("filter", flt)
        .load("pr.t")
        .filter("id >= 100")
    )
    assert sorted(r.id for r in pruned.collect()) == [
        x for x in expect if x >= 100
    ]

    # equality deletes referenced through the plan apply too
    eqp = str(tmp_path / "pr-eq.parquet")
    pq.write_table(pa.table({"id": pa.array([100], pa.int64())}), eqp)
    t.add_foreign_delete_files([], [(["id"], [eqp])])
    back2 = (
        spark.read.format("pyrest").option("url", base).load("pr.t")
    )
    assert sorted(r.id for r in back2.collect()) == sorted(
        set(expect) - {100}
    )


def test_plan_table_partition_tuples(spark, server):
    """Partitioned tables' plan tasks carry the identity partition
    tuple in spec field order — a thin client can partition-prune."""
    from pyspark.sql import types as T

    from iceberg_metadata_pipeline_spark.catalog.partitioning import (
        PartitionField,
    )

    catalog, srv, base = server
    catalog.ensure_namespace("pp")
    t = catalog.create_table(
        "pp",
        "t",
        T.StructType(
            [
                T.StructField("id", T.LongType(), True),
                T.StructField("g", T.StringType(), True),
            ]
        ),
        partition_spec=[PartitionField("g", "identity")],
    ).refresh()
    t.append_dataframe(
        spark.sql("SELECT id, IF(id % 2 = 0, 'a', 'b') AS g FROM RANGE(8)")
    )
    code, out = _req(f"{base}/v1/namespaces/pp/tables/t/plan", "POST", {})
    assert code == 200
    parts = sorted(
        {t_["data-file"]["partition"][0] for t_ in out["file-scan-tasks"]}
    )
    assert parts == ["a", "b"]


@pytest.fixture()
def async_server(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh-async"))
    srv = RestCatalogServer(
        catalog, str(tmp_path / "mirror-async"), async_planning=True
    ).start()
    yield catalog, srv, f"http://127.0.0.1:{srv.port}"
    srv.stop()


def test_async_plan_handshake(spark, async_server):
    """Round 12: the spec's ASYNCHRONOUS planning handshake — a server
    configured for async planning answers planTableScan with 202
    "submitted" + a plan-id; GET .../plan/{plan-id} resolves the
    completed plan; DELETE cancels (always succeeds: plan-ids are
    stateless, nothing is queued server-side). The id pins the snapshot
    at SUBMIT time, so a fetch after concurrent commits plans the table
    as of submission."""
    catalog, srv, base = async_server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["ap"]})
    _req(
        f"{base}/v1/namespaces/ap/tables",
        "POST",
        {"name": "t", "schema": ICE_SCHEMA},
    )
    t = catalog.load_table("ap", "t")
    t.append_dataframe(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, cat string")
        .coalesce(1)
    )
    url = f"{base}/v1/namespaces/ap/tables/t/plan"

    code, sub = _req(url, "POST", {})
    assert code == 202 and sub["plan-status"] == "submitted"
    pid = sub["plan-id"]

    # concurrent commit between submit and fetch
    t.append_dataframe(
        spark.createDataFrame([(3, "c")], "id long, cat string").coalesce(1)
    )

    code, plan = _req(f"{url}/{pid}")
    assert code == 200 and plan["plan-status"] == "completed"
    # pinned at submit: ONE task (the pre-commit file), not two
    assert len(plan["file-scan-tasks"]) == 1

    # a fresh submit+fetch sees both files
    _, sub2 = _req(url, "POST", {})
    _, plan2 = _req(f"{url}/{sub2['plan-id']}")
    assert len(plan2["file-scan-tasks"]) == 2

    # cancelPlanning: 204 on any well-formed id, 400 on garbage
    assert _status_of(f"{url}/{pid}", "DELETE") == 204
    assert _status_of(f"{url}/not-base64!!", "DELETE") == 400
    assert _status_of(f"{url}/not-base64!!") == 400

    # token confusion is refused both ways: a paged plan's plan-task
    # token is NOT a plan-id, and a plan-id is NOT a plan-task
    _, sub3 = _req(url, "POST", {"page-size": 1})
    _, plan3 = _req(f"{url}/{sub3['plan-id']}")
    assert plan3.get("plan-tasks"), "paged async plan should page"
    task_token = plan3["plan-tasks"][0]
    assert _status_of(f"{url}/{task_token}") == 400
    assert (
        _status_of(
            f"{base}/v1/namespaces/ap/tables/t/tasks",
            "POST",
            {"plan-task": sub3["plan-id"]},
        )
        == 400
    )


def test_async_plan_empty_table_pin(spark, async_server):
    """A plan submitted against a snapshot-less table stays EMPTY at
    fetch even if an append lands in between (the pin is the absence
    of a snapshot, not 'latest')."""
    catalog, srv, base = async_server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["ap2"]})
    _req(
        f"{base}/v1/namespaces/ap2/tables",
        "POST",
        {"name": "t", "schema": ICE_SCHEMA},
    )
    url = f"{base}/v1/namespaces/ap2/tables/t/plan"
    _, sub = _req(url, "POST", {})
    pid = sub["plan-id"]
    catalog.load_table("ap2", "t").append_dataframe(
        spark.createDataFrame([(1, "a")], "id long, cat string").coalesce(1)
    )
    code, plan = _req(f"{url}/{pid}")
    assert code == 200 and plan["file-scan-tasks"] == []


def test_pyrest_reads_through_async_server(spark, async_server):
    """The pyrest client completes the async handshake transparently:
    the same .read.format('pyrest') call works against a synchronous
    or an asynchronous server (batch AND the filter option path)."""
    import json as _json

    from iceberg_metadata_pipeline_spark.ingest.pyrest_source import register

    catalog, srv, base = async_server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["ap3"]})
    _req(
        f"{base}/v1/namespaces/ap3/tables",
        "POST",
        {"name": "t", "schema": ICE_SCHEMA},
    )
    t = catalog.load_table("ap3", "t")
    t.append_dataframe(
        spark.createDataFrame(
            [(i, "x") for i in range(6)], "id long, cat string"
        ).coalesce(1)
    )
    register(spark)
    back = spark.read.format("pyrest").option("url", base).load("ap3.t")
    assert sorted(r.id for r in back.collect()) == [0, 1, 2, 3, 4, 5]

    flt = _json.dumps({"type": "gt-eq", "term": "id", "value": 3})
    filt = (
        spark.read.format("pyrest")
        .option("url", base)
        .option("filter", flt)
        .load("ap3.t")
    )
    assert sorted(r.id for r in filt.collect()) == [3, 4, 5]


def test_view_rename_and_replace(spark, server):
    """Round 12: renameView + replaceView. Rename moves the mirror's
    exported metadata with the view, so the served view-uuid is STABLE
    across rename (the spec's rename-preserves-identity posture);
    replace commits a new version through UpdateViewRequest and the
    version history accumulates under the same uuid. Conflicts refuse:
    missing source 404, existing destination 409, table-shadowing 409,
    stale assert-view-uuid 409, unknown update action 400."""
    catalog, srv, base = server
    _req(f"{base}/v1/namespaces", "POST", {"namespace": ["vr"]})
    _req(
        f"{base}/v1/namespaces/vr/tables",
        "POST",
        {"name": "t", "schema": ICE_SCHEMA},
    )
    mk = {
        "name": "v1",
        "view-version": {
            "representations": [
                {"type": "sql", "dialect": "spark", "sql": "SELECT 1 AS a"}
            ]
        },
    }
    code, out = _req(f"{base}/v1/namespaces/vr/views", "POST", mk)
    assert code == 200
    uuid0 = out["metadata"]["view-uuid"]

    # rename within the namespace: uuid survives
    code, _ = _req(
        f"{base}/v1/views/rename",
        "POST",
        {
            "source": {"namespace": ["vr"], "name": "v1"},
            "destination": {"namespace": ["vr"], "name": "v2"},
        },
    )
    assert code == 204
    assert _status_of(f"{base}/v1/namespaces/vr/views/v1") == 404
    code, out = _req(f"{base}/v1/namespaces/vr/views/v2")
    assert code == 200 and out["metadata"]["view-uuid"] == uuid0

    # conflicts
    assert (
        _status_of(
            f"{base}/v1/views/rename",
            "POST",
            {
                "source": {"namespace": ["vr"], "name": "nope"},
                "destination": {"namespace": ["vr"], "name": "x"},
            },
        )
        == 404
    )
    _req(f"{base}/v1/namespaces/vr/views", "POST", dict(mk, name="v3"))
    assert (
        _status_of(
            f"{base}/v1/views/rename",
            "POST",
            {
                "source": {"namespace": ["vr"], "name": "v3"},
                "destination": {"namespace": ["vr"], "name": "v2"},
            },
        )
        == 409
    )
    assert (
        _status_of(
            f"{base}/v1/views/rename",
            "POST",
            {
                "source": {"namespace": ["vr"], "name": "v3"},
                "destination": {"namespace": ["vr"], "name": "t"},
            },
        )
        == 409
    )

    # replaceView: new SQL, version bumps, uuid stable
    rep = {
        "requirements": [{"type": "assert-view-uuid", "uuid": uuid0}],
        "updates": [
            {
                "action": "add-view-version",
                "view-version": {
                    "representations": [
                        {
                            "type": "sql",
                            "dialect": "spark",
                            "sql": "SELECT 2 AS a",
                        }
                    ]
                },
            },
            {"action": "set-current-view-version", "view-version-id": -1},
        ],
    }
    code, out = _req(f"{base}/v1/namespaces/vr/views/v2", "POST", rep)
    assert code == 200
    md = out["metadata"]
    assert md["view-uuid"] == uuid0
    cur = next(
        v for v in md["versions"] if v["version-id"] == md["current-version-id"]
    )
    assert any(
        r.get("sql") == "SELECT 2 AS a" for r in cur["representations"]
    )
    assert len(md["versions"]) >= 2  # history retained

    # stale uuid 409; unknown action 400; missing pieces 400
    stale = dict(rep, requirements=[{"type": "assert-view-uuid", "uuid": "nope"}])
    assert _status_of(f"{base}/v1/namespaces/vr/views/v2", "POST", stale) == 409
    bad = {"updates": [{"action": "remove-view-version", "view-version-id": 1}]}
    assert _status_of(f"{base}/v1/namespaces/vr/views/v2", "POST", bad) == 400
    assert (
        _status_of(
            f"{base}/v1/namespaces/vr/views/v2",
            "POST",
            {"updates": [rep["updates"][0]]},
        )
        == 400
    )


def test_oauth_tokens_and_enforcement(spark, tmp_path):
    """Round 12: the catalog-hosted OAuth flow. An auth-enforcing
    server 401s every verb without a bearer token (OAuthError shape),
    mints STATELESS client_credentials tokens (form-encoded AND JSON
    bodies), accepts them on any verb, and rejects bad secrets,
    garbled tokens, and non-client_credentials grants. A server
    without auth_secret still mints tokens but enforces nothing."""
    import urllib.error
    import urllib.request

    catalog = Catalog(spark, str(tmp_path / "wh-auth"))
    srv = RestCatalogServer(
        catalog, str(tmp_path / "mirror-auth"), auth_secret="s3cret"
    ).start()
    base = f"http://127.0.0.1:{srv.port}"
    try:
        # unauthenticated: 401 with the OAuthError shape
        try:
            _req(f"{base}/v1/config")
            raise AssertionError("should 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
            assert json.loads(e.read())["error"] == "invalid_token"

        # bad secret refused
        def tok(body, ctype="application/x-www-form-urlencoded"):
            r = urllib.request.Request(
                f"{base}/v1/oauth/tokens",
                data=body.encode() if isinstance(body, str) else body,
                method="POST",
            )
            r.add_header("Content-Type", ctype)
            with urllib.request.urlopen(r) as resp:
                return resp.status, json.loads(resp.read())

        try:
            tok("grant_type=client_credentials&client_secret=nope")
            raise AssertionError("bad secret should 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
            assert json.loads(e.read())["error"] == "invalid_client"
        try:
            tok("grant_type=password&client_secret=s3cret")
            raise AssertionError("bad grant should 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400

        # form-encoded and JSON both mint; tokens authorize any verb
        _, out = tok(
            "grant_type=client_credentials&client_id=me&client_secret=s3cret"
        )
        assert out["token_type"] == "bearer"
        token = out["access_token"]
        _, out2 = tok(
            json.dumps(
                {
                    "grant_type": "client_credentials",
                    "client_id": "me",
                    "client_secret": "s3cret",
                }
            ),
            ctype="application/json",
        )
        assert out2["access_token"] == token  # stateless: same id, same token

        r = urllib.request.Request(f"{base}/v1/config")
        r.add_header("Authorization", f"Bearer {token}")
        with urllib.request.urlopen(r) as resp:
            assert resp.status == 200

        # garbled token 401
        r = urllib.request.Request(f"{base}/v1/config")
        r.add_header("Authorization", "Bearer not-a-token")
        try:
            urllib.request.urlopen(r)
            raise AssertionError("garbled token should 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
    finally:
        srv.stop()

    # no-auth server: open verbs, token endpoint still mints
    srv2 = RestCatalogServer(catalog, str(tmp_path / "mirror-noauth")).start()
    base2 = f"http://127.0.0.1:{srv2.port}"
    try:
        code, _ = _req(f"{base2}/v1/config")
        assert code == 200
        r = urllib.request.Request(
            f"{base2}/v1/oauth/tokens",
            data=b"grant_type=client_credentials",
            method="POST",
        )
        r.add_header("Content-Type", "application/x-www-form-urlencoded")
        with urllib.request.urlopen(r) as resp:
            assert json.loads(resp.read())["token_type"] == "bearer"
    finally:
        srv2.stop()


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
