"""Iceberg spec-v2 format layer: avro codec byte fixtures + round-trips.

The byte fixtures are hand-derived from the PUBLIC Avro specification's
own worked examples (https://avro.apache.org/docs/1.11.1/specification/,
"Binary Encoding" section) — NOT produced by the code under test — so the
codec is validated against the spec, not against itself."""

from __future__ import annotations

import glob
import io
import json
import os

import pytest
from pyspark.sql import types as T

from iceberg_metadata_pipeline_spark.catalog import avro_io
from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
    export_iceberg_table,
    iceberg_schema_to_spark,
    import_iceberg_table,
    manifest_entry_schema,
    manifest_list_schema,
    read_iceberg_table,
    spark_schema_to_iceberg,
)
from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog


# ---------------------------------------------------------------------------
# 1. spec byte fixtures (golden bytes copied from the Avro spec document)
# ---------------------------------------------------------------------------


def _enc_long(n: int) -> bytes:
    buf = io.BytesIO()
    avro_io.write_long(buf, n)
    return buf.getvalue()


def test_zigzag_varint_spec_table():
    # the spec's own int/long encoding table, verbatim
    assert _enc_long(0) == b"\x00"
    assert _enc_long(-1) == b"\x01"
    assert _enc_long(1) == b"\x02"
    assert _enc_long(-2) == b"\x03"
    assert _enc_long(2) == b"\x04"
    assert _enc_long(-64) == b"\x7f"
    assert _enc_long(64) == b"\x80\x01"
    # round-trip the full signed-64 corner cases
    for n in (2**63 - 1, -(2**63), 123456789, -987654321):
        assert avro_io.read_long(io.BytesIO(_enc_long(n))) == n


def test_string_encoding_spec_example():
    # spec: the three-character string "foo" → 06 66 6f 6f
    buf = io.BytesIO()
    avro_io.write_datum(buf, "string", "foo")
    assert buf.getvalue() == b"\x06foo"


def test_record_encoding_spec_example():
    # spec: record {"a": long, "b": string} with a=27, b="foo"
    # → 36 06 66 6f 6f
    schema = {
        "type": "record",
        "name": "test",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
        ],
    }
    buf = io.BytesIO()
    avro_io.write_datum(buf, schema, {"a": 27, "b": "foo"})
    assert buf.getvalue() == b"\x36\x06\x66\x6f\x6f"
    assert avro_io.read_datum(io.BytesIO(buf.getvalue()), schema) == {
        "a": 27,
        "b": "foo",
    }


def test_array_encoding_spec_example():
    # spec: array<long> [3, 27] → 04 06 36 00
    schema = {"type": "array", "items": "long"}
    buf = io.BytesIO()
    avro_io.write_datum(buf, schema, [3, 27])
    assert buf.getvalue() == b"\x04\x06\x36\x00"
    assert avro_io.read_datum(io.BytesIO(buf.getvalue()), schema) == [3, 27]


def test_union_null_string_spec_example():
    # spec: union ["null","string"] value null → 00; value "a" → 02 02 61
    schema = ["null", "string"]
    buf = io.BytesIO()
    avro_io.write_datum(buf, schema, None)
    assert buf.getvalue() == b"\x00"
    buf = io.BytesIO()
    avro_io.write_datum(buf, schema, "a")
    assert buf.getvalue() == b"\x02\x02a"


def test_datum_kitchen_sink_round_trip():
    schema = {
        "type": "record",
        "name": "sink",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "by", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "f16", "size": 4}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "u", "type": ["null", {"type": "array", "items": "string"}]},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": ["null", "long"]}],
                },
            },
        ],
    }
    value = {
        "b": True,
        "i": -42,
        "f": 1.5,
        "d": -2.25,
        "by": b"\x00\xff",
        "fx": b"abcd",
        "m": {"k1": 1, "k2": -999},
        "u": ["x", "y"],
        "nested": {"x": None},
    }
    buf = io.BytesIO()
    avro_io.write_datum(buf, schema, value)
    assert avro_io.read_datum(io.BytesIO(buf.getvalue()), schema) == value


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_object_container_round_trip(tmp_path, codec):
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "tag", "type": ["null", "string"], "default": None},
        ],
    }
    records = [{"id": i, "tag": None if i % 3 == 0 else f"t{i}"} for i in range(100)]
    path = str(tmp_path / f"t_{codec}.avro")
    avro_io.write_container(path, schema, records, codec=codec)
    with open(path, "rb") as fh:
        assert fh.read(4) == b"Obj\x01"  # container magic per spec
    got_schema, meta, got = avro_io.read_container(path)
    assert got == records
    assert got_schema == schema
    assert meta["avro.codec"] == codec.encode()


def test_container_empty_and_extra_meta(tmp_path):
    schema = {"type": "record", "name": "e", "fields": []}
    path = str(tmp_path / "empty.avro")
    avro_io.write_container(
        path, schema, [], extra_meta={"format-version": b"2", "content": b"data"}
    )
    _, meta, got = avro_io.read_container(path)
    assert got == []
    assert meta["format-version"] == b"2"


# ---------------------------------------------------------------------------
# 2. schema conversion
# ---------------------------------------------------------------------------


def test_schema_conversion_round_trip():
    st = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("price", T.DecimalType(12, 2), True),
            T.StructField("emb", T.ArrayType(T.FloatType(), False), True),
            T.StructField(
                "props", T.MapType(T.StringType(), T.LongType(), True), True
            ),
            T.StructField(
                "nested",
                T.StructType([T.StructField("ts", T.TimestampType(), True)]),
                True,
            ),
        ]
    )
    ice, last_id = spark_schema_to_iceberg(st)
    # per-field integer ids + required flags — what a real TableMetadataParser
    # demands (and what metacat's own JSON schema lacks by design)
    ids: list[int] = []

    def walk(fields):
        for f in fields:
            assert isinstance(f["id"], int) and isinstance(f["required"], bool)
            ids.append(f["id"])
            if isinstance(f["type"], dict) and f["type"]["type"] == "struct":
                walk(f["type"]["fields"])

    walk(ice["fields"])
    assert len(ids) == len(set(ids)), "field ids must be unique"
    assert last_id >= max(ids)
    assert ice["fields"][0]["required"] is True  # non-nullable → required
    assert ice["fields"][2]["type"] == "decimal(12, 2)"
    assert ice["fields"][3]["type"]["type"] == "list"
    assert ice["fields"][3]["type"]["element-required"] is True
    assert iceberg_schema_to_spark(ice) == st


def test_manifest_schemas_carry_spec_field_ids():
    entry = manifest_entry_schema()
    by_name = {f["name"]: f for f in entry["fields"]}
    assert by_name["status"]["field-id"] == 0
    assert by_name["data_file"]["field-id"] == 2
    df_fields = {f["name"]: f for f in by_name["data_file"]["type"]["fields"]}
    assert df_fields["file_path"]["field-id"] == 100
    assert df_fields["content"]["field-id"] == 134
    ml = {f["name"]: f for f in manifest_list_schema()["fields"]}
    assert ml["manifest_path"]["field-id"] == 500
    assert ml["content"]["field-id"] == 517


# ---------------------------------------------------------------------------
# 3. export -> read -> import round-trip on a live metacat table
# ---------------------------------------------------------------------------


@pytest.fixture()
def metacat_table(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    st = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    t = catalog.create_table("nyc", "fmt_rt", st)
    df = spark.createDataFrame(
        [(i, f"n{i}", i / 4.0) for i in range(20)], schema=st
    )
    t.append_dataframe(df)
    t.append_dataframe(df.selectExpr("id + 100 as id", "name", "score"))
    return catalog, t


def test_export_is_spec_v2_compliant(metacat_table, tmp_path):
    _, t = metacat_table
    dest = str(tmp_path / "ice_mirror")
    meta_path = export_iceberg_table(t, dest)

    doc = json.load(open(meta_path))
    # the exact keys tests/test_iceberg_interop.py pins metacat's OWN
    # metadata as NOT having — the export direction now provides them
    assert doc["format-version"] == 2
    assert "table-uuid" in doc and "last-sequence-number" in doc
    for fld in doc["schemas"][0]["fields"]:
        assert isinstance(fld["id"], int) and "required" in fld
    assert doc["partition-specs"] == [{"spec-id": 0, "fields": []}]
    assert doc["refs"]["main"]["snapshot-id"] == doc["current-snapshot-id"]
    with open(os.path.join(dest, "metadata", "version-hint.text")) as fh:
        assert fh.read().strip() == "1"

    snap = doc["snapshots"][0]
    mlist = snap["manifest-list"]
    assert os.path.exists(mlist) and mlist.endswith(".avro")
    schema, meta, manifests = avro_io.read_container(mlist)
    assert schema["name"] == "manifest_file"
    assert meta["format-version"] == b"2"
    assert len(manifests) == 1
    mf = manifests[0]
    assert mf["added_rows_count"] == 40
    assert os.path.getsize(mf["manifest_path"]) == mf["manifest_length"]

    _, mmeta, entries = avro_io.read_container(mf["manifest_path"])
    assert mmeta["content"] == b"data"
    assert json.loads(mmeta["schema"])["type"] == "struct"
    assert len(entries) == len(t.snapshot_files())  # one entry per live file
    assert sum(e["data_file"]["record_count"] for e in entries) == 40
    for e in entries:
        assert e["data_file"]["file_format"] == "PARQUET"
        assert os.path.exists(e["data_file"]["file_path"])


def test_export_read_scan_matches_metacat(spark, metacat_table, tmp_path):
    _, t = metacat_table
    dest = str(tmp_path / "ice_mirror2")
    export_iceberg_table(t, dest)
    info = read_iceberg_table(dest)
    assert info.schema == t.schema
    assert {f.path for f in info.files} == {
        f.path for f in t.snapshot_files()
    }
    got = spark.read.schema(info.schema).parquet(*[f.path for f in info.files])
    expected = {r["id"] for r in t.scan().collect()}
    assert {r["id"] for r in got.collect()} == expected


def test_import_into_second_catalog(spark, metacat_table, tmp_path):
    _, t = metacat_table
    dest = str(tmp_path / "ice_mirror3")
    export_iceberg_table(t, dest)
    cat2 = Catalog(spark, str(tmp_path / "wh2"))
    t2 = import_iceberg_table(spark, cat2, dest, "nyc", "fmt_imported")
    assert {r["id"] for r in t2.scan().collect()} == {
        r["id"] for r in t.scan().collect()
    }
    # metadata-only: no data files copied under the new warehouse
    assert not glob.glob(str(tmp_path / "wh2" / "**" / "*.parquet"), recursive=True)


def test_export_materializes_pending_mor_deletes(spark, metacat_table, tmp_path):
    _, t = metacat_table
    t.delete_where_mor("id < 5")
    # round 11: a predicate entry MATERIALIZES at export (one
    # distributed run of the predicate -> position-delete manifest)
    # instead of refusing
    dest0 = str(tmp_path / "ice_pred")
    export_iceberg_table(t, dest0)
    info0 = read_iceberg_table(dest0)
    assert [d for d in info0.delete_files if d.content == 1]
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import register

    register(spark)
    back0 = spark.read.format("pyice").load(dest0)
    assert back0.filter("id < 5").count() == 0
    assert back0.count() == t.scan().count()
    # compaction folds the deletes into data; the export then carries
    # no delete manifest at all
    t.rewrite_data_files()
    dest = str(tmp_path / "ice_after_fold")
    export_iceberg_table(t, dest)
    info = read_iceberg_table(dest)
    got = spark.read.schema(info.schema).parquet(*[f.path for f in info.files])
    assert got.count() == t.scan().count()
    assert got.filter("id < 5").count() == 0


def test_export_empty_table(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "whe"))
    t = catalog.create_table(
        "nyc", "empty_t", T.StructType([T.StructField("id", T.LongType())])
    )
    dest = str(tmp_path / "ice_empty")
    meta_path = export_iceberg_table(t, dest)
    doc = json.load(open(meta_path))
    assert doc["current-snapshot-id"] == -1 and doc["snapshots"] == []
    info = read_iceberg_table(dest)
    assert info.snapshot_id is None and info.files == []


def test_export_versions_monotonically(metacat_table, tmp_path):
    """Round 9: an UNCHANGED re-export is a no-op (same metadata path —
    the incremental fast path proves nothing moved); a real change
    claims the next version."""
    catalog, t = metacat_table
    dest = str(tmp_path / "ice_vers")
    p1 = export_iceberg_table(t, dest)
    p2 = export_iceberg_table(t, dest)
    assert p1.endswith("v1.metadata.json") and p2 == p1
    t.set_properties({"touched": "1"})
    p3 = export_iceberg_table(t.refresh(), dest)
    assert p3.endswith("v2.metadata.json")
    with open(os.path.join(dest, "metadata", "version-hint.text")) as fh:
        assert fh.read().strip() == "2"


# ---------------------------------------------------------------------------
# 4. avro as a Spark source/sink (ingest/avro_source.py)
# ---------------------------------------------------------------------------


def test_avro_source_nulls_and_temporal_types(spark, tmp_path):
    from iceberg_metadata_pipeline_spark.ingest.avro_source import (
        read_avro,
        write_avro,
    )

    df = spark.sql(
        """
        SELECT id,
               CASE WHEN id % 3 = 0 THEN NULL ELSE CONCAT('s', id) END AS s,
               CASE WHEN id % 4 = 0 THEN NULL
                    ELSE DATE_ADD(DATE'2020-01-01', CAST(id AS INT)) END AS d,
               TIMESTAMP'2021-06-01 12:00:00' + MAKE_INTERVAL(0,0,0,0,0,0,id) AS ts,
               CAST(id AS DOUBLE) / 8 AS v,
               id % 2 = 0 AS flag
        FROM RANGE(50)
        """
    )
    loc = str(tmp_path / "avro_rt")
    n_files = write_avro(df.repartition(3), loc)
    assert n_files == 3
    back = read_avro(spark, loc)
    assert back.schema == df.schema
    a = sorted(df.collect(), key=lambda r: r["id"])
    b = sorted(back.collect(), key=lambda r: r["id"])
    assert a == b


def test_avro_source_rejects_unmappable_types(spark, tmp_path):
    from iceberg_metadata_pipeline_spark.ingest.avro_source import write_avro

    df = spark.sql("SELECT CAST(1.5 AS DECIMAL(10,2)) AS dec_col")
    with pytest.raises(ValueError, match="no mapping"):
        write_avro(df, str(tmp_path / "nope"))


def test_export_carries_identity_partition_spec(spark, tmp_path):
    """Identity partition fields survive export: proper source-id/field-id
    in the metadata JSON, typed values in each manifest entry's r102
    record — so a real reader can prune on them. Non-identity transforms
    are dropped by documented contract (module docstring)."""
    from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField

    catalog = Catalog(spark, str(tmp_path / "whp"))
    st = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("cat", T.StringType(), True),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    t = catalog.create_table(
        "nyc",
        "part_ident",
        st,
        partition_spec=[
            PartitionField("cat", "identity"),
            PartitionField("id", "bucket[4]"),  # non-identity: must be dropped
        ],
    )
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i / 2.0) for i in range(12)], schema=st
    )
    t = t.refresh()
    t.append_dataframe(df)
    dest = str(tmp_path / "ice_part")
    meta_path = export_iceberg_table(t, dest)

    doc = json.load(open(meta_path))
    spec = doc["partition-specs"][0]["fields"]
    assert spec == [
        {"name": "cat", "transform": "identity", "source-id": 2, "field-id": 1000}
    ]
    assert doc["last-partition-id"] == 1000

    mlist = doc["snapshots"][0]["manifest-list"]
    _, _, manifests = avro_io.read_container(mlist)
    mschema, mmeta, entries = avro_io.read_container(manifests[0]["manifest_path"])
    assert json.loads(mmeta["partition-spec"]) == spec
    r102 = next(
        f["type"]["fields"]
        for f in mschema["fields"][4]["type"]["fields"]
        if f["name"] == "partition"
    )
    assert [f["name"] for f in r102] == ["cat"]
    vals = {e["data_file"]["partition"]["cat"] for e in entries}
    assert vals == {"a", "b"}

    # import round-trip still exact, and PRUNING survives: the imported
    # table re-declares the identity spec with carried per-file values
    t2 = import_iceberg_table(
        spark, Catalog(spark, str(tmp_path / "whp2")), dest, "nyc", "part_rt2"
    )
    assert sorted(r["id"] for r in t2.scan().collect()) == list(range(12))
    from iceberg_metadata_pipeline_spark.catalog.partitioning import (
        prune_files_by_partition,
    )

    all_files = t2.snapshot_files()
    kept = prune_files_by_partition(
        spark, all_files, t2.partition_specs, t2._schema_types(), "cat = 'a'"
    )
    assert 0 < len(kept) < len(all_files), "identity pruning must drop files"
    assert sorted(r["id"] for r in t2.scan(filter="cat = 'a'").collect()) == [
        i for i in range(12) if i % 2 == 0
    ]


# ---------------------------------------------------------------------------
# regression tests from the round-5 self-review
# ---------------------------------------------------------------------------


def test_avro_timestamp_micros_exact(spark, tmp_path):
    """Micros must go through exact integer arithmetic: float
    total_seconds()*1e6 truncation corrupts ~1% of modern timestamps by
    1 µs (ulp near 2e9 s is ~0.4 µs)."""
    from iceberg_metadata_pipeline_spark.ingest.avro_source import (
        read_avro,
        write_avro,
    )

    # includes a value the float path reproducibly writes 1 µs low
    df = spark.sql(
        """
        SELECT * FROM VALUES
          (1, TIMESTAMP'2005-01-08 06:08:17.526635'),
          (2, TIMESTAMP'2024-12-31 23:59:59.999999'),
          (3, TIMESTAMP'1997-03-01 00:00:00.000001'),
          (4, TIMESTAMP'2038-01-19 03:14:07.999999')
        AS t(id, ts)
        """
    )
    loc = str(tmp_path / "ts_exact")
    write_avro(df, loc)
    back = read_avro(spark, loc)
    assert sorted(back.collect()) == sorted(df.collect())


def test_write_avro_overwrite_clears_stale_parts(spark, tmp_path):
    """A narrower re-write must not leave high-numbered part files from a
    previous wider write (read_avro would silently union stale rows)."""
    from iceberg_metadata_pipeline_spark.ingest.avro_source import (
        read_avro,
        write_avro,
    )

    loc = str(tmp_path / "ow")
    df1 = spark.range(100).selectExpr("id", "CONCAT('old', id) AS s")
    assert write_avro(df1.repartition(8), loc) == 8
    df2 = spark.range(10).selectExpr("id + 1000 AS id", "CONCAT('new', id) AS s")
    assert write_avro(df2.repartition(2), loc) == 2
    back = read_avro(spark, loc)
    assert sorted(r["id"] for r in back.collect()) == [i + 1000 for i in range(10)]


def test_timestamp_identity_partition_round_trip(spark, tmp_path):
    """Identity partitions on a timestamp column: manifests carry epoch-
    micros longs (what a real reader expects for a timestamptz source),
    and the importer renders them back to metacat's ISO form so pruning
    still works after import."""
    from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField

    catalog = Catalog(spark, str(tmp_path / "wht"))
    st = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    t = catalog.create_table(
        "nyc", "ts_part", st, partition_spec=[PartitionField("ts", "identity")]
    )
    df = spark.sql(
        "SELECT id, IF(id % 2 = 0, TIMESTAMP'2024-01-01 00:00:00', "
        "TIMESTAMP'2024-06-15 12:30:45') AS ts FROM RANGE(10)"
    )
    t = t.refresh()
    t.append_dataframe(df)
    dest = str(tmp_path / "ice_ts")
    meta_path = export_iceberg_table(t, dest)

    # manifest values are epoch-micros longs, not strings
    doc = json.load(open(meta_path))
    mlist = doc["snapshots"][0]["manifest-list"]
    _, _, manifests = avro_io.read_container(mlist)
    _, _, entries = avro_io.read_container(manifests[0]["manifest_path"])
    vals = {e["data_file"]["partition"]["ts"] for e in entries}
    assert vals == {1704067200000000, 1718454645000000}

    # import → values render back to ISO; a timestamp predicate prunes
    t2 = import_iceberg_table(
        spark, Catalog(spark, str(tmp_path / "wht2")), dest, "nyc", "ts_rt"
    )
    stored = {v for f in t2.snapshot_files() for v in (f.partition or {}).values()}
    assert stored == {"2024-01-01 00:00:00", "2024-06-15 12:30:45"}
    got = t2.scan(filter="ts = TIMESTAMP'2024-01-01 00:00:00'").collect()
    assert sorted(r["id"] for r in got) == [0, 2, 4, 6, 8]


def test_unsupported_identity_partition_type_raises(spark, tmp_path):
    """Decimal identity partitions have no typed manifest encoding here —
    export must refuse loudly, not emit string-typed values a real reader
    can't resolve against the declared decimal source."""
    from iceberg_metadata_pipeline_spark.catalog.partitioning import PartitionField

    catalog = Catalog(spark, str(tmp_path / "whd"))
    st = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("amt", T.DecimalType(10, 2), True),
        ]
    )
    t = catalog.create_table(
        "nyc", "dec_part", st, partition_spec=[PartitionField("amt", "identity")]
    )
    t = t.refresh()
    t.append_dataframe(
        spark.sql("SELECT id, CAST(id AS DECIMAL(10,2)) AS amt FROM RANGE(4)")
    )
    with pytest.raises(ValueError, match="unsupported source type"):
        export_iceberg_table(t, str(tmp_path / "ice_dec"))


def test_latest_metadata_numeric_sort(tmp_path):
    """v10 must beat v9 when version-hint.text is missing (plain
    lexicographic sort gets this wrong)."""
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        _latest_metadata_path,
    )

    meta = tmp_path / "tbl" / "metadata"
    meta.mkdir(parents=True)
    for v in list(range(1, 11)):
        (meta / f"v{v}.metadata.json").write_text("{}")
    assert _latest_metadata_path(str(tmp_path / "tbl")).endswith(
        "v10.metadata.json"
    )


def test_read_v1_inline_manifests(tmp_path):
    """Spec-v1 tables may embed manifest paths in the snapshot (no
    manifest-list file) — the reader must follow them."""
    meta = tmp_path / "v1tbl" / "metadata"
    meta.mkdir(parents=True)
    schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
        ],
    }
    mpath = str(meta / "m0.avro")
    avro_io.write_container(
        mpath,
        manifest_entry_schema([]),
        [
            {
                "status": 1,
                "snapshot_id": 7,
                "data_file": {
                    "content": 0,
                    "file_path": "/data/a.parquet",
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 5,
                    "file_size_in_bytes": 100,
                },
            }
        ],
    )
    md = {
        "format-version": 1,
        "table-uuid": "0" * 32,
        "location": str(tmp_path / "v1tbl"),
        "last-updated-ms": 0,
        "last-column-id": 1,
        "schema": schema,
        "partition-spec": [],
        "current-snapshot-id": 7,
        "snapshots": [{"snapshot-id": 7, "timestamp-ms": 0, "manifests": [mpath]}],
    }
    (meta / "v1.metadata.json").write_text(json.dumps(md))
    info = read_iceberg_table(str(tmp_path / "v1tbl"))
    assert [f.path for f in info.files] == ["/data/a.parquet"]
    assert info.files[0].record_count == 5


# ---------------------------------------------------------------------------
# merge-on-read import: position + equality delete application
# ---------------------------------------------------------------------------


def _append_mor_delete_snapshot(meta_path, *, pos_deletes=None, eq_deletes=None):
    """Hand-append a DELETE-manifest snapshot to an exported Iceberg dir
    (export refuses to write MOR state, so the fixture builds what a real
    runtime's row-level DELETE commit would: delete parquet + delete
    manifest + extended manifest-list + vN+1 metadata).

    pos_deletes: list of (data_file_path, position); eq_deletes:
    (equality_ids, parquet_path_of_values). Returns the new snapshot id.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    with open(meta_path) as fh:
        md = json.load(fh)
    location = md["location"]
    meta_dir = os.path.join(location, "metadata")
    cur = next(
        s for s in md["snapshots"]
        if int(s["snapshot-id"]) == int(md["current-snapshot-id"])
    )
    old_seq = int(cur.get("sequence-number", 1))
    new_seq = old_seq + 1
    snap_id = 777000111

    entries = []
    if pos_deletes:
        os.makedirs(os.path.join(location, "data"), exist_ok=True)
        pd_path = os.path.join(location, "data", "pos-deletes-0.parquet")
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array(
                        [p for p, _ in pos_deletes], pa.string()
                    ),
                    "pos": pa.array([i for _, i in pos_deletes], pa.int64()),
                }
            ),
            pd_path,
        )
        entries.append(
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": new_seq,
                "data_file": {
                    "content": 1,
                    "file_path": pd_path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": len(pos_deletes),
                    "file_size_in_bytes": os.path.getsize(pd_path),
                },
            }
        )
    if eq_deletes:
        eq_ids, eq_path = eq_deletes
        entries.append(
            {
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": new_seq,
                "data_file": {
                    "content": 2,
                    "file_path": eq_path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(eq_path),
                    "equality_ids": eq_ids,
                },
            }
        )

    dm_path = os.path.join(meta_dir, "delete-m0.avro")
    avro_io.write_container(dm_path, manifest_entry_schema([]), entries)

    old_mlist = cur["manifest-list"]
    _, _, old_manifests = avro_io.read_container(old_mlist)
    new_mlist = os.path.join(meta_dir, f"snap-{snap_id}.avro")
    dm_record = {
        "manifest_path": dm_path,
        "manifest_length": os.path.getsize(dm_path),
        "partition_spec_id": 0,
        "content": 1,
        "sequence_number": new_seq,
        "min_sequence_number": new_seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"] for e in entries),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    avro_io.write_container(
        new_mlist, manifest_list_schema(), list(old_manifests) + [dm_record]
    )

    md["snapshots"].append(
        {
            "snapshot-id": snap_id,
            "sequence-number": new_seq,
            "timestamp-ms": 1700000000000,
            "manifest-list": new_mlist,
            "summary": {"operation": "delete"},
        }
    )
    md["current-snapshot-id"] = snap_id
    md["last-sequence-number"] = new_seq
    new_meta = os.path.join(meta_dir, "v99.metadata.json")
    with open(new_meta, "w") as fh:
        json.dump(md, fh)
    hint = os.path.join(meta_dir, "version-hint.text")
    with open(hint, "w") as fh:
        fh.write("99")
    return snap_id


def _export_small_table(spark, tmp_path, rows=10):
    catalog = Catalog(spark, str(tmp_path / "wh-mor"))
    st = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("cat", T.StringType(), True),
        ]
    )
    t = catalog.create_table("nyc", "mor_src", st)
    t = t.refresh()
    t.append_dataframe(
        spark.sql(
            f"SELECT id, IF(id % 3 = 0, 'b', 'a') AS cat FROM RANGE({rows})"
        ).repartition(2)
    )
    dest = str(tmp_path / "ice-mor")
    meta_path = export_iceberg_table(t.refresh(), dest)
    return meta_path


def test_read_surfaces_delete_files(spark, tmp_path):
    meta_path = _export_small_table(spark, tmp_path)
    info0 = read_iceberg_table(os.path.dirname(os.path.dirname(meta_path)))
    assert info0.delete_files == []
    victim = info0.files[0].path
    _append_mor_delete_snapshot(meta_path, pos_deletes=[(victim, 0)])
    info = read_iceberg_table(os.path.dirname(os.path.dirname(meta_path)))
    assert len(info.delete_files) == 1
    d = info.delete_files[0]
    assert d.content == 1 and d.record_count == 1 and d.seq == 2


def test_import_applies_position_deletes(spark, tmp_path):
    meta_path = _export_small_table(spark, tmp_path)
    loc = os.path.dirname(os.path.dirname(meta_path))
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

    t = import_iceberg_table(
        spark, Catalog(spark, str(tmp_path / "wh2")), loc, "nyc", "mor_in"
    )
    got = sorted(r["id"] for r in t.scan().collect())
    assert got == sorted(set(range(10)) - set(victim_ids))


def test_import_applies_equality_deletes_with_sequence(spark, tmp_path):
    """Equality delete (cat='b', field id 2) with seq 2 > data seq —
    removes every 'b' row across all data files; position delete in the
    same snapshot composes with it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta_path = _export_small_table(spark, tmp_path)
    loc = os.path.dirname(os.path.dirname(meta_path))
    info0 = read_iceberg_table(loc)
    victim = sorted(f.path for f in info0.files)[0]
    import duckdb

    first = duckdb.sql(
        f"SELECT id, cat FROM read_parquet('{victim}') LIMIT 1"
    ).fetchall()[0]

    os.makedirs(os.path.join(loc, "data"), exist_ok=True)
    eq_path = os.path.join(loc, "data", "eq-deletes-0.parquet")
    pq.write_table(pa.table({"cat": pa.array(["b"], pa.string())}), eq_path)
    _append_mor_delete_snapshot(
        meta_path, pos_deletes=[(victim, 0)], eq_deletes=([2], eq_path)
    )

    t = import_iceberg_table(
        spark, Catalog(spark, str(tmp_path / "wh3")), loc, "nyc", "mor_eq"
    )
    got = sorted(r["id"] for r in t.scan().collect())
    expect = sorted(
        i for i in range(10) if i % 3 != 0 and i != first[0]
    )
    # if the position-deleted row was a 'b' row it is removed either way
    if first[1] == "b":
        expect = sorted(i for i in range(10) if i % 3 != 0)
    assert got == expect


def test_expire_metadata_versions(spark, tmp_path):
    """expire_iceberg_metadata keeps the newest N versions and their
    reachable files; dropped versions' manifest lists/manifests go,
    EXTERNAL data files are never touched, the current read (pyice +
    importer) is unaffected, and time travel to an expired version is
    impossible because its metadata is gone."""
    import glob as _glob

    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        expire_iceberg_metadata,
        export_iceberg_table,
        read_iceberg_table,
    )

    catalog = Catalog(spark, str(tmp_path / "wh-exp"))
    st = T.StructType([T.StructField("id", T.LongType(), False)])
    t = catalog.create_table("nyc", "expire_src", st).refresh()
    t.append_dataframe(spark.range(10).selectExpr("id"))
    t = t.refresh()
    dest = str(tmp_path / "ice-exp")
    export_iceberg_table(t, dest)  # v1
    for k in (100, 200):  # v2, v3
        t.append_dataframe(spark.createDataFrame([(k,)], st))
        t = t.refresh()
        export_iceberg_table(t, dest)
    meta_dir = os.path.join(dest, "metadata")
    assert len(_glob.glob(os.path.join(meta_dir, "v*.metadata.json"))) == 3
    n_avro_before = len(_glob.glob(os.path.join(meta_dir, "*.avro")))

    preview = expire_iceberg_metadata(dest, keep_last=1, dry_run=True)
    assert os.path.join(meta_dir, "v1.metadata.json") in preview
    assert all(os.path.exists(p) for p in preview)  # dry run deletes nothing

    victims = expire_iceberg_metadata(dest, keep_last=1)
    assert sorted(victims) == sorted(preview)
    assert len(_glob.glob(os.path.join(meta_dir, "v*.metadata.json"))) == 1
    # r9 semantics: v2/v3 were INCREMENTAL commits, so v3's metadata
    # carries the full snapshot HISTORY — every older manifest list is
    # still reachable (time travel within one metadata file) and must
    # survive the expire
    n_avro_after = len(_glob.glob(os.path.join(meta_dir, "*.avro")))
    assert n_avro_after == n_avro_before == 6
    # external (fixture/warehouse) data files untouched, current read fine
    info = read_iceberg_table(dest)
    assert all(os.path.exists(f.path) for f in info.files)
    assert sum(f.record_count for f in info.files) == 12
    # idempotent
    assert expire_iceberg_metadata(dest, keep_last=1) == []
    with pytest.raises(ValueError, match="keep_last"):
        expire_iceberg_metadata(dest, keep_last=0)
    # r12: a COW delete (removed+added files, no row-level deletes) now
    # exports as an O(churn) REPLACE-DIFF that RETAINS snapshot history
    # — older manifest lists stay reachable and survive the expire
    t.delete_where("id >= 200")
    export_iceberg_table(t.refresh(), dest)
    expire_iceberg_metadata(dest, keep_last=1)
    info_rd = read_iceberg_table(dest)
    assert sum(f.record_count for f in info_rd.files) == 11  # 200 gone
    # a SCHEMA change still takes the full-rewrite path: its metadata
    # holds ONE fresh snapshot, so after the next expire the older
    # manifest lists finally become unreachable and are reclaimed
    t.refresh().add_column("extra", "bigint")
    export_iceberg_table(t.refresh(), dest)
    expire_iceberg_metadata(dest, keep_last=1)
    assert len(_glob.glob(os.path.join(meta_dir, "*.avro"))) == 2
    info = read_iceberg_table(dest)
    assert sum(f.record_count for f in info.files) == 11


def test_incremental_export_appends_only_new_manifest(spark, tmp_path):
    """Round 9: re-exporting after a pure APPEND commits O(churn) — one
    new manifest holding only the new files, prior manifests
    re-referenced — while renames/deletes/property-removals fall back
    to the full rewrite."""
    from iceberg_metadata_pipeline_spark.catalog import avro_io
    from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
        export_iceberg_table,
        read_iceberg_table,
    )
    from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh"))
    st = T.StructType([T.StructField("id", T.LongType(), False)])
    t = catalog.create_table("nyc", "inc", st).refresh()
    t.append_dataframe(spark.range(5).coalesce(1))
    dest = str(tmp_path / "ice-inc")
    export_iceberg_table(t.refresh(), dest)
    info1 = read_iceberg_table(dest)
    n1 = len(info1.files)

    # pure append → incremental: manifest list grows by ONE entry and
    # the new manifest holds ONLY the new files
    t = t.refresh()
    t.append_dataframe(spark.range(5, 8).coalesce(1))
    export_iceberg_table(t.refresh(), dest)
    info2 = read_iceberg_table(dest)
    snap = next(
        s for s in info2.metadata["snapshots"]
        if int(s["snapshot-id"]) == info2.snapshot_id
    )
    _, _, manifests = avro_io.read_container(snap["manifest-list"])
    assert len(manifests) == 2  # new + carried, not a rewritten single
    new_mf = max(manifests, key=lambda m: int(m["sequence_number"]))
    assert int(new_mf["added_files_count"]) == len(info2.files) - n1
    assert sum(f.record_count for f in info2.files) == 8

    # idempotent: nothing moved → same metadata path, no new version
    p_again = export_iceberg_table(t.refresh(), dest)
    assert p_again == info2.metadata_path

    # a DELETE (non-append) falls back to the full rewrite and rows stay
    # correct
    t = t.refresh()
    t.delete_where("id >= 6")
    export_iceberg_table(t.refresh(), dest)
    info3 = read_iceberg_table(dest)
    assert sum(f.record_count for f in info3.files) == 6


def test_incremental_export_occ_retry(spark, tmp_path, monkeypatch):
    """r11 ADVICE (low): _mirror_commit claims EXACTLY
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


@pytest.mark.parametrize("writer", ["full_export", "add_column_with_default"])
def test_writer_claims_version_atomically(spark, tmp_path, monkeypatch, writer):
    """A concurrent writer claims base+1 first: the full export (a
    predicate delete turns the incremental path off) and the add-column
    commit must land above it instead of overwriting it, log it as their
    base, and serve the right rows."""
    from iceberg_metadata_pipeline_spark.catalog import iceberg_format as IF
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import register

    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(20).selectExpr("id", "id % 3 AS k")
    t = catalog.create_table("nyc", "race", df.schema)
    t.append_dataframe(df.coalesce(1))
    dest = str(tmp_path / "ice")
    if writer == "full_export":
        IF.export_iceberg_table(t.refresh(), dest)
        t.delete_where_mor("k = 1")
        expect = [(i, i % 3) for i in range(20) if i % 3 != 1]

        def run():
            return IF.export_iceberg_table(t.refresh(), dest)
    else:
        IF.export_iceberg_table(t.refresh(), dest, format_version=3)
        expect = [(i, i % 3, "x") for i in range(20)]

        def run():
            return IF.add_column_with_default(dest, "tag", "string", "x")

    base = IF.list_metadata_versions(dest)[-1]
    real_claim = IF._claim_metadata_version
    raced = []

    def racing_claim(location, metadata, version):
        if not raced and location == dest:
            raced.append(version)
            # a concurrent writer lands first at the same version
            with open(IF._latest_metadata_path(dest)) as fh:
                md = json.load(fh)
            md["last-updated-ms"] = md.get("last-updated-ms", 0) + 1
            assert real_claim(dest, md, version) is not None
        return real_claim(location, metadata, version)

    monkeypatch.setattr(IF, "_claim_metadata_version", racing_claim)
    out = run()
    monkeypatch.undo()

    assert raced == [base + 1]
    assert out == os.path.join(dest, "metadata", f"v{base + 2}.metadata.json")
    assert IF.list_metadata_versions(dest) == list(range(1, base + 3))
    with open(out) as fh:
        logged = json.load(fh)["metadata-log"][-1]["metadata-file"]
    assert logged == os.path.join(dest, "metadata", f"v{base + 1}.metadata.json")
    register(spark)
    got = sorted(tuple(r) for r in spark.read.format("pyice").load(dest).collect())
    assert got == expect


def test_export_over_torn_latest_version(spark, tmp_path):
    """A torn latest vN (a crash mid-write) does not wedge the mirror:
    the next export is a full one that claims the version above it and
    serves the right rows, while a direct append, which would build on
    the torn content, refuses."""
    from iceberg_metadata_pipeline_spark.catalog import iceberg_format as IF
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import register

    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(10).selectExpr("id")
    t = catalog.create_table("nyc", "torn", df.schema)
    t.append_dataframe(df.coalesce(1))
    dest = str(tmp_path / "ice")
    IF.export_iceberg_table(t.refresh(), dest)
    t.append_dataframe(spark.range(10, 15).selectExpr("id").coalesce(1))
    torn = IF.export_iceberg_table(t.refresh(), dest)
    with open(torn, "r+") as fh:
        fh.truncate(40)

    with pytest.raises(ValueError, match="unreadable"):
        IF.commit_iceberg_append(dest, [])
    out = IF.export_iceberg_table(t.refresh(), dest)
    assert IF._version_of(out) == IF._version_of(torn) + 1
    with open(out) as fh:
        logged = [e["metadata-file"] for e in json.load(fh)["metadata-log"]]
    assert os.path.abspath(torn) not in logged
    register(spark)
    got = sorted(r.id for r in spark.read.format("pyice").load(dest).collect())
    assert got == list(range(15))
