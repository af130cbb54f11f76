"""`pyrest` — Spark 4 Python DataSource that reads an Iceberg table
THROUGH the REST catalog's server-side scan planning verb
(serving/rest_catalog.py's ``POST .../tables/{t}/plan``, round 11).

``spark.read.format("pyrest").option("url", base).load("ns.table")``
never touches a metadata JSON, manifest list, or manifest: the driver
asks the catalog to PLAN (loadTable only for the schema), gets back
completed file-scan-tasks with per-task delete-file references, and
ships one ScanTask per task. Tasks read their data file and apply the
referenced position/equality delete files with the spec's semantics
through the shared scan core (``datasource_base.FileScanReader``) — the thin-engine proof that the plan verb carries
everything a reader needs.

Contrast with ``pyice`` (reads the table DIRECTORY: metadata → avro
manifests, full MOR surface incl. puffin DVs): pyrest exercises the
CATALOG's planning path instead — pruning, sequence gating, and
delete-file resolution all happen server-side, which is exactly the
division of labor the REST spec prescribes for hundreds of thin
engines sharing one catalog at 100 TB (clients get file paths, storage
serves bytes, the catalog serves only metadata).

Options:
- ``url``    (required) catalog base, e.g. ``http://127.0.0.1:8181``
- path / ``table``: ``namespace.table``
- ``snapshotId`` (optional): plan an older snapshot (time travel)
- ``filter`` (optional): an Iceberg REST expression as a JSON string,
  forwarded verbatim — the server stats-prunes files (pure I/O win)
  AND echoes the expression back as each task's ``residual-filter``,
  which this reader RE-APPLIES row-level inside the task (vectorized
  arrow-compute mask, SQL three-valued semantics). So
  ``option('filter', ...)`` alone already returns exactly the
  filtered rows — no duplicate ``.filter()`` needed (round 12; the
  r11 doc claimed Spark would re-filter, which only held when the
  caller repeated the predicate in the query).

Scope bound (loud in docs, conservative in behavior): files written
BEFORE a column rename read that column as NULL here — the plan
response carries no per-file name mapping and these parquet files
carry no field ids, so the thin client cannot resolve old names.
Read evolution-heavy tables through ``pyice`` (which consults the
table's own metadata) or the warehouse scan; pyrest targets the
plan-verb interop path.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceReader

from iceberg_metadata_pipeline_spark.catalog.metacat import DataFileEntry, plain_path
from iceberg_metadata_pipeline_spark.ingest.datasource_base import (
    FileScanReader,
    FormatDataSource,
    ScanTask,
    StagedArrowWriter,
    TailingStreamReader,
)


def _req(url: str, method: str = "GET", body: dict | None = None) -> dict:
    import urllib.request

    data = None if body is None else json.dumps(body).encode()
    r = urllib.request.Request(url, data=data, method=method)
    if data:
        r.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(r) as resp:
        raw = resp.read()
        return json.loads(raw) if raw else {}


def _plan_req(url: str, ns: str, table: str, body: dict) -> dict:
    """POST planTableScan and transparently complete the spec's
    ASYNCHRONOUS handshake: a server configured for async planning
    answers ``submitted`` + a plan-id, and the client fetches the
    completed plan via GET .../plan/{plan-id} (the id pins the snapshot
    at submit time, so the fetched plan ignores concurrent commits).
    Synchronous servers answer ``completed`` directly and skip the loop."""
    plan = _req(f"{url}/v1/namespaces/{ns}/tables/{table}/plan", "POST", body)
    tries = 0
    while plan.get("plan-status") == "submitted":
        pid = plan.get("plan-id")
        if not pid or tries >= 10:
            raise ValueError(f"plan did not complete: {plan}")
        tries += 1
        plan = _req(f"{url}/v1/namespaces/{ns}/tables/{table}/plan/{pid}")
    return plan


def _table_ref(options) -> tuple[str, str, str]:
    """(catalog url, namespace, table) from ``url`` and ``load``/``save``
    ("namespace.table") or ``option("table")``."""
    ident = options.get("table") or options.get("path")
    if not ident or "." not in ident:
        raise ValueError(
            "pyrest needs load('namespace.table') / save('namespace.table') "
            "or option('table')"
        )
    ns, table = ident.split(".", 1)
    return options["url"].rstrip("/"), ns, table


def _load_table(url: str, ns: str, table: str) -> dict:
    """loadTable → the served table metadata."""
    return _req(f"{url}/v1/namespaces/{ns}/tables/{table}")["metadata"]


def _current_schema(md: dict) -> dict:
    return next(
        s
        for s in md["schemas"]
        if s.get("schema-id", 0) == md.get("current-schema-id", 0)
    )


def _residual_mask(expr: dict, batch, name_idx: dict):
    """Evaluate an Iceberg REST expression over an arrow RecordBatch →
    boolean keep array (SQL three-valued logic: null comparisons drop
    the row at the top level, exactly like a SQL WHERE). Mirrors the
    grammar the server's ``_expr_to_sql`` accepts — eq/not-eq/lt/lt-eq/
    gt/gt-eq/is-null/not-null/in, and/or/not — anything else raises
    (the server would have 400'd the plan first)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def col(t):
        if isinstance(t, dict):
            t = t.get("term")
        if t not in name_idx:
            raise ValueError(f"residual references unknown column {t!r}")
        return batch.column(name_idx[t])

    typ = str(expr.get("type", "")).lower()
    ops = {
        "eq": pc.equal, "not-eq": pc.not_equal, "lt": pc.less,
        "lt-eq": pc.less_equal, "gt": pc.greater, "gt-eq": pc.greater_equal,
    }
    if typ in ops:
        c = col(expr.get("term"))
        return ops[typ](c, pa.scalar(expr.get("value")).cast(c.type))
    if typ == "is-null":
        return pc.is_null(col(expr.get("term")))
    if typ == "not-null":
        return pc.is_valid(col(expr.get("term")))
    if typ == "in":
        c = col(expr.get("term"))
        vals = expr.get("values") or []
        hit = pc.is_in(c, value_set=pa.array(vals).cast(c.type))
        # SQL semantics: NULL IN (...) is NULL, not false (matters
        # under NOT); arrow's is_in returns false for null inputs
        return pc.if_else(pc.is_valid(c), hit, pa.scalar(None, pa.bool_()))
    if typ == "and":
        return pc.and_kleene(
            _residual_mask(expr["left"], batch, name_idx),
            _residual_mask(expr["right"], batch, name_idx),
        )
    if typ == "or":
        return pc.or_kleene(
            _residual_mask(expr["left"], batch, name_idx),
            _residual_mask(expr["right"], batch, name_idx),
        )
    if typ == "not":
        return pc.invert(_residual_mask(expr["child"], batch, name_idx))
    raise ValueError(f"unsupported residual expression type {typ!r}")


class _RestScanReader(FileScanReader):
    """The shared scan core plus the task's residual filter."""

    def _row_filter(self, task: ScanTask, batch):
        """Row-level residual: the server's file-level pruning is
        conservative (false keeps only); exact semantics land here,
        vectorized (nulls drop, SQL WHERE behavior)."""
        if not task.residual:
            return None
        import pyarrow.compute as pc

        name_idx = {f.name: i for i, f in enumerate(batch.schema)}
        keep = _residual_mask(json.loads(task.residual), batch, name_idx)
        return pc.fill_null(keep, False).to_numpy(zero_copy_only=False)


class PyRestReader(_RestScanReader, DataSourceReader):
    def __init__(self, options, schema: T.StructType):
        self.url, self.ns, self.table = _table_ref(options)
        self.snapshot_id = options.get("snapshotId")
        self.filter_json = options.get("filter")
        # pageSize: ask the server for a PAGED plan (plan-tasks tokens
        # walked transparently below) — bounds every response to a page
        self.page_size = int(options.get("pageSize", 0) or 0)
        self.schema = schema

    def partitions(self):
        body: dict = {}
        if self.snapshot_id is not None:
            body["snapshot-id"] = int(self.snapshot_id)
        if self.filter_json:
            body["filter"] = json.loads(self.filter_json)
        if self.page_size:
            body["page-size"] = int(self.page_size)
        plan = _plan_req(self.url, self.ns, self.table, body)
        if plan.get("plan-status") != "completed":
            raise ValueError(f"plan not completed: {plan}")
        # paged plans (round 12): the first page rides the plan response;
        # each plan-task token fetches one more page through the spec's
        # fetchScanTasks verb — client memory grows by the TASK LIST
        # (O(#files), what any planner holds), but no single response is
        # bigger than a page
        parts = self._page_to_parts(plan)
        pending = list(plan.get("plan-tasks") or [])
        while pending:
            token = pending.pop(0)
            page = _req(
                f"{self.url}/v1/namespaces/{self.ns}/tables/{self.table}/tasks",
                "POST",
                {"plan-task": token},
            )
            parts.extend(self._page_to_parts(page))
            pending.extend(page.get("plan-tasks") or [])
        return parts

    def _page_to_parts(self, page: dict) -> list:
        """One plan/fetchScanTasks response page → ScanTask list
        (delete-file indices are PAGE-LOCAL per the spec)."""
        dels = page.get("delete-files") or []
        parts = []
        for task in page.get("file-scan-tasks") or []:
            pos, eq = [], []
            for i in task.get("delete-file-references") or []:
                d = dels[i]
                if d["content"] == "position-deletes":
                    pos.append(("parquet", d["file-path"], None, None))
                else:
                    eq.append((tuple(self._eq_cols(d)), d["file-path"]))
            parts.append(
                ScanTask(
                    task["data-file"]["file-path"],
                    pos_files=tuple(pos),
                    eq_files=tuple(eq),
                    residual=(
                        json.dumps(task["residual-filter"])
                        if task.get("residual-filter") is not None
                        else ""
                    ),
                )
            )
        return parts

    def _eq_cols(self, d: dict) -> list[str]:
        ids = d.get("equality-ids") or []
        if not ids:
            raise ValueError(
                f"equality-delete file {d.get('file-path')} without ids"
            )
        if not hasattr(self, "_id_to_name"):
            schema = _current_schema(_load_table(self.url, self.ns, self.table))
            self._id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
        return [self._id_to_name[i] for i in ids]



class PyRestStreamReader(_RestScanReader, TailingStreamReader):
    """Tail APPENDS through the REST catalog (round 12 — the thin
    engine's streaming leg): the OFFSET is the served current snapshot
    id from loadTable (monotone along the mirror's snapshot-log; the
    server resolves served ids to table states via the
    metacat-snapshot-id summary mapping), and each micro-batch plans
    BOTH offsets server-side and emits the data files the range ADDED.
    A range that REMOVES files (overwrite/compaction) or whose new
    tasks reference delete files refuses unless ``ignoreDeletes`` (the
    :class:`TailingStreamReader` append-only contract). No metadata
    JSON, no manifests client-side; planning stays on the catalog."""

    OFFSET = "sid"

    def __init__(self, schema: T.StructType, options):
        super().__init__(options)
        self.url, self.ns, self.table = _table_ref(options)
        self.schema = schema

    def _backlog(self, pos) -> list:
        sid = _load_table(self.url, self.ns, self.table).get("current-snapshot-id")
        return [] if sid in (None, -1, pos) else [int(sid)]

    def _plan_paths(self, sid: int) -> dict:
        plan = _plan_req(
            self.url, self.ns, self.table, {"snapshot-id": int(sid)}
        )
        out = {}
        for task in plan.get("file-scan-tasks") or []:
            out[plain_path(task["data-file"]["file-path"])] = task
        return out

    def _added(self, s_sid, e_sid) -> list:
        if e_sid is None or s_sid == e_sid:
            return []
        after = self._plan_paths(e_sid)
        before = self._plan_paths(s_sid) if s_sid is not None else {}
        vanished = sorted(set(before) - set(after))
        if vanished:
            self._refuse_deletes(
                f"pyrest stream: snapshot range removes {len(vanished)} "
                "file(s) (overwrite/compaction)"
            )
        parts = []
        for p in sorted(set(after) - set(before)):
            task = after[p]
            if task.get("delete-file-references"):
                self._refuse_deletes(
                    f"pyrest stream: newly added file {p} carries "
                    "merge-on-read delete references"
                )
            parts.append(ScanTask(task["data-file"]["file-path"]))
        return parts


class PyRestBatchWriter(StagedArrowWriter):
    """``df.write.format("pyrest").option("url", base).mode("append")
    .save("ns.table")`` — the WRITE symmetry of the thin-engine story
    (round 12; r11 left pyrest read-only): tasks stage invisible
    ``data/_tmp-*.parquet`` files under the table's served location;
    the driver renames them into place, writes ONE avro manifest + a
    one-row manifest list (iceberg_format's own writers), and posts an
    APPEND snapshot through REST commitTable (add-snapshot +
    set-snapshot-ref main) guarded by ``assert-ref-snapshot-id``. A 409
    reply (a concurrent commit moved main between loadTable and the
    post) RETRIES with the freshly loaded ref — appends are
    parent-agnostic, so the staged manifest re-posts unchanged and
    appends from any mix of writers STACK instead of superseding each
    other (real Iceberg's blind-append retry).

    Scope bounds (loud refusals, not silent corruption): append mode
    only (overwrite/replace go through the warehouse's own commit
    path); partitioned tables write when every spec field is an
    IDENTITY transform (tasks split rows by the source columns and
    manifests carry spec-typed r102 tuples, so the server's scan
    planning prunes these appends); bucket/truncate/days transforms
    refuse — they need writer-side transform evaluation.

    Reference parity: the commit protocol the reference delegates to
    iceberg-spark-runtime's REST catalog integration, jar-free."""

    WRITER = "pyrest writer"
    MAX_RETRIES = 5

    def __init__(self, schema: T.StructType, options, overwrite: bool):
        if overwrite:
            raise NotImplementedError(
                "pyrest writer: append only — overwrite/replace commits "
                "go through the warehouse's own commit path"
            )
        super().__init__(schema, overwrite)
        self.url, self.ns, self.table = _table_ref(options)
        md = _load_table(self.url, self.ns, self.table)
        self.location = plain_path(md["location"])
        self.stage_dir = os.path.join(self.location, "data")
        served = _current_schema(md)
        from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
            _shape,
            iceberg_schema_to_spark,
        )

        self._check_schema(iceberg_schema_to_spark(served))
        spec = next(
            (
                s
                for s in md.get("partition-specs") or []
                if s.get("spec-id", 0) == md.get("default-spec-id", 0)
            ),
            {"fields": []},
        )
        # identity-partitioned tables write partitioned (round 12
        # continuation): each task splits its rows by the identity
        # source columns and the manifest entries carry spec-typed
        # partition tuples (r102), so the server's scan planning prunes
        # these appends exactly like warehouse-written files. Any
        # non-identity transform still refuses loudly — routing a
        # bucket/truncate/days tuple needs the transform evaluated
        # writer-side, which this thin client does not do.
        self.part_fields: list[dict] = []
        _ice2src = {
            "long": "long",
            "int": "int",
            "integer": "int",
            "string": "string",
            "date": "date",
            "double": "double",
            "float": "float",
            "boolean": "boolean",
            "timestamptz": "timestamp",
            "timestamp": "timestamp_ntz",
        }
        for pf in spec.get("fields") or []:
            if pf.get("transform") != "identity":
                raise NotImplementedError(
                    "pyrest writer: only identity partition transforms — "
                    f"{pf.get('transform')!r} needs writer-side transform "
                    "evaluation; write through pyice or the warehouse path"
                )
            src = next(
                (
                    f
                    for f in served.get("fields", [])
                    if f.get("id") == pf.get("source-id")
                ),
                None,
            )
            if src is None or str(src.get("type")) not in _ice2src:
                raise ValueError(
                    "pyrest writer: partition source column unresolvable "
                    f"or untyped for manifests: {pf}"
                )
            self.part_fields.append(
                {
                    "name": pf["name"],
                    "column": src["name"],
                    "source_type": _ice2src[str(src["type"])],
                }
            )
        self.part_cols = [pf["column"] for pf in self.part_fields]
        self.shape = _shape(md, self.part_fields)

    def _file_key(self, values: tuple) -> dict:
        # metacat's partition-string form rides the commit message; the
        # manifest writer types it (timestamps arrive as naive UTC)
        return {
            pf["name"]: None if v is None else str(v)
            for pf, v in zip(self.part_fields, values)
        }

    def _commit(self, staged, epoch) -> None:
        import urllib.error

        from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
            _data_entry,
            _new_ids,
            _write_manifest,
            _write_manifest_list,
        )

        if not staged:
            return
        meta_dir = os.path.join(self.location, "metadata")
        os.makedirs(meta_dir, exist_ok=True)
        files = []
        for tmp, rows, size, part in staged:
            final = os.path.join(self.stage_dir, f"part-{uuid.uuid4().hex}.parquet")
            os.rename(tmp, final)
            files.append(
                DataFileEntry(
                    path=final, record_count=rows, file_size_bytes=size,
                    format="PARQUET", partition=part,
                )
            )
        sid, commit_uuid = _new_ids()
        row = _write_manifest(
            os.path.join(meta_dir, f"{commit_uuid}-m0.avro"),
            self.shape,
            [_data_entry(f, sid, 1, self.part_fields) for f in files],
            sid,
            1,
        )
        mlist = os.path.join(meta_dir, f"snap-{sid}-1-{commit_uuid}.avro")
        _write_manifest_list(mlist, self.shape.fv, [row], sid, None, 1)
        url = f"{self.url}/v1/namespaces/{self.ns}/tables/{self.table}"
        for attempt in range(self.MAX_RETRIES):
            cur = _req(url)["metadata"].get("current-snapshot-id")
            body = {
                "requirements": [
                    {
                        "type": "assert-ref-snapshot-id",
                        "ref": "main",
                        "snapshot-id": None if cur in (None, -1) else cur,
                    }
                ],
                "updates": [
                    {
                        "action": "add-snapshot",
                        "snapshot": {
                            "snapshot-id": sid,
                            "timestamp-ms": 0,
                            "manifest-list": mlist,
                            "summary": {"operation": "append"},
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
                _req(url, "POST", body)
                return
            except urllib.error.HTTPError as e:
                if e.code != 409 or attempt == self.MAX_RETRIES - 1:
                    raise
                # 409: a concurrent commit moved main between loadTable
                # and the post — appends are parent-agnostic, so the
                # staged manifest re-posts against the fresh ref

class PyRestDataSource(FormatDataSource):
    FORMAT = "pyrest"
    WRITER = PyRestBatchWriter
    STREAM_READER = PyRestStreamReader

    def schema(self):
        from iceberg_metadata_pipeline_spark.catalog.iceberg_format import (
            iceberg_schema_to_spark,
        )

        return iceberg_schema_to_spark(
            _current_schema(_load_table(*_table_ref(self.options)))
        )

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return PyRestReader(self.options, schema)


register = PyRestDataSource.register


def _declare_queries() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from iceberg_metadata_pipeline_spark.queries import query
    from iceberg_metadata_pipeline_spark.session import load_tables

    @query(
        "source_pyrest_plan_scan",
        """
SELECT p_brand, COUNT(*) AS n,
  CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size
FROM part
GROUP BY p_brand
ORDER BY p_brand
""",
    )
    def source_pyrest_plan_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Read through the CATALOG's scan-planning verb end-to-end:
        the part fixture registers metadata-only into a metacat
        warehouse, a RestCatalogServer fronts it, and the pyrest
        DataSource plans via POST .../plan (no metadata JSON, no
        manifests client-side) and scans the returned tasks. Matching
        the raw-fixture oracle proves loadTable schema + planTableScan
        tasks + task-side reads carry exactly the table."""
        import os as _os
        import tempfile as _tf

        from iceberg_metadata_pipeline_spark.catalog.metacat import (
            Catalog,
            scan_parquet_footers,
        )
        from iceberg_metadata_pipeline_spark.serving.rest_catalog import (
            RestCatalogServer,
        )

        load_tables(spark, sf_dir)
        register(spark)
        catalog = Catalog(spark, _tf.mkdtemp(prefix="wh-pyrest-"))
        catalog.ensure_namespace("nyc")
        t = catalog.create_table("nyc", "part_rest", spark.table("part").schema)
        t.append_files(
            scan_parquet_footers(_os.path.join(sf_dir, "part.parquet"), spark)
        )
        srv = RestCatalogServer(
            catalog, _tf.mkdtemp(prefix="pyrest-mirror-")
        ).start()
        try:
            back = (
                spark.read.format("pyrest")
                .option("url", f"http://127.0.0.1:{srv.port}")
                # paged plan (r12): the oracle gate now also proves the
                # fetchScanTasks page walk end-to-end
                .option("pageSize", "2")
                .load("nyc.part_rest")
            )
            out = (
                back.groupBy("p_brand")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("p_size").cast("bigint")).alias("total_size"),
                )
                .orderBy("p_brand")
            )
            # materialize before the server stops (the plan happens at
            # DataFrame construction; task reads hit storage directly,
            # but keep the server alive through the action for safety).
            # persist + count barrier, NOT collect+createDataFrame
            # (optimization r12, the r11 review note): the result stays
            # distributed — the driver never holds the rows, so the
            # pattern no longer silently scales with result size.
            # LOCAL-MODE ASSUMPTION (r12 advisor): on a real cluster a
            # cached partition lost after srv.stop() would recompute
            # lineage against the stopped server and fail loudly; a
            # cluster deployment would keep the catalog service running
            # for the query's lifetime (the reference's posture) or
            # checkpoint() to durable storage instead
            out = out.persist()
            out.count()
        finally:
            srv.stop()
        return out

    @query(
        "source_pyrest_writer_roundtrip",
        """
SELECT s_nationkey, COUNT(*) AS n,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
    )
    def source_pyrest_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The pyrest WRITER end-to-end (round 12): supplier splits into
        two halves, each written through plain
        ``df.write.format("pyrest")`` — task files staged under the
        served location, one avro manifest + manifest list, an APPEND
        snapshot posted through REST commitTable with the
        assert-ref-snapshot-id handshake. The two appends STACK (the
        second posts against the ref the first moved), and the read
        back through the plan verb must equal the raw-fixture oracle —
        creating, appending twice, and scanning a catalog table with
        zero jars, zero local metadata, and standard writer syntax."""
        import tempfile as _tf

        from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
        from iceberg_metadata_pipeline_spark.serving.rest_catalog import (
            RestCatalogServer,
        )

        register(spark)
        supplier = load_tables(spark, sf_dir)["supplier"]
        catalog = Catalog(spark, _tf.mkdtemp(prefix="wh-pyrest-w-"))
        catalog.ensure_namespace("nyc")
        catalog.create_table("nyc", "supplier_w", supplier.schema)
        srv = RestCatalogServer(
            catalog, _tf.mkdtemp(prefix="pyrest-w-mirror-")
        ).start()
        try:
            base = f"http://127.0.0.1:{srv.port}"
            supplier.where("s_nationkey < 12").write.format("pyrest").option(
                "url", base
            ).mode("append").save("nyc.supplier_w")
            supplier.where("s_nationkey >= 12").write.format("pyrest").option(
                "url", base
            ).mode("append").save("nyc.supplier_w")
            back = (
                spark.read.format("pyrest")
                .option("url", base)
                .load("nyc.supplier_w")
            )
            out = (
                back.groupBy("s_nationkey")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("s_acctbal").cast("decimal(38,6)"))
                    .cast("double")
                    .alias("total_bal"),
                )
                .orderBy("s_nationkey")
            )
            out = out.persist()  # count barrier; see source_pyrest_plan_scan
            out.count()
        finally:
            srv.stop()
        return out


    @query(
        "source_pyrest_stream_tail",
        """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
FROM events
WHERE event_id % 2 = 0
GROUP BY event_type
ORDER BY event_type
""",
    )
    def source_pyrest_stream_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The pyrest STREAM tailer end-to-end (round 12): the even half
        of events lands in a catalog table across two append commits; a
        ``readStream.format("pyrest")`` drains both via availableNow
        into a parquet sink through the REST catalog only — offsets are
        served snapshot ids, each micro-batch plans both ends
        server-side and reads exactly the files the range added. The
        sink must aggregate identically to the raw fixture (nothing
        lost, nothing duplicated across the commit boundary)."""
        import tempfile as _tf

        from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
        from iceberg_metadata_pipeline_spark.serving.rest_catalog import (
            RestCatalogServer,
        )

        register(spark)
        events = load_tables(spark, sf_dir)["events"].select(
            "event_id", "event_type", "value"
        )
        catalog = Catalog(spark, _tf.mkdtemp(prefix="wh-pyrest-st-"))
        catalog.ensure_namespace("nyc")
        t = catalog.create_table("nyc", "events_rest", events.schema)
        t.append_dataframe(events.filter("event_id % 4 = 0").coalesce(4))
        t.refresh()
        t.append_dataframe(events.filter("event_id % 4 = 2").coalesce(4))
        srv = RestCatalogServer(
            catalog, _tf.mkdtemp(prefix="pyrest-st-mirror-")
        ).start()
        try:
            out = _tf.mkdtemp(prefix="pyrest-st-out-") + "/sink"
            q = (
                spark.readStream.format("pyrest")
                .option("url", f"http://127.0.0.1:{srv.port}")
                .option("table", "nyc.events_rest")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option(
                    "checkpointLocation", _tf.mkdtemp(prefix="pyrest-st-ck-")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            res = (
                spark.read.parquet(out)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(38,6)"))
                    .cast("double")
                    .alias("total_value"),
                )
                .orderBy("event_type")
            )
            res = res.persist()  # count barrier; see source_pyrest_plan_scan
            res.count()
        finally:
            srv.stop()
        return res

_declare_queries()
