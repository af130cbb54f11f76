"""A/B probe for the round-12 Arrow-native DataSource WRITE path
(tools/probe_scan_vectorized.py's write symmetry).

BEFORE is reproduced faithfully in-process: a one-off ``pyice_row``
DataSource whose writer subclasses the live PyIceBatchWriter but
derives from row-based ``DataSourceWriter`` and reinstates the r11
per-row loop (iterate Spark Rows → python column lists → pa.table).
AFTER is the live ``pyice`` writer (DataSourceArrowWriter: RecordBatch
in, columnar split, parquet out). Same commit path both sides, so the
delta is exactly the task-side row/columnar boundary.

Run: python tools/probe_write_vectorized.py [n_rows]
Prints one JSON line; record the table in SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000

    from pyspark.sql.datasource import DataSource, DataSourceWriter

    from iceberg_metadata_pipeline_spark.ingest.datasource_base import (
        StagedFiles,
    )
    from iceberg_metadata_pipeline_spark.ingest.pyice_source import (
        PyIceBatchWriter,
        PyIceDataSource,
    )
    from iceberg_metadata_pipeline_spark.session import get_spark

    class RowWriter(DataSourceWriter):
        """The r11 row path, byte-for-byte semantics. Delegation, not
        inheritance: subclassing the live writer would make this an
        instance of DataSourceArrowWriter and Spark would feed it
        RecordBatches instead of Rows."""

        def __init__(self, schema, options, overwrite):
            self.inner = PyIceBatchWriter(schema, options, overwrite)
            self.schema = schema
            self.part_cols = self.inner.part_cols
            self.part_names = self.inner.part_names
            self.data_dir = self.inner.stage_dir

        def commit(self, messages):
            return self.inner.commit(messages)

        def abort(self, messages):
            return self.inner.abort(messages)

        def write(self, iterator):  # noqa: D102 — probe replica
            import json as _json
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            from iceberg_metadata_pipeline_spark.ingest.arrow_types import (
                arrow_fields,
            )

            fields = arrow_fields(self.schema, writer="pyice writer")
            names = [f.name for f in self.schema.fields]
            part_idx = [names.index(c) for c in self.part_cols]
            groups: dict[tuple, list[tuple]] = {}
            for r in iterator:
                row = tuple(r)
                groups.setdefault(
                    tuple(row[i] for i in part_idx), []
                ).append(row)
            os.makedirs(self.data_dir, exist_ok=True)
            out = []
            for pv, rows in groups.items():
                cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
                tmp = os.path.join(
                    self.data_dir, f"_tmp-{_uuid.uuid4().hex}.parquet"
                )
                pq.write_table(pa.table(cols, schema=pa.schema(fields)), tmp)
                part = {
                    pn: (None if v is None else str(v))
                    for pn, v in zip(self.part_names, pv)
                }
                out.append(
                    (tmp, len(rows), os.path.getsize(tmp), _json.dumps(part))
                )
            return StagedFiles(files=tuple(out))

    class PyIceRowDataSource(PyIceDataSource):
        @classmethod
        def name(cls) -> str:
            return "pyice_row"

        def writer(self, schema, overwrite):
            return RowWriter(schema, dict(self.options), overwrite)

    spark = get_spark("probe-write-vectorized")
    spark.dataSource.register(PyIceRowDataSource)
    spark.dataSource.register(
        __import__(
            "iceberg_metadata_pipeline_spark.ingest.pyice_source",
            fromlist=["PyIceDataSource"],
        ).PyIceDataSource
    )
    df = spark.range(n).selectExpr(
        "id",
        "CAST(id % 7 AS DOUBLE) * 1.5 AS v",
        "CAST(id % 97 AS STRING) AS s",
        "CAST(id % 3 AS BIGINT) AS g",
    )
    df.count()  # materialize plan, warm workers

    results = {}
    for fmt in ("pyice_row", "pyice"):
        dest = tempfile.mkdtemp(prefix=f"probe-{fmt}-")
        shutil.rmtree(dest)
        t0 = time.perf_counter()
        df.coalesce(8).write.format(fmt).mode("append").save(dest)
        dt = time.perf_counter() - t0
        results[fmt] = {
            "sec": round(dt, 2),
            "rows_per_sec": int(n / dt),
        }
        shutil.rmtree(dest, ignore_errors=True)
    results["speedup"] = round(
        results["pyice_row"]["sec"] / results["pyice"]["sec"], 2
    )
    results["n_rows"] = n
    print(json.dumps(results))


if __name__ == "__main__":
    main()
