"""Catalog introspection (A13-A15 — pyhive_spark_patch.py:8-35).

The reference monkey-patches PyHive so Superset can introspect the Spark
catalog (`SHOW TABLES IN`, `SHOW VIEWS IN`, `SHOW CREATE TABLE` for both
tables and views — Spark has no SHOW CREATE VIEW, which superset_config.py:19-41
rewrites away). Here the same surface is exposed over our warehouse
catalog; the session catalog answers the same statements through
``spark.sql`` directly.
"""

from __future__ import annotations

from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog


def list_tables(catalog: Catalog, namespace: str) -> list[str]:
    """A13: table names in a namespace."""
    return catalog.list_tables(namespace)


def show_create_table(catalog: Catalog, namespace: str, name: str) -> str:
    """A15: DDL reconstruction for a warehouse table. The reference joins the
    multi-row `SHOW CREATE TABLE` result (pyhive_spark_patch.py:21-35); ours
    renders from the stored schema. `SHOW CREATE VIEW` does not exist in
    Spark SQL (superset_config.py:19-41 rewrites it to SHOW CREATE TABLE);
    callers should use this for views too."""
    table = catalog.load_table(namespace, name)
    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString().upper()}{'' if f.nullable else ' NOT NULL'}"
        for f in table.schema.fields
    )
    props = ",\n  ".join(f"'{k}'='{v}'" for k, v in sorted(table.properties.items()))
    ddl = f"CREATE TABLE {namespace}.{name} (\n  {cols}\n)\nUSING parquet"
    if props:
        ddl += f"\nTBLPROPERTIES (\n  {props}\n)"
    return ddl

