"""Versioned table schema + additive evolution (Iceberg-style).

Reference analog: the ``SchemaEvolution`` helper that tolerates
added/missing fields between silver-model versions
(``libs/hoopstat-data/hoopstat_data/silver_models.py:353-417``). The
engine makes it a first-class table property:

    _schema/schema-v<K>.json      immutable schema records, each created
                                  exclusively (``snapshots.write_atomic``)
    snapshot.summary.schema_version   version live at commit time

Rules (deliberately additive-only, like the reference):

- ``add column`` with a declared type and optional default is the ONLY
  evolution; renames/drops would invalidate manifest stats and break
  pinned readers.
- Old data files simply lack new columns. Scans pass the full expected
  schema to the parquet reader (absent columns read as NULL) and then
  apply the declared default — Iceberg-v3 default-value semantics.
- Snapshot-pinned scans resolve the schema version stamped on that
  snapshot, so a reader pinned before an evolution never sees the new
  column (schema isolation mirrors data isolation).

No table version existed before schema records were introduced → the
implicit version 1 is the base token-table schema from the north rule's
input hint: (doc_id string, tokens array<int>, n_tok int, source string).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoopstat_haus_spark.lakehouse import snapshots

BASE_FIELDS: list[dict] = [
    {"name": "doc_id", "type": "string", "default": None},
    {"name": "tokens", "type": "array<int>", "default": None},
    {"name": "n_tok", "type": "int", "default": None},
    {"name": "source", "type": "string", "default": None},
]

KEY_FIELDS = ("doc_id", "source")


@dataclass
class TableSchema:
    version: int
    fields: list[dict]

    def names(self) -> list[str]:
        return [f["name"] for f in self.fields]

    def field(self, name: str) -> dict:
        for f in self.fields:
            if f["name"] == name:
                return f
        raise KeyError(name)

    def ddl(self, extra: tuple[tuple[str, str], ...] = ()) -> str:
        parts = [f"{f['name']} {f['type']}" for f in self.fields]
        parts += [f"{n} {t}" for n, t in extra]
        return ", ".join(parts)

    def apply_defaults(self, df: DataFrame) -> DataFrame:
        """Fill NULLs in evolved columns with their declared default."""
        for f in self.fields:
            if f.get("default") is not None and f["name"] in df.columns:
                df = df.withColumn(
                    f["name"],
                    F.coalesce(F.col(f["name"]), F.lit(f["default"]).cast(f["type"])),
                )
        return df

    def conform(self, df: DataFrame) -> DataFrame:
        """Project ``df`` onto this schema: missing non-key columns are
        filled with their default (NULL if none), present columns are
        cast to the declared type. Extra columns are dropped."""
        cols = []
        for f in self.fields:
            if f["name"] in df.columns:
                cols.append(F.col(f["name"]).cast(f["type"]).alias(f["name"]))
            elif f["name"] in KEY_FIELDS:
                raise ValueError(f"missing key column {f['name']!r}")
            else:
                cols.append(F.lit(f.get("default")).cast(f["type"]).alias(f["name"]))
        return df.select(*cols)


def _schema_dir(table_path: str) -> str:
    return os.path.join(table_path, "_schema")


def read_schema(table_path: str, version: int | None = None) -> TableSchema:
    """Load schema ``version`` (or the highest); implicit v1 = BASE_FIELDS
    for tables that predate schema records."""
    d = _schema_dir(table_path)
    versions: list[int] = []
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith("schema-v") and name.endswith(".json"):
                versions.append(int(name[len("schema-v"):-5]))
    if version is None:
        version = max(versions) if versions else 1
    if version == 1 and version not in versions:
        return TableSchema(version=1, fields=list(BASE_FIELDS))
    with open(os.path.join(d, f"schema-v{version}.json")) as f:
        return TableSchema(version=version, fields=json.load(f)["fields"])


def write_schema(table_path: str, schema: TableSchema) -> str:
    """Exclusively create the schema record (``snapshots.write_atomic``,
    the same create-if-absent mutex as snapshot commits — two concurrent
    evolutions cannot both win). Returns the created path so a failed
    commit can roll it back."""
    d = _schema_dir(table_path)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"schema-v{schema.version}.json")
    body = json.dumps({"version": schema.version, "fields": schema.fields}, indent=1)
    try:
        snapshots.write_atomic(path, body, exclusive=True)
    except FileExistsError:
        raise ValueError(f"schema v{schema.version} already exists") from None
    return path


def evolved(base: TableSchema, add_fields: list[dict]) -> TableSchema:
    """Validate and build the next schema version (add-only)."""
    existing = set(base.names())
    fields = list(base.fields)
    for f in add_fields:
        name, typ = f["name"], f["type"]
        if name in existing:
            raise ValueError(f"column {name!r} already exists")
        if not name.isidentifier():
            raise ValueError(f"invalid column name {name!r}")
        fields.append({"name": name, "type": typ, "default": f.get("default")})
        existing.add(name)
    return TableSchema(version=base.version + 1, fields=fields)
