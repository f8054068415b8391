"""Catalog sync (D16).

The reference registers every curated table in the Glue catalog via Hudi's
Hive sync (``handler.py:78-80,118,142``; Glue factory
``src/stepfunctions/emr1.json:79-101``) so engines can query by name.

The Spark-native engine keeps a JSON catalog of table -> {path, keys,
partitioning, schema}, the schema taken from the table's latest commit,
and projects each table into Spark's metastore as an external table
(``CREATE TABLE ... USING PARQUET LOCATION ...``, ``sync_metastore``).
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path
from typing import Any

from pyspark.sql import SparkSession

CATALOG_FILE = "_catalog.json"


class Catalog:
    """JSON-file catalog over a curated lake root."""

    def __init__(self, lake_root: str | Path):
        self.lake_root = Path(lake_root)
        self.path = self.lake_root / CATALOG_FILE

    def _load(self) -> dict[str, dict[str, Any]]:
        if self.path.exists():
            return json.loads(self.path.read_text())
        return {}

    def _save(self, entries: dict[str, dict[str, Any]]) -> None:
        self.lake_root.mkdir(parents=True, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.lake_root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, self.path)

    def sync(
        self,
        table_name: str,
        table_path: str | Path,
        record_key: list[str],
        partition_path: str | None,
        schema_json: str,
    ) -> None:
        """Register/refresh one table (idempotent, like Hive sync). An
        unchanged entry writes nothing: replacing an existing file costs
        tens of ms on ext4, paid every sync round for nothing."""
        entries = self._load()
        entry = {
            "path": str(table_path),
            "record_key": list(record_key),
            "partition_path": partition_path,
            "schema": json.loads(schema_json),
        }
        if entries.get(table_name) == entry:
            return
        entries[table_name] = entry
        self._save(entries)

    def tables(self) -> dict[str, dict[str, Any]]:
        return self._load()

    def sync_metastore(
        self,
        spark: SparkSession,
        engine: Any,
        table_name: str,
        database: str = "default",
    ) -> str | None:
        """Register one curated table in Spark's metastore (D16, the
        Glue/Hive-sync analog — ``handler.py:78-80,118``,
        ``emr1.json:79-101``): external table by name, queryable from ANY
        session sharing the warehouse — including external SQL clients —
        unlike temp views.

        Projection semantics = Hudi Hive sync's read-optimized view: the
        table points at the current commit's base snapshot dirs
        (MOR deltas become visible after ``compact()``). Partitioned
        tables get one ``ADD PARTITION ... LOCATION`` per live partition
        dir — the manifest's partition map spans multiple versions (COW
        rewrites only touched partitions), which a single LOCATION cannot
        express. All operations are metadata-only; re-sync after each
        commit is a drop/create of metadata, never of data.

        Persistence across cold restarts requires a Hive-backed catalog
        (``enableHiveSupport()`` / ``spark.sql.catalogImplementation=
        hive`` — Spark's bundled Derby metastore suffices); with the
        in-memory catalog the table is still queryable by name for the
        life of the session.
        """
        table = getattr(engine, "table", None)
        t = table(table_name) if callable(table) else None
        if t is None:
            return None
        commit = t.latest_commit()
        if commit is None:
            return None
        schema = t.table_schema(commit)
        pcol = t.config.partition_path if t.config.is_partitioned else None
        qname = f"{database}.{table_name}"
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
        spark.sql(f"DROP TABLE IF EXISTS {qname}")
        if pcol is None:
            if "" not in commit.data:
                # bucket-index / key-range-group layouts spread state over
                # internal-column dirs possibly spanning versions — no
                # single LOCATION expresses that; cluster() consolidates
                # before a metastore projection is meaningful.
                return None
            loc = (t.root / commit.data[""]).resolve()
            spark.sql(
                f"CREATE TABLE {qname} ({cols}) USING PARQUET "
                f"LOCATION '{loc}'"
            )
        else:
            spark.sql(
                f"CREATE TABLE {qname} ({cols}) USING PARQUET "
                f"PARTITIONED BY (`{pcol}`) LOCATION '{t.root.resolve()}'"
            )
            adds = []
            for pdir, rel in commit.data.items():
                val = pdir.split("=", 1)[1]
                adds.append(
                    f"PARTITION (`{pcol}`='{val}') "
                    f"LOCATION '{(t.root / rel).resolve()}'"
                )
            spark.sql(
                f"ALTER TABLE {qname} ADD IF NOT EXISTS " + " ".join(adds)
            )
        return qname

    def sync_metastore_all(
        self, spark: SparkSession, engine: Any, database: str = "default"
    ) -> list[str]:
        """Metastore-sync every cataloged table (the per-run Hive-sync
        sweep DeltaStreamer performs after each commit)."""
        out = []
        for name in self._load():
            q = self.sync_metastore(spark, engine, name, database)
            if q is not None:
                out.append(q)
        return out
