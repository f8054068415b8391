"""Config model: pipeline + table configs and validation.

Mirrors the reference's config-table semantics (C1/C2/C5 in SURVEY.md §2.2):

- config items keyed ``(identifier, config)`` with two kinds:
  ``pipeline::<type>`` and ``table::<schema.table>``
  (reference ``docs/config_table.md:9-18,44-97``);
- pipeline-type whitelist {hudi_bulk_insert, hudi_delta,
  hudi_delta_continuous} with a ValueError on anything else
  (``src/lambdas/launch_hudi/handler.py:28``);
- int coercion of step_parallelism / worker count (``handler.py:34-35``);
- table field names as the *code* reads them — ``record_key`` /
  ``source_ordering_field`` (``handler.py:67-68``), not the doc's
  ``primary_key``/``watermark``;
- disabled tables are skipped at plan time (``handler.py:175-177``);
- an empty plan raises (``handler.py:185-186``).

Storage here is a plain JSON document (list of items, same shapes as
``example-configs.json``) instead of DynamoDB.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

SUPPORTED_PIPELINE_TYPES = (
    "hudi_bulk_insert",
    "hudi_delta",
    "hudi_delta_continuous",
)

COPY_ON_WRITE = "COPY_ON_WRITE"
MERGE_ON_READ = "MERGE_ON_READ"


@dataclass
class TableConfig:
    """One ``table::<schema.table>`` item (docs/config_table.md:74-97)."""

    name: str  # "<schema>.<table>"
    record_key: list[str]  # 1..n key columns (handler.py:67, comma-separated)
    source_ordering_field: str = "trx_seq"  # precombine field (handler.py:68)
    is_partitioned: bool = False
    partition_path: str | None = None  # handler.py:103
    table_type: str = COPY_ON_WRITE  # handler.py:112-113
    transformer_sql: str | None = None  # handler.py:115-116
    enabled: bool = True  # handler.py:130,175-177
    spark_conf: dict[str, dict[str, str]] = field(default_factory=dict)
    # `op` override mirrors handler.py:159-160
    op: str | None = None
    # Bucket index (beyond-reference; Hudi's bucket-index analog): hash
    # record keys into N stable buckets so upserts rewrite only touched
    # buckets instead of the whole table. For non-partitioned tables only
    # (a partitioned table already prunes by partition).
    num_buckets: int | None = None
    # Key-range file groups (beyond-reference; Hudi file-group + column-
    # stats pruning analog): range-partition the FIRST record-key column
    # into N groups whose boundaries freeze at bulk-insert and live in the
    # commit manifest, so a narrow-key upsert rewrites only the groups its
    # keys fall into. Alternative to num_buckets (range locality instead
    # of hash spread); non-partitioned tables only.
    key_range_groups: int | None = None
    # Column-stats index (beyond-reference; Hudi metadata-table
    # COLUMN_STATS analog): per-data-dir min/max for the listed columns
    # recorded in every commit manifest at write time, so range/equality
    # reads prune whole file groups before the scan (storage.read
    # ``filters=``). Carried-forward dirs keep their parent's stats —
    # maintenance is O(dirs written), never O(table).
    stats_columns: list[str] = field(default_factory=list)
    # Record-level index (beyond-reference; Hudi RECORD_INDEX analog):
    # maintain a keyed (record key, dir key) index — itself a bucketed
    # CuratedTable, exactly as Hudi's metadata table is itself a Hudi
    # table — so point lookups read only the file groups that may hold
    # the probed keys. The index may over-approximate (stale entries
    # after layout services are harmless false positives, resolved by
    # the final semi-join) but never under-approximates live keys.
    record_index: bool = False
    # Write-time CDC images (beyond-reference; Hudi 0.13 cdc.enabled
    # analog): COW upserts persist the pre-image of every key the batch
    # actually changed next to the changelog, so read_cdc serves
    # (op, before, after) rows at O(changed keys) without replaying
    # historical snapshots. COW only — MOR deltas defer the merge, so
    # the before-image is not known at write time.
    cdc_images: bool = False
    # Dead-letter quarantine (beyond-reference): when true, malformed
    # change rows (unknown Op codes, NULL record keys) are split out of
    # each batch map-side and landed under the table's `_quarantine/`
    # dir with a reason column instead of failing the step or merging
    # garbage (operators/quarantine.py; the reference's only answer is
    # the Step Function catch-all failure path, emr1.json:124-130).
    quarantine_bad_rows: bool = False
    # Deletion vectors (beyond-reference; Delta Lake DV analog): deletes
    # write an O(deleted keys) sidecar of (record key, targeted data
    # dir) pairs instead of rewriting row files; readers anti-join the
    # sidecar, and an entry stays effective only while the manifest
    # still maps its partition to the targeted dir — any rewrite of the
    # dir (upsert, clustering, insert_overwrite) makes the entry inert,
    # so re-inserted keys resurrect naturally. Clustering materializes
    # the deletes and clears the vectors. COW only (a MOR delta already
    # IS the cheap-delete path); exclusive with record_index and
    # cdc_images (both would need DV-aware maintenance hooks — use
    # delete_where, the rewrite-path delete, with those).
    deletion_vectors: bool = False
    # Secondary index (beyond-reference; Hudi 1.0 SECONDARY_INDEX
    # metadata-partition analog): a value-bucketed index on ONE
    # non-key column, serving lookup_by(values) with index-pruned dir
    # scans instead of full-table scans. Maintained O(batch) on every
    # write; entries over-approximate (a changed/deleted key's old
    # entry stays as a harmless false positive cleared by the final
    # value filter) but never miss a current (value, key) pair.
    # Exclusive with deletion_vectors (same reason as record_index).
    secondary_index: str | None = None
    # Bloom key index (beyond-reference; Hudi BLOOM index / metadata
    # bloom_filters partition analog): one bloom filter of the record
    # keys PER DATA DIR, built once when a dir first appears in a
    # commit (dir content is immutable, so carried-forward dirs reuse
    # their filter — maintenance is O(dirs written), like column
    # stats). bloom_lookup(keys) tests the probe set against each
    # dir's filter driver-side and scans only maybe-containing dirs;
    # the final exact semi-join clears false positives, and a filter
    # can never under-approximate its dir's keys. Cheaper than the
    # record-level index (no index table, no per-key entries) at the
    # cost of probabilistic pruning. Exclusive with deletion_vectors
    # (bloom_lookup reads dirs directly; DV anti-joins would need a
    # DV-aware read hook — use record_index's point_lookup there).
    bloom_index: bool = False
    # Row lineage (beyond-reference; Iceberg v3 row-lineage analog):
    # every write path stamps the rows it CHANGES with the committing
    # version in a `_commit_version` column — bulk rows carry the
    # initial version, each upsert/partial-update/overwrite stamps its
    # batch, and table services (compaction, clustering, delete_where
    # survivors, partition evolution) REWRITE rows without re-stamping,
    # so the column answers "which commit last modified this row"
    # through any layout change. read() hides the column unless asked
    # (include_lineage=True), like Iceberg's metadata columns.
    # Incompatible with bootstrap (external files lack the column).
    row_lineage: bool = False

    def __post_init__(self) -> None:
        if not self.record_key:
            raise ValueError(f"table {self.name}: record_key must be non-empty")
        if self.is_partitioned and not self.partition_path:
            raise ValueError(
                f"table {self.name}: is_partitioned requires partition_path"
            )
        if self.num_buckets is not None:
            if self.is_partitioned:
                raise ValueError(
                    f"table {self.name}: num_buckets only applies to "
                    "non-partitioned tables"
                )
            if int(self.num_buckets) < 1:
                raise ValueError(f"table {self.name}: num_buckets must be >= 1")
        if self.key_range_groups is not None:
            if self.is_partitioned or self.num_buckets is not None:
                raise ValueError(
                    f"table {self.name}: key_range_groups only applies to "
                    "non-partitioned, non-bucketed tables"
                )
            if int(self.key_range_groups) < 1:
                raise ValueError(
                    f"table {self.name}: key_range_groups must be >= 1"
                )
        if self.table_type not in (COPY_ON_WRITE, MERGE_ON_READ):
            raise ValueError(
                f"table {self.name}: unsupported table_type {self.table_type}"
            )
        if self.cdc_images and self.table_type != COPY_ON_WRITE:
            raise ValueError(
                f"table {self.name}: cdc_images requires COPY_ON_WRITE "
                "(MOR defers the merge, so before-images are unknown at "
                "write time)"
            )
        if self.deletion_vectors:
            if self.table_type != COPY_ON_WRITE:
                raise ValueError(
                    f"table {self.name}: deletion_vectors requires "
                    "COPY_ON_WRITE (a MOR delta already is the "
                    "cheap-delete path)"
                )
            if (self.record_index or self.cdc_images
                    or self.secondary_index or self.bloom_index):
                raise ValueError(
                    f"table {self.name}: deletion_vectors is exclusive "
                    "with record_index/cdc_images/secondary_index/"
                    "bloom_index — those need DV-aware maintenance; "
                    "use delete_where with them"
                )
        if self.secondary_index and self.secondary_index in self.record_key:
            raise ValueError(
                f"table {self.name}: secondary_index on a record-key "
                "column is redundant — use record_index / point_lookup"
            )

    @property
    def is_complex_key(self) -> bool:
        """ComplexKeyGenerator iff arity > 1 (handler.py:105-108)."""
        return len(self.record_key) > 1

    @classmethod
    def from_item(cls, item: dict[str, Any]) -> "TableConfig":
        """Parse one raw ``table::...`` config item (example-configs.json shape)."""
        name = item["config"].split("::", 1)[-1]
        hudi = item["hudi_config"]
        record_key = [c.strip() for c in str(hudi["record_key"]).split(",") if c.strip()]
        return cls(
            name=name,
            record_key=record_key,
            source_ordering_field=hudi.get("source_ordering_field", "trx_seq"),
            is_partitioned=bool(hudi.get("is_partitioned", False)),
            partition_path=hudi.get("partition_path"),
            table_type=hudi.get("table_type", COPY_ON_WRITE),
            transformer_sql=hudi.get("transformer_sql"),
            enabled=bool(item.get("enabled", False)),
            spark_conf=item.get("spark_conf", {}),
            op=hudi.get("op"),
            num_buckets=(
                int(hudi["num_buckets"]) if "num_buckets" in hudi else None
            ),
            key_range_groups=(
                int(hudi["key_range_groups"])
                if "key_range_groups" in hudi else None
            ),
            quarantine_bad_rows=bool(hudi.get("quarantine_bad_rows", False)),
            stats_columns=[
                c.strip()
                for c in str(hudi.get("stats_columns", "")).split(",")
                if c.strip()
            ],
            record_index=bool(hudi.get("record_index", False)),
            cdc_images=bool(hudi.get("cdc_images", False)),
            secondary_index=hudi.get("secondary_index") or None,
        )


@dataclass
class PipelineConfig:
    """One ``pipeline::<type>`` item (docs/config_table.md:44-63).

    EMR fleet shape collapses to driver-side knobs in the Spark-native
    engine; ``step_parallelism`` survives as the merge-job thread-pool width
    (emr1.json:28 StepConcurrencyLevel).
    """

    pipeline_type: str
    step_parallelism: int = 1
    worker_count: int = 0  # informational (cluster sizing lives outside local mode)
    maximize_resource_allocation: bool = False
    next_pipeline: str | None = None  # chaining, emr1.json:256-296
    raw: dict[str, Any] = field(default_factory=dict)

    @classmethod
    def from_item(cls, item: dict[str, Any]) -> "PipelineConfig":
        emr = item.get("emr_config", {})
        nxt = item.get("next_pipeline", {})
        return cls(
            pipeline_type=item["config"].split("::", 1)[-1],
            # int coercion mirrors handler.py:34-35
            step_parallelism=int(emr.get("step_parallelism", 1)),
            worker_count=int(emr.get("worker", {}).get("count", 0)),
            maximize_resource_allocation=str(
                emr.get("maximize_resource_allocation", "false")
            ).lower()
            == "true",
            next_pipeline=(nxt.get("pipeline_type") if nxt.get("enabled") else None),
            raw=item,
        )


@dataclass
class EngineConfigs:
    """munge_configs output: {PipelineConfig, StepConfigs} (handler.py:21-42)."""

    pipeline: PipelineConfig
    tables: dict[str, TableConfig]


def munge_configs(items: list[dict[str, Any]], pipeline_type: str) -> EngineConfigs:
    """Split raw config items into pipeline vs table configs.

    Behavior-parity port of ``handler.py:21-42``: unsupported pipeline type
    raises ValueError; ``pipeline::<other-type>`` items are ignored; every
    ``table::*`` item becomes a step config.
    """
    if pipeline_type not in SUPPORTED_PIPELINE_TYPES:
        raise ValueError(f"Operation {pipeline_type} not yet supported.")

    pipeline: PipelineConfig | None = None
    tables: dict[str, TableConfig] = {}
    for item in items:
        kind = item.get("config", "")
        if kind == f"pipeline::{pipeline_type}":
            pipeline = PipelineConfig.from_item(item)
        elif kind.startswith("table::"):
            tc = TableConfig.from_item(item)
            tables[tc.name] = tc
    if pipeline is None:
        pipeline = PipelineConfig(pipeline_type=pipeline_type)
    else:
        pipeline.pipeline_type = pipeline_type
    return EngineConfigs(pipeline=pipeline, tables=tables)


def load_configs(path: str | Path, pipeline_type: str) -> EngineConfigs:
    """Read config items from a JSON file (the engine's 'DynamoDB')."""
    items = json.loads(Path(path).read_text())
    return munge_configs(items, pipeline_type)
