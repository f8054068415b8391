"""Engine driver: the control plane as one process (SURVEY.md §3.4).

Collapses the reference's Lambda -> Step Functions -> EMR chain into
``Engine.run(pipeline_type)``:

- C1/C2 config fetch + munge      -> config.load_configs / munge_configs
- C3   hudi-conf synthesis        -> MergePlan (keys/ordering/partition/
                                     table_type/transformer/operation)
- C4   step generation            -> plan() skips disabled tables
                                     (handler.py:175-177)
- C5   empty-plan guard           -> RuntimeError (handler.py:185-186)
- C6   concurrency guard          -> lock file w/ bounded backoff
                                     (handler.py:201-213)
- C7   execution naming           -> {identifier}-{pipeline_type}-{ts}
                                     (handler.py:227)
- C8   cluster lifecycle          -> the shared SparkSession
- C9   parallel step fan-out      -> ThreadPoolExecutor(step_parallelism)
                                     (emr1.json:28,114-162; Spark's
                                     scheduler is thread-safe, each table
                                     merge is an independent job)
- C10  failure munging/notify     -> RunReport (per-step status + error)
- C11  pipeline chaining          -> next_pipeline follow-up run
                                     (emr1.json:256-296)

Data plane per step (the DeltaStreamer loop, SURVEY.md §3.1 step 9):
checkpoint -> new files (D1/D2) -> transformer SQL (D10) -> precombine +
upsert/bulk-insert (D4-D7) -> table services (D12-D15) -> catalog sync
(D16) -> commit (checkpoint travels inside the commit).
"""

from __future__ import annotations

import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from aws_dms_to_hudi_spark.catalog import Catalog
from aws_dms_to_hudi_spark.config import (
    EngineConfigs,
    TableConfig,
    munge_configs,
)
from aws_dms_to_hudi_spark.operators.transformer import apply_transformer_sql
from aws_dms_to_hudi_spark.plans import (
    ConcurrentRunError,
    MergePlan,
    RunReport,
    StepResult,
)
from aws_dms_to_hudi_spark.sources.parquet_dfs import ParquetDFSSource
from aws_dms_to_hudi_spark.storage import Commit, CuratedTable

RETAINED_COMMITS = 5  # handler.py:90-91
KEEP_MIN_COMMITS = 10  # handler.py:92-93
KEEP_MAX_COMMITS = 15

__all__ = [
    "ConcurrentRunError",
    "Engine",
    "MergePlan",
    "RunReport",
    "StepResult",
]


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        identifier: str,
        config_items: list[dict[str, Any]],
        raw_root: str | Path,
        curated_root: str | Path,
        database: str = "default",
    ):
        self.spark = spark
        self.identifier = identifier
        self.config_items = config_items
        self.raw_root = Path(raw_root)
        self.curated_root = Path(curated_root)
        self.database = database
        self.catalog = Catalog(self.curated_root)

    # ---------- plan compilation (C2-C5) ----------

    def configs(self, pipeline_type: str) -> EngineConfigs:
        return munge_configs(self.config_items, pipeline_type)

    def plan(self, pipeline_type: str) -> list[MergePlan]:
        cfgs = self.configs(pipeline_type)
        plans: list[MergePlan] = []
        for step_name, tc in cfgs.tables.items():
            if not tc.enabled:  # handler.py:175-177
                continue
            table_name = f"{self.identifier}_{step_name.replace('.', '_')}"
            # raw dir mirrors the DMS landing layout:
            # <raw>/<identifier>/<schema>/<table>/ (handler.py:70).
            src = self.raw_root.joinpath(
                self.identifier, *step_name.split(".", 1)
            )
            if pipeline_type == "hudi_bulk_insert":
                operation = "bulk_insert"  # handler.py:157-158
            else:
                operation = tc.op or "upsert"  # handler.py:89,159-160
            plans.append(
                MergePlan(
                    step_name=step_name,
                    table_name=table_name,
                    config=tc,
                    source_root=src,
                    target_root=self.curated_root / self.database / table_name,
                    operation=operation,
                    continuous=(pipeline_type == "hudi_delta_continuous"),
                    spark_conf=tc.spark_conf.get(pipeline_type, {}),
                )
            )
        if not plans:  # handler.py:185-186
            raise RuntimeError(
                f"No steps have been generated based on {pipeline_type}. "
                "Ensure they are configured and enabled."
            )
        return plans

    # ---------- execution (C6-C11) ----------

    def run(self, pipeline_type: str, follow_chain: bool = True) -> RunReport:
        cfgs = self.configs(pipeline_type)
        plans = self.plan(pipeline_type)
        execution_id = (
            f"{self.identifier}-{pipeline_type}-"
            f"{datetime.now(timezone.utc).strftime('%Y%m%d%H%M%S')}"
        )  # handler.py:227
        report = RunReport(execution_id=execution_id, pipeline_type=pipeline_type)

        with self._run_lock():
            parallelism = max(1, cfgs.pipeline.step_parallelism)
            with ThreadPoolExecutor(max_workers=parallelism) as pool:
                futures = {
                    pool.submit(self._run_step, p): p for p in plans
                }
                for fut, p in futures.items():
                    report.steps.append(fut.result())

        # C11: chain to the next pipeline on success (emr1.json:256-296).
        nxt = cfgs.pipeline.next_pipeline
        if follow_chain and report.succeeded and nxt:
            report.chained.append(self.run(nxt, follow_chain=True))
        return report

    def _run_step(self, plan: MergePlan) -> StepResult:
        t0 = time.time()
        try:
            # Per-step scheduler isolation: concurrent table merges get
            # their own job group/description for observability and
            # cancellation (the step-level equivalent of EMR step logs).
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", f"merge-{plan.table_name}")
            sc.setJobDescription(f"{plan.operation} {plan.table_name}")
            version = self.run_table(plan)
            status = "SUCCEEDED" if version is not None else "SKIPPED_NO_DATA"
            return StepResult(
                step_name=plan.step_name,
                status=status,
                version=version,
                seconds=time.time() - t0,
            )
        except Exception as exc:  # C10: normalize failure details
            return StepResult(
                step_name=plan.step_name,
                status="FAILED",
                error=f"{type(exc).__name__}: {exc}\n{traceback.format_exc(limit=5)}",
                seconds=time.time() - t0,
            )

    def run_table(self, plan: MergePlan) -> int | None:
        """One DeltaStreamer-equivalent sync round for one table.

        Returns the new commit version, or None when there is no new data
        (DeltaStreamer similarly no-ops an empty round).
        """
        table = CuratedTable(self.spark, plan.target_root, plan.config)
        source = ParquetDFSSource(self.spark, plan.source_root)
        latest = table.latest_commit()  # the round's one timeline read
        batch, ckpt = source.read_new(latest.checkpoint if latest else {})
        if batch is None:
            return None
        batch = apply_transformer_sql(self.spark, batch, plan.config.transformer_sql)

        if plan.config.quarantine_bad_rows:
            # Dead-letter split (D20): malformed rows leave the batch
            # map-side and land with a reason column; the clean subset
            # merges. Append-mode so every sync round's rejects accrue
            # under one auditable location.
            from aws_dms_to_hudi_spark.operators.quarantine import (
                split_quarantine,
            )

            batch, dlq = split_quarantine(batch, plan.config.record_key)
            if not dlq.isEmpty():  # don't litter clean rounds
                dlq.write.mode("append").parquet(
                    str(Path(plan.target_root) / "_quarantine")
                )

        if plan.operation == "bulk_insert" or latest is None:
            commit = table.bulk_insert(batch, checkpoint=ckpt)
        else:
            commit = table.upsert(batch, checkpoint=ckpt)
            # Inline table services, mirroring the delta-pipeline conf
            # (clean.automatic, clustering.inline, compact.inline for MOR —
            # handler.py:73,81,90-93,112-113).
            if self._should_compact(commit):
                commit = table.compact()
            table.clean(RETAINED_COMMITS)
            table.archive(KEEP_MIN_COMMITS, KEEP_MAX_COMMITS)

        # the table's columns: a column the batch dropped stays in it
        self.catalog.sync(
            plan.table_name,
            plan.target_root,
            plan.config.record_key,
            plan.config.partition_path,
            table.table_schema(commit).json(),
        )
        return commit.version

    @staticmethod
    def _should_compact(commit: Commit, max_deltas: int = 3) -> bool:
        """MOR inline compaction trigger on the commit just written:
        delta-commit count threshold (Hudi's
        ``compact.inline.max.delta.commits`` analogue)."""
        return len(commit.deltas) >= max_deltas

    # ---------- reads ----------

    def _curated(self, table_name: str) -> CuratedTable | None:
        entry = self.catalog.tables().get(table_name)
        if entry is None:
            return None
        cfg = TableConfig(
            name=table_name,
            record_key=entry["record_key"],
            is_partitioned=entry["partition_path"] is not None,
            partition_path=entry["partition_path"],
        )
        return CuratedTable(self.spark, entry["path"], cfg)

    def table(self, table_name: str) -> CuratedTable | None:
        """Public curated-table handle (catalog metastore sync, tooling)."""
        return self._curated(table_name)

    def sync_metastore(self, database: str = "default") -> list[str]:
        """Register every curated table in Spark's metastore (D16) — the
        post-run Hive-sync sweep (handler.py:78-80,118). Requires a
        hive-backed session (get_spark(hive_support=True)) for the
        registrations to survive restarts; see Catalog.sync_metastore."""
        return self.catalog.sync_metastore_all(self.spark, self, database)

    def read_table(
        self, table_name: str, read_optimized: bool = False
    ) -> DataFrame | None:
        """Snapshot read; ``read_optimized=True`` is Hudi's RO query
        type on MOR tables (base files only — see CuratedTable.read)."""
        t = self._curated(table_name)
        return t.read(read_optimized=read_optimized) if t else None

    def read_table_incremental(
        self,
        table_name: str,
        begin_version: int | None = None,
        end_version: int | None = None,
        drop_deleted: bool = True,
    ) -> DataFrame | None:
        """Changed keys only, for commits in (begin, end] — see
        CuratedTable.read_incremental."""
        t = self._curated(table_name)
        if t is None:
            return None
        return t.read_incremental(begin_version, end_version, drop_deleted)

    # ---------- concurrency guard (C6) ----------

    def _lock_path(self) -> Path:
        return self.curated_root / f"_running.{self.identifier}.lock"

    def _run_lock(self, max_wait_s: float = 60.0):
        return _FileLock(self._lock_path(), max_wait_s)


class _FileLock:
    """Exclusive-create lock file with expo backoff ≤ max_wait
    (handler.py:201-213 uses backoff.expo, max_time=60)."""

    def __init__(self, path: Path, max_wait_s: float):
        self.path = path
        self.max_wait_s = max_wait_s

    def __enter__(self):
        self.path.parent.mkdir(parents=True, exist_ok=True)
        deadline = time.time() + self.max_wait_s
        delay = 0.1
        while True:
            try:
                fd = self.path.open("x")
                fd.write(str(datetime.now(timezone.utc)))
                fd.close()
                return self
            except FileExistsError:
                if time.time() >= deadline:
                    raise ConcurrentRunError(
                        f"Pipeline cannot run due to in-progress pipeline "
                        f"(lock: {self.path})"
                    ) from None
                time.sleep(delay)
                delay = min(delay * 2, 5.0)

    def __exit__(self, *exc):
        self.path.unlink(missing_ok=True)
        return False
