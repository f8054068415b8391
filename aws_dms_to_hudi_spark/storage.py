"""Curated table storage: multi-versioned keyed parquet tables.

This is the engine's stand-in for a Hudi table (SURVEY.md §1.1 Layer B):
row-keyed, columnar-stored, multi-versioned, with a commit timeline.

Layout under ``<lake_root>/<table_name>/``::

    _commits/00000001.json      commit manifest (written LAST, atomically)
    _commits/_archived.json     trimmed timeline entries (D14)
    v00000001/                  snapshot data (hive-partitioned if configured)
    v00000002/l_returnflag=A/   COW: only touched partitions are rewritten;
                                the manifest maps partition -> newest dir
    v00000003_delta/            MOR: appended delta log (compacted later)

Commit manifest fields::

    {"version": 3, "operation": "upsert", "parent": 2,
     "data": {"l_returnflag=A": "v00000003/l_returnflag=A", ...}
              (unpartitioned: {"": "v00000003"}),
     "deltas": ["v00000004_delta", ...],     # MOR only
     "checkpoint": {...},                     # source position (D2)
     "ts": "...",
     "schema": "<Spark schema JSON>",         # what the data map reads as
     "dir_schemas": [{"schema": "<JSON>", "dirs": ["v00000002", ...]}]}

Crash safety (SURVEY.md §7.3): data dirs are written first, the manifest
rename is the commit point, and the manifest carries the source checkpoint —
so table state and checkpoint commit atomically together; a re-run after a
crash re-reads the same source files and the idempotent merge (see
operators.merge) converges to the same state.

Scale design:

- **COW partitioned upsert rewrites only touched partitions.** The
  touched partitions are observed during the changelog write (an
  ``Observation`` of the partition values — no extra job), the current
  state is pruned to those partitions before the merge, and unchanged
  partitions are carried forward by manifest reference — zero data
  movement. The merge key is (partition value, record key), as in Hudi's
  partition-scoped (non-global) index: a record key is resolved within
  its partition path, so a key updated into another partition leaves its
  old row in place. The layout's range exchange on those columns serves
  the merge window too: one exchange, one sort per sync round.
- **An unpartitioned table is the one-partition case** (Hudi's
  ``NonpartitionedKeyGenerator``: partition path ``""``). Its data map
  is ``{"": vdir}``, and every COW upsert touches that one partition and
  merges on the record key. Every snapshot of every layout — bulk
  insert, upsert, overwrite, compaction, clustering, partition
  evolution — is written by one ``_write_snapshot``; the
  ``_layout_exchange`` placed above it is a no-op when unpartitioned.
- **MOR** (``hoodie.compact.inline`` for MERGE_ON_READ tables,
  ``handler.py:112-113``): writes append a precombined delta dir (cheap,
  no table-size-dependent work) and reads merge base ∪ deltas on the fly;
  inline compaction folds deltas back into base snapshots.
- Version GC (D13, ``cleaner.commits.retained=5`` ``handler.py:90-91``) and
  timeline archival (D14, keep 10..15 ``handler.py:92-93``) bound storage
  and metadata growth.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import asdict, dataclass, field, fields
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from aws_dms_to_hudi_spark.config import MERGE_ON_READ, TableConfig
from aws_dms_to_hudi_spark.operators.merge import (
    _pick_winners,
    _union_tagged,
    apply_deletes,
    precombine,
    upsert_merge,
)
from aws_dms_to_hudi_spark.operators.schema_evolution import (
    common_schema,
    reconcile,
)

COMMITS_DIR = "_commits"
ARCHIVE_FILE = "_archived.json"


@dataclass
class Commit:
    version: int
    operation: str
    data: dict[str, str]  # partition rel-path ("" for unpartitioned) -> data dir
    deltas: list[str] = field(default_factory=list)
    checkpoint: dict[str, Any] = field(default_factory=dict)
    parent: int | None = None
    # Dirs holding the rows this commit logically changed (the precombined
    # batch incl. tombstones) — the Hudi CDC/incremental-query analog.
    # Empty for table services (compaction/clustering), which change no rows.
    changelog: list[str] = field(default_factory=list)
    # Key-range file groups only: the frozen range cut points of the first
    # record-key column (len = groups-1) — the manifest's column-stats
    # analog that key-range pruning reads. Carried forward verbatim by
    # every later commit (assignment must stay stable across upserts).
    key_bounds: list[Any] | None = None
    # Column-stats index (Hudi metadata-table COLUMN_STATS analog):
    # {data rel-dir: {column: [tagged min, tagged max]}} for the table's
    # configured stats_columns. Keyed by the rel dir, so carried-forward
    # dirs keep their stats by identity — maintenance cost is O(dirs
    # written by this commit), never O(table). Values are [type-tag,
    # value] pairs (see _enc_stat) so dates/timestamps survive JSON.
    col_stats: dict[str, dict[str, list]] | None = None
    # Write-time CDC before-image dir for this commit (cdc_images
    # tables): the stored pre-state of exactly the keys this commit
    # changed. None for commits that changed nothing / non-CDC tables.
    cdc_dir: str | None = None
    # Active deletion-vector dirs (Delta DV analog): each holds
    # (record key cols, _dv_rel) rows; an entry is effective only while
    # ``data`` still maps its partition to exactly ``_dv_rel``, so any
    # dir rewrite makes it inert. Clustering clears the list (deletes
    # materialize into the rewritten snapshot).
    dv: list[str] = field(default_factory=list)
    # Commit wall-clock (epoch seconds), stamped at manifest write —
    # what TIMESTAMP-AS-OF time travel resolves against (Delta
    # ``TIMESTAMP AS OF`` / Hudi ``as.of.instant`` analog). None on
    # manifests written before the field existed; those resolve as
    # "older than any stamped commit".
    ts: float | None = None
    # Spark schema JSON of the snapshot ``data`` reads as, also when it
    # maps no dir (Hudi keeps the writer schema in each commit, never
    # infers it from files). None on manifests older than the field.
    schema: str | None = None
    # Schema JSON of each dir group (``_group_of``) the commit references
    # whose schema is not ``schema`` (pre-evolution data, changelogs,
    # deltas...), carried forward by identity as ``col_stats`` is. None on
    # manifests written before the field: their dirs are footer-inferred.
    dir_schemas: dict[str, str] | None = None

    def schema_of(self, rel: str) -> str | None:
        """Recorded schema JSON of the dir (or dir group) ``rel``."""
        if self.dir_schemas is None:
            return None
        return self.dir_schemas.get(_group_of(rel), self.schema)

    def schemas_of(self, rels) -> dict[str, str | None]:
        return {d: self.schema_of(d) for d in rels}

    def dirs(self) -> list[str]:
        """Every dir this commit references: data, MOR deltas,
        changelog, deletion vectors and the CDC before-image."""
        extra = [self.cdc_dir] if self.cdc_dir else []
        return [*self.data.values(), *self.deltas, *self.changelog,
                *self.dv, *extra]

    def to_json(self) -> str:
        d = asdict(self)
        if self.dir_schemas is not None:  # each distinct text once
            d["dir_schemas"] = [
                {"schema": t, "dirs": [g for g, u in self.dir_schemas.items()
                                       if u == t]}
                for t in dict.fromkeys(self.dir_schemas.values())]
        return json.dumps(d, indent=1)

    @classmethod
    def from_json(cls, text: str) -> "Commit":
        d = json.loads(text)
        if d.get("dir_schemas") is not None:
            d["dir_schemas"] = {g: e["schema"] for e in d["dir_schemas"]
                                for g in e["dirs"]}
        return cls(**{f.name: d[f.name] for f in fields(cls) if f.name in d})


BUCKET_COL = "__bucket"
RANGE_COL = "__krange"
# Record-level index (Hudi RECORD_INDEX metadata-partition analog)
RLI_DIR = "_index/record_level"
RLI_BUCKETS = 8
# Secondary index (Hudi 1.0 SECONDARY_INDEX metadata-partition analog)
SIDX_DIR = "_index/secondary"
SIDX_BUCKETS = 8
DIR_KEY_COL = "_dir_key"

BLOOM_DIR = "_index/bloom"
BLOOM_BITS = 1 << 17  # bits per dir filter (16 KiB bitmap)
BLOOM_K = 5  # hash functions; fpp ~ (1 - e^(-kn/m))^k

LINEAGE_COL = "_commit_version"  # Iceberg v3 row-lineage analog
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"  # Spark's dir for NULL / ''
ZORDER_COL = "__zorder"  # clustering's curve key; sorted on, never stored
# In-memory plan-stat bytes per write task (see _layout_exchange)
WRITE_ADVISORY_BYTES = 8 << 20


class ConcurrentWriteConflict(RuntimeError):
    """Two OCC writers touched overlapping file groups (Hudi
    write-conflict analog): the loser's merge was computed against base
    files another commit replaced — it must re-prepare from the new
    snapshot."""


class LockProvider:
    """Commit-lock contract (Hudi ``hoodie.write.lock.provider`` analog).

    ``lock(table)`` returns a context manager granting exclusive rights
    to the manifest-write critical section of one table — held for
    microseconds (a latest-commit read plus one manifest rename), never
    across data writes. EVERY manifest-writing path acquires it (serial
    upsert/compact/cluster/restore as well as OCC ``commit_staged``),
    matching Hudi's requirement that all writers AND table services go
    through the lock provider when multi-writer is possible.

    The bundled :class:`FileLockProvider` uses ``O_CREAT|O_EXCL``, which
    is atomic on POSIX local filesystems and NFSv4 — but NOT on S3-class
    object stores (S3 has no atomic create-if-absent usable this way).
    Deployments whose table root is an object store must inject a
    coordination-service provider (ZooKeeper, DynamoDB, JDBC — the same
    external lock providers Hudi mandates there) via
    ``CuratedTable(..., lock_provider=...)``.
    """

    def lock(self, table: "CuratedTable"):
        raise NotImplementedError


class FileLockProvider(LockProvider):
    """O_CREAT|O_EXCL lockfile inside the table's ``_commits`` dir, with
    bounded retry and stale-lock recovery: the holder's pid/timestamp is
    written into the lockfile, and a lock older than ``stale_after``
    seconds (the critical section is microseconds; a lock that old means
    the holder died between create and the ``finally`` unlink) is broken
    by an atomic rename — exactly one contender wins the rename, so two
    breakers never free two different generations of the lock."""

    def __init__(self, timeout: float = 30.0, stale_after: float = 15.0):
        self.timeout = timeout
        self.stale_after = stale_after

    def lock(self, table: "CuratedTable"):
        import contextlib
        import time as _time

        path = table.root / COMMITS_DIR / "_commit.lock"
        stale_after = self.stale_after
        timeout = self.timeout

        @contextlib.contextmanager
        def _lock():
            deadline = _time.monotonic() + timeout
            while True:
                try:
                    fd = os.open(
                        path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                    )
                    break
                except FileExistsError:
                    try:
                        age = _time.time() - path.stat().st_mtime
                    except FileNotFoundError:
                        continue  # freed between open and stat: retry now
                    if age > stale_after:
                        # break the stale lock: rename-then-unlink is
                        # atomic, so concurrent breakers race on the
                        # rename and exactly one clears it
                        grave = path.with_suffix(f".stale.{os.getpid()}")
                        with contextlib.suppress(
                            FileNotFoundError, OSError
                        ):
                            os.rename(path, grave)
                            os.unlink(grave)
                        continue
                    if _time.monotonic() > deadline:
                        raise TimeoutError(
                            f"{table.config.name}: commit lock held too "
                            f"long (see holder in {path})"
                        )
                    _time.sleep(0.01)
            try:
                os.write(
                    fd,
                    json.dumps(
                        {"pid": os.getpid(), "ts": _time.time()}
                    ).encode(),
                )
                yield
            finally:
                os.close(fd)
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(path)

        return _lock()


@dataclass
class StagedCommit:
    """Phase-1 output of an OCC write (prepare_upsert): everything the
    metadata-only commit step needs — no DataFrames, so it is safe to
    hold across other writers' commits."""

    parent_version: int
    touched: list[str]  # partition KEYS this writer rewrote
    fresh: dict[str, str]  # partition key -> new rel dir
    changelog: list[str]
    schema: str  # of the staged snapshot, also when ``fresh`` is empty
    dir_schemas: dict[str, str]  # dir group written -> its schema JSON
    col_stats: dict[str, dict[str, list]] | None = None


class CuratedTable:
    """One keyed, versioned table in the curated lake."""

    def __init__(
        self,
        spark: SparkSession,
        root: str | Path,
        config: TableConfig,
        lock_provider: LockProvider | None = None,
    ):
        self.spark = spark
        self.root = Path(root)
        self.config = config
        self.lock_provider = lock_provider or FileLockProvider()
        (self.root / COMMITS_DIR).mkdir(parents=True, exist_ok=True)

    # ---------- physical layout ----------

    @property
    def _pcol(self) -> str | None:
        """Effective partition column for the on-disk layout: the user's
        partition column, or the synthetic bucket column when the table
        uses a bucket index (Hudi bucket-index analog: hash the record
        key into N stable buckets so upserts rewrite only the buckets a
        batch touches, not the whole table)."""
        cfg = self.config
        if cfg.is_partitioned:
            return cfg.partition_path
        if cfg.num_buckets:
            return BUCKET_COL
        if cfg.key_range_groups:
            return RANGE_COL
        return None

    def _bucketize(self, df: DataFrame, prev: Commit | None) -> DataFrame:
        """Attach the synthetic layout column (bucket or key-range id)
        when the table has one and ``df`` lacks it; ``prev`` is the
        latest commit, which holds frozen key-range cuts."""
        pcol = self._pcol
        if pcol in (BUCKET_COL, RANGE_COL) and pcol not in df.columns:
            return df.withColumn(pcol, self._layout_expr(df, prev))
        return df

    def _layout_expr(self, df: DataFrame, prev: Commit | None):
        """Each row's layout value: the layout column when ``df`` has it,
        else the key-range group or the bucket id pmod(xxhash64(keys), N)
        — functions of the key, so existing rows (id read back from the
        dir name) and incoming rows (computed here) agree."""
        cfg = self.config
        if cfg.is_partitioned or self._pcol in df.columns:
            return F.col(self._pcol)
        if cfg.key_range_groups:
            return self._range_group_expr(self._key_bounds(df, prev))
        return F.pmod(
            F.xxhash64(*cfg.record_key), F.lit(cfg.num_buckets)
        ).cast("int")

    def _key_bounds(self, df: DataFrame, prev: Commit | None) -> list:
        """Range-group cut points: from the manifest once frozen, else
        (first bulk insert) an equi-depth percentile sketch of the first
        record-key column over the incoming batch."""
        if prev is not None and prev.key_bounds is not None:
            return prev.key_bounds
        g = int(self.config.key_range_groups)
        kcol = self.config.record_key[0]
        qs = [i / g for i in range(1, g)]
        row = df.select(
            F.percentile_approx(F.col(kcol), qs, 1_000).alias("c")
        ).first()
        cuts = sorted({c for c in (row["c"] or []) if c is not None})
        self._computed_bounds = cuts
        return cuts

    def _range_group_expr(self, cuts: list):
        """#{cut : key > cut} — monotone; equal keys share a group, so a
        batch key always lands in the group holding its existing row."""
        kcol = F.col(self.config.record_key[0])
        if not cuts:
            return F.lit(0)
        arr = F.array(*[F.lit(c) for c in cuts])
        n_below = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, c: acc + F.when(kcol > c, F.lit(1)).otherwise(F.lit(0)),
        )
        return F.when(kcol.isNull(), F.lit(0)).otherwise(n_below)

    def _commit_key_bounds(self, prev: Commit | None) -> list | None:
        """key_bounds for a NEW commit after ``prev``: frozen manifest
        value, else the cuts computed by this very write (bulk insert)."""
        if not self.config.key_range_groups:
            return None
        if prev is not None and prev.key_bounds is not None:
            return prev.key_bounds
        return getattr(self, "_computed_bounds", None)

    # ---------- timeline ----------

    def commits(self) -> list[Commit]:
        cdir = self.root / COMMITS_DIR
        out = []
        for p in sorted(cdir.glob("[0-9]*.json")):
            out.append(Commit.from_json(p.read_text()))
        return out

    def timeline_stats(self) -> DataFrame:
        """Commit-timeline introspection (the Hudi timeline / commits-
        metadata-table analog): one row per DATA commit in version
        order — (commit_seq, operation, n_changed) with n_changed =
        rows of the commit's precombined changelog (tombstones
        included). Table services (compaction / clustering / clean)
        change no rows and carry no changelog, so they are excluded —
        the audit invariant is that every data commit's change count
        equals its source batch's precombined size regardless of any
        layout rewrites in between. The loop is bounded by the
        retained timeline length (a handful of manifests), same class
        as the other bounded driver-side reads.

        Counts come from the parquet footers (exact ``num_rows``
        metadata, what a Spark ``count()`` of the same files returns)
        instead of one count job per commit: the audit is pure
        metadata introspection — O(files in the retained timeline)
        driver-side footer reads, zero cluster jobs — exactly how Hudi
        serves its commits-metadata table."""
        import pyarrow.parquet as pq

        rows = []
        seq = 0
        for c in sorted(self.commits(), key=lambda c: c.version):
            if not c.changelog:
                continue
            n = 0
            for rel in c.changelog:
                d = self.root / rel
                if not d.exists():
                    continue
                for p in sorted(d.rglob("*.parquet")):
                    n += pq.ParquetFile(p).metadata.num_rows
            rows.append((seq, c.operation, int(n)))
            seq += 1
        return self.spark.createDataFrame(
            rows, "commit_seq long, operation string, n_changed long"
        )

    def latest_commit(self) -> Commit | None:
        commits = self.commits()
        return commits[-1] if commits else None

    def checkpoint(self) -> dict[str, Any]:
        c = self.latest_commit()
        return c.checkpoint if c else {}

    def _write_commit(self, commit: Commit, *, _locked: bool = False) -> None:
        """Atomic commit point: temp file + rename within _commits/.

        EVERY manifest-writing path serializes here under the commit
        lock — Hudi requires the lock provider for all writers and table
        services when multi-writer is possible, not only the
        conflict-checked OCC path. If another writer landed the same
        version after this writer's snapshot (two callers both computed
        ``latest.version + 1``), the write raises
        :class:`ConcurrentWriteConflict` instead of silently
        ``os.replace``-ing the earlier manifest away (a lost update);
        the caller must recompute from the new snapshot.
        ``commit_staged`` already holds the lock around its conflict
        check and passes ``_locked=True``.
        """
        if not _locked:
            with self._occ_lock():
                self._write_commit(commit, _locked=True)
            # Bloom maintenance runs OUTSIDE the commit lock: it is a
            # per-new-dir Spark job, idempotent per dir (filters are
            # keyed by dir path and dirs are immutable), so holding the
            # lock through it would only serialize other writers.
            if self.config.bloom_index:
                self._update_bloom_index(commit)
            return
        cdir = self.root / COMMITS_DIR
        target = cdir / f"{commit.version:08d}.json"
        if target.exists():
            raise ConcurrentWriteConflict(
                f"{self.config.name}: version {commit.version} was "
                "committed by another writer after this writer's "
                "snapshot; recompute from the new snapshot"
            )
        if commit.ts is None:
            import time as _time

            commit.ts = _time.time()  # TIMESTAMP-AS-OF resolution point
        fd, tmp = tempfile.mkstemp(dir=cdir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(commit.to_json())
        os.replace(tmp, target)

    # ---------- read path ----------

    def read(
        self,
        version: int | None = None,
        read_optimized: bool = False,
        filters: list[tuple[str, str, Any]] | None = None,
        as_of: float | None = None,
        include_lineage: bool = False,
    ) -> DataFrame | None:
        """Current (or historical) state as a DataFrame.

        COW: union of the manifest's partition dirs. MOR: base ∪ deltas with
        merge-on-read precombine so readers always see merged state
        (Hudi's SNAPSHOT query type). ``read_optimized=True`` is Hudi's
        READ-OPTIMIZED query type: base files only, skipping the delta
        merge — stale by up to the un-compacted delta window, but a pure
        columnar scan with no merge cost (what latency-sensitive BI
        readers point at between compactions). On COW tables the two
        modes are identical, as in Hudi.

        ``filters`` — data skipping via the manifest's column-stats
        index (Hudi metadata-table COLUMN_STATS read path): a list of
        ``(column, op, value)`` with op in {'=', '<', '<=', '>', '>='}.
        Data dirs whose recorded [min, max] prove the conjunction empty
        are dropped BEFORE the scan; the predicate is then re-applied to
        the surviving rows, so results are exact whether or not stats
        exist (missing stats only cost pruning, never correctness).
        Dir-level pruning is only sound when the dirs are the whole
        state, so it is skipped on MOR snapshots with outstanding
        deltas (a delta row may carry an OLDER ordering value than the
        pruned base row, and the merge must see both); read-optimized
        reads prune freely.
        """
        if as_of is not None:
            # TIMESTAMP AS OF (Delta ``TIMESTAMP AS OF`` / Hudi
            # ``as.of.instant`` analog): newest commit stamped at or
            # before the instant. Pre-``ts`` manifests resolve as older
            # than any stamped commit (ts treated as 0).
            if version is not None:
                raise ValueError(
                    f"{self.config.name}: pass version OR as_of, not both"
                )
            eligible = [
                c for c in self.commits() if (c.ts or 0.0) <= as_of
            ]
            if not eligible:
                raise ValueError(
                    f"{self.config.name}: no commit at or before "
                    f"as_of={as_of}"
                )
            version = max(eligible, key=lambda c: c.version).version
        commit = self._commit_at(version)
        if commit is None:
            return None
        rel_dirs = list(commit.data.values())
        if filters and rel_dirs and (read_optimized or not commit.deltas):
            rel_dirs = self._prune_stats_dirs(commit, filters)
        # every dir pruned, or none mapped: the typed empty snapshot
        base = self._read_dirs(commit.schemas_of(rel_dirs), commit.schema)
        if commit.deltas and not read_optimized:
            deltas = self._read_dirs(commit.schemas_of(commit.deltas))
            base = upsert_merge(
                base,
                deltas,
                self.config.record_key,
                self.config.source_ordering_field,
            )
        # deletion vectors apply per the COMMIT being read (time travel
        # sees each version's own vector set), before layout cols drop
        # (the dir-key expr may need them)
        base = self._apply_dv(commit, base)
        if base is not None and (
            self.config.num_buckets or self.config.key_range_groups
        ):
            base = base.drop(BUCKET_COL, RANGE_COL)  # internal layout detail
        if base is not None and filters:
            for col, op, val in filters:
                base = base.filter(_filter_expr(col, op, val))
        if (base is not None and not include_lineage
                and LINEAGE_COL in base.columns):
            # metadata column, hidden unless asked (Iceberg-style)
            base = base.drop(LINEAGE_COL)
        return base

    def read_governed(
        self,
        policy: dict,
        version: int | None = None,
        read_optimized: bool = False,
    ) -> DataFrame | None:
        """Governed read (D48; LakeFormation analog — the reference
        provisions LakeFormation data-access roles over exactly this
        curated lake, ``templates/aws-dms-to-hudi.yaml:103-115,
        585-586,653-678``; there the enforcement lives in the AWS data
        plane, here it lives in the engine's read path so ungoverned
        rows/columns never leave the storage layer).

        ``policy``::

            {"row_filter": [(col, op, val), ...],   # optional
             "masks": {col: spec, ...}}             # optional

        The row filter uses the same conjunction syntax as
        ``read(filters=)`` and therefore ALSO drives column-stats dir
        pruning — governance and data skipping share one machinery; the
        residual predicate re-applies row-level, so enforcement is
        exact whether or not stats exist. Mask specs:

        - ``"null"`` — typed NULL (full redaction, schema preserved);
        - ``"hash"`` — deterministic keyed surrogate via the portable
          polynomial hash (q234's pseudonym form): the same value maps
          to the same surrogate in every governed read of every table,
          so cross-table joins keep working without the raw identifier;
        - ``("partial", n)`` — first ``n`` chars + ``'***'`` (cast to
          string first), the prefix-visibility mask for audit UIs.

        Masking a row-filter column is rejected loudly: the filter
        would otherwise evaluate against already-masked values and
        silently change the governed row set."""
        from aws_dms_to_hudi_spark.functions import portable as P

        row_filter = policy.get("row_filter") or []
        masks = policy.get("masks") or {}
        bad = sorted(set(masks) & {c for c, _, _ in row_filter})
        if bad:
            raise ValueError(
                f"{self.config.name}: columns {bad} appear in both "
                "masks and row_filter — filter on the raw value or "
                "drop the mask"
            )
        df = self.read(
            version=version,
            read_optimized=read_optimized,
            filters=row_filter or None,
        )
        if df is None:
            return None
        types = dict(df.dtypes)
        for col, spec in masks.items():
            if col not in types:
                raise ValueError(
                    f"{self.config.name}: mask on unknown column {col!r}"
                )
            if spec == "null":
                df = df.withColumn(col, F.lit(None).cast(types[col]))
            elif spec == "hash":
                h1 = P.rolling_hash(
                    f"concat('s1:', CAST({col} AS STRING))", "spark")
                h2 = P.rolling_hash(
                    f"concat('s2:', CAST({col} AS STRING))", "spark")
                df = df.withColumn(col, F.expr(
                    f"concat(CAST({h1} AS STRING), '-', "
                    f"CAST({h2} AS STRING))"))
            elif (isinstance(spec, tuple) and len(spec) == 2
                    and spec[0] == "partial"):
                df = df.withColumn(col, F.expr(
                    f"concat(substring(CAST({col} AS STRING), 1, "
                    f"{int(spec[1])}), '***')"))
            else:
                raise ValueError(
                    f"{self.config.name}: unknown mask spec {spec!r} "
                    "for column " + col
                )
        return df

    def table_schema(self, commit: Commit | None = None) -> StructType:
        """Columns of ``commit``'s (default: the latest) base snapshot, as
        ``read(read_optimized=True)`` returns them; no file is read."""
        commit = commit or self.latest_commit()
        if commit.schema is None:  # written before schemas were recorded
            return self.read(commit.version, read_optimized=True).schema
        return StructType([f for f in _struct(commit.schema).fields
                           if f.name not in (BUCKET_COL, RANGE_COL,
                                             LINEAGE_COL)])

    def _prune_stats_dirs(
        self, commit: Commit, filters: list[tuple[str, str, Any]]
    ) -> list[str]:
        """Rel dirs that MAY satisfy the filter conjunction, per the
        manifest's column stats. Conservative: a dir without stats for a
        filtered column always survives."""
        stats = commit.col_stats or {}
        out = []
        for rel in commit.data.values():
            ds = stats.get(rel)
            if ds is None or not _stats_prove_empty(ds, filters):
                out.append(rel)
        return out

    def read_incremental(
        self,
        begin_version: int | None = None,
        end_version: int | None = None,
        drop_deleted: bool = True,
    ) -> DataFrame | None:
        """Hudi incremental-query analog: the latest version of every key
        changed by commits in ``(begin_version, end_version]``.

        Steady-state consumers poll with ``begin_version = last seen`` and
        get only the changed keys — reading changelog dirs sized to the
        batches, never the table. ``drop_deleted=False`` exposes tombstones
        (``_hoodie_is_deleted``) so downstream sinks can propagate deletes
        (CDC-read mode). Bounded by the retained timeline: positions older
        than ``cleaner.commits.retained`` require a full refresh, exactly
        as in Hudi.
        """
        df = self._read_dirs({
            d: c.schema_of(d)
            for c in self._data_commits(begin_version, end_version)
            for d in c.changelog
        })
        if df is None:
            return None
        df = precombine(
            df, self.config.record_key, self.config.source_ordering_field
        )
        if drop_deleted:
            df = apply_deletes(df)
        if BUCKET_COL in df.columns or RANGE_COL in df.columns:
            df = df.drop(BUCKET_COL, RANGE_COL)
        return df

    def _data_commits(self, begin: int | None,
                      end: int | None) -> list[Commit]:
        """Commits in ``(begin, end]`` that changed rows (table services
        carry no changelog)."""
        return [c for c in self.commits() if c.changelog
                and (begin is None or c.version > begin)
                and (end is None or c.version <= end)]

    def _commit_at(self, version: int | None) -> Commit | None:
        commits = self.commits()
        if not commits:
            return None
        if version is None:
            return commits[-1]
        for c in commits:
            if c.version == version:
                return c
        raise ValueError(f"version {version} not on timeline (cleaned?)")

    def _read_dirs(self, dirs: dict[str, str | None],
                   empty: str | None = None) -> DataFrame | None:
        """Rows of ``dirs`` (rel dir -> recorded schema JSON): one scan per
        dir group and schema, under the schema the files were written
        with, then reconciled onto the groups' common schema (Spark's
        reader cannot read long as double or date as timestamp itself).
        No dir: an empty frame of schema ``empty``, or None. Hive-style
        dirs are read under their version dir as basePath (an external
        dir under its source root), so each parses its own partition spec."""
        if not dirs:
            return None if empty is None else self.spark.createDataFrame(
                [], _struct(empty))
        groups: dict[tuple, list[str]] = {}
        for d, schema in dirs.items():
            base = _group_of(d) if "=" in d.rsplit("/", 1)[-1] else None
            # a plain dir without a recorded schema is inferred on its own
            alone = None if schema or base else d
            groups.setdefault((base, schema, alone), []).append(
                str(self.root / d))
        dfs = []
        for (base, schema, _), paths in groups.items():
            reader = self.spark.read
            if base is not None:
                reader = reader.option("basePath", str(self.root / base))
            dfs.append(reader.schema(_struct(schema)).parquet(*paths)
                       if schema else _footer_read(reader, paths))
        dfs = reconcile(dfs)
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
        return df

    # ---------- write path ----------

    def _layout_exchange(self, df: DataFrame,
                         sort_cols: list[str]) -> DataFrame:
        """PARTITION_SORT exchange on (layout column, sort columns); the
        frame unchanged when the table has no layout column.

        Range-repartitioning decouples write parallelism from the
        partition-value count: ``repartition(pcol)`` alone caps the write
        at one task per distinct value — a 3-partition table writes
        100 TB with 3 tasks. Each task holds a contiguous slice of the
        global (pcol, key) order, so every output file stays inside one
        partition, a per-task sort orders it, and per-file key ranges are
        disjoint, which is what column-stats / key-range pruning wants.

        Width is SIZE-ADAPTIVE, not a cluster constant (guide §2.2/§6):
        ``clamp(ceil(est_bytes / WRITE_ADVISORY_BYTES), 1,
        defaultParallelism)``. Any real batch saturates the cap, so the
        advisory only bites on SMALL batches — a CDC delta written at
        full cluster width produces one near-empty file per task, the
        small-files problem §6 warns about, and measured 1.5× slower here
        than right-sized width (fixed-32 1.93 s vs 1.24 s min at an
        8-task width on the ~55 MB sf0.1 lineitem batch). The advisory
        is the IN-MEMORY plan-stat size per write task (parquet+snappy
        lands ~4× smaller on disk)."""
        pcol = self._pcol
        if pcol is None:
            return df
        n_max = max(self.spark.sparkContext.defaultParallelism, 1)
        try:
            est = int(df._jdf.queryExecution().optimizedPlan()
                      .stats().sizeInBytes())
            # Opaque nodes report 2^63-ish garbage; the cap absorbs it
            # (falls back to the full-width behavior).
            n = max(1, min(n_max, -(-est // WRITE_ADVISORY_BYTES)))
        except Exception:
            n = n_max
        return df.repartitionByRange(n, pcol, *sort_cols)

    def _write_snapshot(self, df: DataFrame, vdir: str,
                        sort_cols: list[str]) -> tuple[dict[str, str], str]:
        """Write ``df`` as snapshot dir ``vdir``, each task sorted by
        (layout column, ``sort_cols``), clustering's curve column
        dropped; returns the data map of the dirs written and the schema
        JSON they read back with. An unpartitioned table is the
        one-partition case, ``{"": vdir}`` (Hudi's non-partitioned key
        generator). A partitioned write of zero rows makes no partition
        dir and maps none — never the unpartitioned ``""`` key, which a
        partitioned handle refuses."""
        pcol = self._pcol
        cols = [pcol, *sort_cols] if pcol else list(sort_cols)
        out = df.sortWithinPartitions(*cols).drop(ZORDER_COL)
        base = self.root / vdir
        if pcol is None:
            out.write.mode("overwrite").parquet(str(base))
            return {"": vdir}, _written_schema(out)
        out.write.mode("overwrite").partitionBy(pcol).parquet(str(base))
        return {
            child.name: f"{vdir}/{child.name}"
            for child in sorted(base.iterdir())
            if child.is_dir() and "=" in child.name
        }, _written_schema(out, pcol)

    def _recorded(self, commit: Commit, carried: Commit | None,
                  written: dict[str, str]) -> Commit:
        """``commit`` with its schemas: each dir group's from ``written``
        (this write's groups) or else ``carried`` (inferred once if its
        manifest predates them); ``schema`` is the data groups' common
        schema, or with none the caller's, else ``carried``'s."""
        groups: dict[str, str] = {}
        for d in commit.dirs():
            g = _group_of(d)
            if g not in groups:
                groups[g] = (
                    written.get(g) or (carried and carried.schema_of(g))
                    or self._read_dirs({x: None for x in commit.dirs()
                                        if _group_of(x) == g}).schema.json()
                )
        data = dict.fromkeys(groups[_group_of(d)]
                             for d in commit.data.values())
        if data:
            commit.schema = common_schema([_struct(t) for t in data]).json()
        elif commit.schema is None and carried is not None:
            commit.schema = carried.schema
        commit.dir_schemas = {g: t for g, t in groups.items()
                              if t != commit.schema}
        return commit

    def bootstrap(
        self, source_dir: str, checkpoint: dict[str, Any] | None = None
    ) -> Commit:
        """Metadata-only onboarding of an existing parquet dataset (Hudi
        METADATA_ONLY bootstrap / Delta ``CONVERT TO DELTA`` analog).
        The reference's initial state lands via a DMS full load
        (``README.md:11``, full-load-and-cdc at yaml:295); bootstrap is
        the migration path for a lake that is ALREADY parquet — onboard
        without re-landing or rewriting a single data file.

        The commit's data map points at the SOURCE dirs by absolute
        path: O(partitions) manifest metadata, zero data I/O. Readers
        union external dirs exactly like owned dirs (time travel, MOR
        delta merge, DV application, incremental reads all compose);
        the first rewrite of a partition (upsert / compact / cluster /
        insert_overwrite) materializes it into a table-owned dir and
        drops the external ref — Hudi's upsert-materializes-
        bootstrapped-file-groups behavior, so the table converges to
        fully-owned as it is written. ``clean()``/``vacuum()`` never
        touch external dirs (the table does not own them); dropping a
        bootstrapped table never destroys the source lake.

        Requirements (validated loudly): empty table; the record-key
        and ordering columns present in the source schema (merges need
        them — a source without an ordering column should add a
        constant-low one first); hive-style ``pcol=value`` layout when
        the table is partitioned; no bucket/key-range layout
        (bootstrapped files lack the engine's layout columns).
        """
        cfg = self.config
        prev = self.latest_commit()
        if prev is not None:
            raise ValueError(
                f"{cfg.name}: bootstrap requires an empty table "
                "(onboarding is the FIRST commit)"
            )
        if cfg.num_buckets or cfg.key_range_groups:
            raise ValueError(
                f"{cfg.name}: bootstrap is unsupported with bucket/"
                "key-range layouts — external files lack layout columns"
            )
        if cfg.row_lineage:
            raise ValueError(
                f"{cfg.name}: bootstrap is unsupported with row_lineage "
                "— external files lack the _commit_version column"
            )
        src = Path(source_dir)
        if not src.is_dir():
            raise ValueError(f"{cfg.name}: bootstrap source {src} "
                             "is not a directory")
        pcol = self._pcol
        if pcol is not None:
            data = {
                child.name: str(child)
                for child in sorted(src.iterdir())
                if child.is_dir() and child.name.startswith(f"{pcol}=")
            }
            if not data:
                raise ValueError(
                    f"{cfg.name}: bootstrap source {src} has no "
                    f"hive-style {pcol}=* partition dirs"
                )
        else:
            if "=" in src.name:
                # _read_dirs routes any dir whose leaf contains '=' down
                # the hive-partitioned reader, which would infer a bogus
                # partition column from the source dir's own name (e.g.
                # /data/run=3). Reject up front — rename the source dir.
                raise ValueError(
                    f"{cfg.name}: unpartitioned bootstrap source leaf "
                    f"'{src.name}' contains '=' and would be misread as "
                    "a hive partition dir; rename the source directory"
                )
            data = {"": str(src)}
        df = self._read_dirs(dict.fromkeys(data.values()))
        missing = [
            c for c in [*cfg.record_key, cfg.source_ordering_field]
            if c not in df.columns
        ]
        if missing:
            raise ValueError(
                f"{cfg.name}: bootstrap source lacks required "
                f"column(s) {missing}"
            )
        version = self._next_version(prev)
        # Record-level index: the bootstrap index build (Hudi writes one
        # during METADATA_ONLY bootstrap too) — reads key columns only,
        # the single whole-source scan bootstrap performs, and only when
        # the table opted into the RLI.
        self._update_record_index(df)
        self._update_secondary_index(df)
        commit = Commit(
            version=version,
            operation="bootstrap",
            data=data,
            checkpoint=checkpoint or {},
            parent=None,
            # the onboarded state IS its own change set (as bulk_insert
            # does) — incremental readers see the full initial load
            changelog=list(data.values()),
            key_bounds=self._commit_key_bounds(prev),
            # inferred once, here: the source files are not the engine's
            schema=df.schema.json(),
            dir_schemas={},
        )
        self._write_commit(commit)
        return commit

    def bulk_insert(
        self, df: DataFrame, checkpoint: dict[str, Any] | None = None
    ) -> Commit:
        """Initial load (D7): partition-sorted bulk write.

        ``PARTITION_SORT`` (``handler.py:87``): rows are clustered by
        partition then sorted by record key within each output file —
        repartition on the partition column + sortWithinPartitions(keys)
        gives exactly that layout with one shuffle.
        """
        prev = self.latest_commit()
        version = self._next_version(prev)
        vdir = f"v{version:08d}"
        cfg = self.config
        df = self._stamp_lineage(df, version)
        df = precombine(df, cfg.record_key, cfg.source_ordering_field)
        df = self._bucketize(apply_deletes(df), prev)
        keys = list(cfg.record_key)
        data, schema = self._write_snapshot(self._layout_exchange(df, keys),
                                            vdir, keys)
        self._update_record_index(df)
        self._update_secondary_index(df)
        commit = self._recorded(Commit(
            version=version,
            operation="bulk_insert",
            data=data,
            checkpoint=checkpoint or {},
            parent=None,
            # the initial load IS its own change set; reference the data
            # dirs rather than writing the batch twice
            changelog=list(data.values()),
            key_bounds=self._commit_key_bounds(prev),
            col_stats=self._assemble_stats(None, data, vdir, schema),
            schema=schema,
        ), None, {vdir: schema})
        self._write_commit(commit)
        return commit

    def _stamp_lineage(self, batch: DataFrame, version: int) -> DataFrame:
        """Row lineage (Iceberg v3 analog): stamp the rows this commit
        CHANGES with the committing version. Pure projection — no
        shuffle; table services that rewrite unchanged rows never call
        this, so the stamp survives compaction/clustering/partition
        evolution and always answers "which commit last modified this
        row". A batch that already carries the column (e.g. a
        partial-update resolve that read the current state) is
        re-stamped: its rows ARE this commit's change set."""
        if not self.config.row_lineage:
            return batch
        return batch.withColumn(
            LINEAGE_COL, F.lit(version).cast("long")
        )

    def _check_spec(self, prev: "Commit | None") -> None:
        """Write-time partition-spec guard: every existing data-map key
        must parse under THIS handle's layout (``pcol=value`` leaf, or
        ``""`` for unpartitioned). After :meth:`evolve_partitioning`
        the manifest keys carry the new spec, so a stale handle opened
        with the pre-evolution config fails loudly here instead of
        silently mis-pruning touched partitions (reads stay
        spec-agnostic — each version's dirs parse their own layout)."""
        if prev is None:
            return
        pcol = self._pcol
        for k in prev.data:
            ok = (k == "") if pcol is None else k.startswith(f"{pcol}=")
            if not ok:
                have = k.split("=", 1)[0] if "=" in k else "unpartitioned"
                raise ValueError(
                    f"{self.config.name}: table layout on disk is "
                    f"{have!r} but this handle is configured for "
                    f"{pcol!r} — the partitioning evolved; use the "
                    "handle evolve_partitioning returned (or reopen "
                    "with the evolved spec)"
                )

    def evolve_partitioning(
        self,
        new_partition_path: str | None,
        checkpoint: dict[str, Any] | None = None,
    ) -> "CuratedTable":
        """Partition-spec evolution (Iceberg partition-evolution
        analog, realized through its rewrite path): rewrite the current
        snapshot under a NEW partition column — or to an unpartitioned
        layout — in one clustering-class commit, and return a NEW
        handle bound to the evolved spec. The old handle stays readable
        (reads parse each version's own dir layout) but refuses further
        writes via the spec guard.

        Unlike Iceberg's metadata-only spec change, this engine's
        pruning unit is the partition DIR, so evolution pays one table
        rewrite up front and every later upsert prunes under the new
        spec — the 100 TB trade is rewrite-once versus forever losing
        partition pruning on pre-evolution files (Iceberg tables in
        practice schedule exactly this rewrite as compaction).

        Outstanding MOR deltas and deletion vectors materialize into
        the rewritten snapshot (same as clustering). Record-level and
        secondary indexes are rebuilt — their dir keys carry the spec.
        Bucket/key-range layouts pin their synthetic column and cannot
        evolve."""
        import dataclasses

        cfg = self.config
        if cfg.num_buckets or cfg.key_range_groups:
            raise ValueError(
                f"{cfg.name}: bucket/key-range layouts pin their "
                "synthetic layout column — partition evolution applies "
                "to plain or hive-partitioned tables"
            )
        prev = self.latest_commit()
        if prev is None:
            raise ValueError(f"{cfg.name}: nothing to evolve — empty table")
        self._check_spec(prev)
        if new_partition_path == (cfg.partition_path
                                  if cfg.is_partitioned else None):
            raise ValueError(
                f"{cfg.name}: already partitioned by "
                f"{new_partition_path!r}"
            )
        df = self.read(include_lineage=True)  # rewrite: keep stamps
        if (new_partition_path is not None
                and new_partition_path not in df.columns):
            raise ValueError(
                f"{cfg.name}: partition column {new_partition_path!r} "
                "not in the table schema"
            )
        ncfg = dataclasses.replace(
            cfg,
            is_partitioned=new_partition_path is not None,
            partition_path=new_partition_path,
        )
        newt = CuratedTable(self.spark, self.root, ncfg,
                            lock_provider=self.lock_provider)
        version = self._next_version(prev)
        vdir = f"v{version:08d}"
        keys = list(cfg.record_key)
        data, schema = newt._write_snapshot(newt._layout_exchange(df, keys),
                                            vdir, keys)
        commit = newt._recorded(Commit(
            version=version,
            operation="evolve_partitioning",
            data=data,
            deltas=[],  # merged into the rewrite, like compaction
            checkpoint=checkpoint or prev.checkpoint,
            parent=prev.version,
            changelog=[],  # a rewrite changes no rows
            key_bounds=newt._commit_key_bounds(prev),
            col_stats=newt._assemble_stats(None, data, vdir, schema),
            dv=[],  # materialized by the rewrite, like clustering
            schema=schema,
        ), prev, {vdir: schema})
        newt._write_commit(commit)
        if cfg.record_index:
            # dir keys carry the spec: rebuild or point_lookup would
            # resolve zero candidate dirs and silently miss live keys
            newt._rebuild_record_index(df)
        if cfg.secondary_index:
            newt.rebuild_secondary_index()
        return newt

    def clone_to(
        self, dest_root: str | Path, version: int | None = None
    ) -> "CuratedTable":
        """Zero-copy shallow clone (Delta ``SHALLOW CLONE`` analog):
        create a NEW table at ``dest_root`` whose first commit
        references this table's data (and outstanding MOR delta) dirs
        at ``version`` by ABSOLUTE path — the bootstrap machinery in
        reverse, O(partitions) metadata and no data I/O. The clone
        diverges copy-on-write: its writes materialize touched
        partitions into clone-owned dirs (exactly like a bootstrapped
        table), and the source is never written through a clone.

        Delta's operational caveat carries over verbatim and is NOT
        softened here: ``clean()``/``vacuum()`` on the SOURCE can
        delete dirs a clone still references — clones are for
        experiments and dev branches over a maintenance-quiesced
        source. Column stats carry over (re-keyed to the absolute
        dirs) so data skipping keeps working; key bounds carry (the
        layout contract). Snapshots with ACTIVE deletion vectors are
        rejected (a DV entry is dir-identity-scoped and would go inert
        under the clone's re-keyed data map, resurrecting deleted
        rows) — cluster first, which materializes the deletes. Tables
        configured with record/secondary indexes or CDC images are
        rejected too: those metadata trees live under the SOURCE root;
        clone with a plain config and rebuild on the clone."""
        cfg = self.config
        if cfg.record_index or cfg.secondary_index or cfg.cdc_images:
            raise ValueError(
                f"{cfg.name}: shallow clone of index/CDC-image tables "
                "is unsupported — their metadata trees live under the "
                "source root; clone with a plain config and rebuild"
            )
        src = self._commit_at(version)
        if src is None:
            raise ValueError(f"{cfg.name}: nothing to clone — empty table")
        if src.dv:
            raise ValueError(
                f"{cfg.name}: snapshot v{src.version} has active "
                "deletion vectors — cluster() first (it materializes "
                "the deletes), then clone"
            )

        def _abs(d: str) -> str:
            return d if _is_external(d) else str(self.root / d)

        clone = CuratedTable(self.spark, dest_root, cfg,
                             lock_provider=self.lock_provider)
        commit = Commit(
            version=1,
            operation="clone",
            data={k: _abs(d) for k, d in src.data.items()},
            deltas=[_abs(d) for d in src.deltas],
            checkpoint=dict(src.checkpoint),
            parent=None,
            changelog=[],
            key_bounds=src.key_bounds,
            col_stats=(
                {_abs(d): dict(s) for d, s in src.col_stats.items()}
                if src.col_stats else None
            ),
            schema=src.schema,
            dir_schemas=None if src.dir_schemas is None else {
                _abs(g): t for g, t in src.dir_schemas.items()},
        )
        clone._write_commit(commit)
        return clone

    def merge_into(
        self,
        source: DataFrame,
        *,
        when_matched_update: dict[str, str] | None = None,
        when_matched_update_condition: str | None = None,
        when_matched_delete_condition: str | None = None,
        when_not_matched_insert: bool | str = False,
        checkpoint: dict[str, Any] | None = None,
    ) -> Commit | None:
        """Conditional three-way merge (Spark SQL / Delta / Hudi
        ``MERGE INTO`` analog), compiled onto the keyed upsert path.

        ON is fixed to record-key equality — the keyed-table contract
        (the reference's merge is always key-routed: ``handler.py:67``
        record_key + ``:68`` precombine). Clause semantics follow
        Delta's evaluation order: per matched source row, the DELETE
        condition is tested first, then the UPDATE condition; a matched
        row satisfying neither is a no-op (the stored row survives).
        Unmatched source rows insert when ``when_not_matched_insert``
        is True (or a condition string). SET expressions and conditions
        reference the source as ``s.<col>`` and the target as
        ``t.<col>``; SET keeps unmentioned columns at their target
        values and may not touch record-key columns.

        The source must carry the table's ordering column with values
        that beat the stored rows' (CDC batches do by construction) —
        the compiled change batch flows through :meth:`upsert`, so the
        precombine winner rule is what applies it.

        Cost/scale shape: ONE key equi-join of the source against the
        current snapshot compiles the change batch (at 100 TB this join
        is the standard merge cost; the applying upsert then prunes to
        touched partitions exactly as any CDC batch does). No driver
        state; every clause is a column expression."""
        from aws_dms_to_hudi_spark.operators.merge import DELETED_COL

        cfg = self.config
        kcols = list(cfg.record_key)
        ocol = cfg.source_ordering_field
        if ocol not in source.columns:
            raise ValueError(
                f"{cfg.name}: merge_into source must carry the ordering "
                f"column {ocol!r}"
            )
        if when_matched_update:
            bad = [c for c in when_matched_update if c in kcols]
            if bad:
                raise ValueError(
                    f"{cfg.name}: MERGE may not SET record-key "
                    f"column(s) {bad} — delete+insert instead"
                )
        cur = self.read()
        s = source.alias("s")
        parts: list[DataFrame] = []
        if cur is None:
            unmatched = source
            data_cols = [c for c in source.columns if c != DELETED_COL]
        else:
            data_cols = [c for c in cur.columns if c != DELETED_COL]
            t = cur.alias("t")
            j = s.join(
                t,
                on=[F.col(f"s.{k}") == F.col(f"t.{k}") for k in kcols],
                how="left",
            )
            matched = j.filter(F.col(f"t.{kcols[0]}").isNotNull())
            unmatched = j.filter(F.col(f"t.{kcols[0]}").isNull()).select(
                "s.*"
            )
            if when_matched_delete_condition:
                dcond = F.expr(when_matched_delete_condition)
                tomb = matched.filter(dcond).select(
                    *[
                        F.col(f"s.{ocol}").alias(c) if c == ocol
                        else F.col(f"t.{c}").alias(c)
                        for c in data_cols
                    ]
                ).withColumn(DELETED_COL, F.lit(True))
                parts.append(tomb)
                # DELETE wins over UPDATE for rows matching both
                matched = matched.filter(
                    ~F.coalesce(dcond, F.lit(False))
                )
            if when_matched_update:
                u = matched
                if when_matched_update_condition:
                    u = u.filter(F.expr(when_matched_update_condition))
                sel = []
                for c in data_cols:
                    if c == ocol:
                        sel.append(F.col(f"s.{ocol}").alias(c))
                    elif c in when_matched_update:
                        sel.append(
                            F.expr(when_matched_update[c]).alias(c)
                        )
                    else:
                        sel.append(F.col(f"t.{c}").alias(c))
                parts.append(
                    u.select(*sel).withColumn(DELETED_COL, F.lit(False))
                )
        if when_not_matched_insert:
            ins = unmatched
            if isinstance(when_not_matched_insert, str):
                # condition over source columns (no target side exists)
                ins = ins.alias("s").filter(
                    F.expr(when_not_matched_insert)
                )
            missing = [c for c in data_cols if c not in ins.columns]
            if missing:
                raise ValueError(
                    f"{cfg.name}: MERGE insert source lacks target "
                    f"column(s) {missing}"
                )
            parts.append(
                ins.select(*data_cols).withColumn(DELETED_COL,
                                                  F.lit(False))
            )
        if not parts:
            return None
        batch = parts[0]
        for p in parts[1:]:
            batch = batch.unionByName(p)
        if batch.isEmpty():
            # clauses declared but no row satisfied any of them: a
            # no-op merge writes no commit (Delta's no-actions skip)
            return None
        return self.upsert(batch, checkpoint)

    def upsert(
        self, batch: DataFrame, checkpoint: dict[str, Any] | None = None
    ) -> Commit:
        """Merge one CDC batch (D4+D5+D6) into a new table version.

        COW: partition-pruned rewrite — only the partitions present in
        the batch are read, merged on (layout value, record key) and
        rewritten; the rest carry forward by reference. An unpartitioned
        table is the one-partition case: its one partition ``""`` is
        always touched, and the merge key is the record key.
        MOR: append a precombined delta dir; merge happens at read/compact.
        """
        cfg = self.config
        prev = self.latest_commit()
        self._check_spec(prev)
        if prev is None:
            return self.bulk_insert(batch, checkpoint)
        version = self._next_version(prev)

        if cfg.table_type == MERGE_ON_READ:
            return self._append_delta(batch, version, prev, checkpoint)

        vdir = f"v{version:08d}"
        cldir = f"{vdir}_changelog"
        batch, touched, cl_schema = self._write_changelog(
            self._stamp_lineage(batch, version), cldir, prev
        )
        cdcdir = f"{vdir}_cdcbefore" if cfg.cdc_images else None
        fresh, written = self._merge_touched(prev, batch, touched, vdir,
                                             cdcdir)
        new_data = _overlay(prev.data, touched, fresh)
        commit = self._recorded(Commit(
            version=version,
            operation="upsert",
            data=new_data,
            checkpoint=checkpoint or {},
            parent=prev.version,
            changelog=[cldir],
            key_bounds=self._commit_key_bounds(prev),
            col_stats=self._assemble_stats(prev, new_data, vdir,
                                           written[vdir]),
            cdc_dir=cdcdir,
            dv=list(prev.dv),
            schema=written[vdir],
        ), prev, {cldir: cl_schema, **written})
        self._update_record_index(batch)
        self._update_secondary_index(batch)
        self._write_commit(commit)
        return commit

    def _write_changelog(
        self, batch: DataFrame, cldir: str, prev: Commit
    ) -> tuple[DataFrame, list[str], str]:
        """Write the precombined change set (Hudi CDC analog; it feeds
        incremental reads) and read it back with the schema just written,
        which keeps the merge plan small. Also returns the data-map keys
        the batch touches — the partition keys the write observed, or
        ``[""]``, the one partition of an unpartitioned table — and the
        changelog's schema JSON."""
        cfg = self.config
        pcol = self._pcol
        out = precombine(batch, cfg.record_key, cfg.source_ordering_field)
        if pcol is not None:
            # collect_set drops NULLs, hence the flag. Keep the observed
            # node in the write's final stage: AQE drops one inside a stage
            # it replaces by an empty relation, and no metrics arrive.
            obs = Observation()
            v = self._layout_expr(out, prev)
            out = out.observe(obs, F.collect_set(v).alias("values"),
                              F.bool_or(v.isNull()).alias("has_null"))
        out.write.mode("overwrite").parquet(str(self.root / cldir))
        schema = _written_schema(out)
        back = self._read_dirs({cldir: schema})
        if pcol is None:
            return back, [""], schema
        m = obs.get
        values = [*m["values"], *([None] if m["has_null"] else [])]
        return (self._bucketize(back, prev), [_pdir(pcol, v) for v in values],
                schema)

    def _merge_touched(
        self,
        prev: Commit,
        batch: DataFrame,
        touched: list[str],
        vdir: str,
        cdcdir: str | None = None,
    ) -> tuple[dict[str, str], dict[str, str]]:
        """Merge ``batch`` into the ``touched`` partitions' rows, write them
        under ``vdir``; returns (partition dirs written, schema JSON of each
        dir group written: ``vdir`` and the CDC before-image dir).
        The merge key is (layout value, record key) — Hudi's non-global
        index — so the layout's range exchange also serves the winner
        window: one exchange, and one sort that orders the files too. An
        unpartitioned table merges its one partition on the record key;
        the window's own exchange serves it."""
        cfg = self.config
        keys = list(cfg.record_key)
        mkey = [self._pcol, *keys] if self._pcol else keys
        existing = self._read_dirs(prev.schemas_of(
            prev.data[k] for k in touched if k in prev.data))
        # deleted rows must not re-merge back from the old dir
        existing = self._apply_dv(prev, existing)
        written = {}
        if cdcdir:
            written[cdcdir] = self._write_cdc_before(existing, batch, cdcdir,
                                                     mkey)
        merged = _pick_winners(
            self._layout_exchange(_union_tagged(existing, batch), keys),
            mkey,
            cfg.source_ordering_field,
        )
        fresh, written[vdir] = self._write_snapshot(merged, vdir, keys)
        return fresh, written

    # ---------- deletion vectors (Delta Lake DV analog) ----------

    def _dv_key_cond(self, rows, dvd):
        cond = rows["_cur_rel"] == dvd["_dv_rel"]
        for k in self.config.record_key:
            cond = cond & (rows[k] == dvd[k])
        return cond

    def _dir_map_df(self, commit: Commit):
        return self.spark.createDataFrame(
            [(k, rel) for k, rel in commit.data.items()],
            f"{DIR_KEY_COL} string, _cur_rel string",
        )

    def _dir_key_expr(self):
        """Each row's data-map key, ``_pdir`` as a column expression."""
        pcol = self._pcol
        if pcol is None:
            return F.lit("")
        v = F.nullif(F.col(pcol).cast("string"), F.lit(""))
        return F.concat(F.lit(f"{pcol}="),
                        F.coalesce(v, F.lit(NULL_PARTITION)))

    def _apply_dv(self, commit: Commit, df: DataFrame | None):
        """Anti-join a snapshot against the commit's active deletion
        vectors. An entry kills a key only while the manifest still maps
        the key's partition to exactly the dir the entry targeted
        (``_dv_rel``) — a rewritten dir has a new rel path, so stale
        entries are inert and a re-inserted key resurrects. Cost: one
        anti-join keyed (record key, rel dir), O(deleted keys) build
        side; the dir mapping is a broadcast of the manifest."""
        if df is None or not commit.dv:
            return df
        dvd = self._read_dirs(commit.schemas_of(commit.dv))
        rows = df.withColumn(DIR_KEY_COL, self._dir_key_expr()).join(
            F.broadcast(self._dir_map_df(commit)), DIR_KEY_COL
        )
        return rows.join(
            dvd,
            self._dv_key_cond(rows, dvd),
            "left_anti",
        ).drop(DIR_KEY_COL, "_cur_rel")

    def delete_keys(
        self, keys: DataFrame, checkpoint: dict[str, Any] | None = None
    ) -> Commit:
        """Row-level delete WITHOUT rewriting data files (Delta Lake
        deletion-vector analog; contrast :meth:`delete_where`, the
        rewrite-path delete): persists an O(deleted keys) sidecar of
        (record key, targeted data dir) pairs and a manifest whose
        ``data`` map is UNCHANGED — readers anti-join the sidecar.
        The targeted dir is resolved through the live snapshot, so
        entries self-invalidate when any later write rewrites the dir
        (the re-inserted key resurrects with the new row, exactly the
        Delta semantics). Clustering materializes outstanding deletes
        and clears the vectors.

        Emits NO changelog (like restore): downstream incremental
        consumers don't see DV deletes — pipelines that feed IVM or CDC
        readers should use :meth:`delete_where`, which pays the rewrite
        and emits real retractions. Cost at 100 TB: one snapshot
        semi-join (partition-pruned by the keys' dirs via the final
        join) + an O(deleted) sidecar write; zero row-file rewrite."""
        cfg = self.config
        if not cfg.deletion_vectors:
            raise ValueError(f"{cfg.name}: deletion_vectors not enabled")
        prev = self.latest_commit()
        self._check_spec(prev)
        if prev is None:
            raise ValueError(f"{cfg.name}: nothing committed yet")
        version = self._next_version(prev)
        dvdir = f"v{version:08d}_dv"
        kcols = list(cfg.record_key)
        snap = self._apply_dv(prev, self._read_dirs(  # no dup deletes
            prev.schemas_of(prev.data.values()), prev.schema))
        doomed = (
            snap.join(
                F.broadcast(keys.select(*kcols).distinct()), kcols, "left_semi"
            )
            .withColumn(DIR_KEY_COL, self._dir_key_expr())
            .join(F.broadcast(self._dir_map_df(prev)), DIR_KEY_COL)
            .select(*kcols, F.col("_cur_rel").alias("_dv_rel"))
            .distinct()
        )
        doomed.write.mode("overwrite").parquet(str(self.root / dvdir))
        commit = self._recorded(Commit(
            version=version,
            operation="delete_vector",
            data=dict(prev.data),
            deltas=list(prev.deltas),
            checkpoint=checkpoint or dict(prev.checkpoint),
            parent=prev.version,
            changelog=[],
            key_bounds=self._commit_key_bounds(prev),
            col_stats=prev.col_stats,
            dv=[*prev.dv, dvdir],
        ), prev, {dvdir: _written_schema(doomed)})
        self._write_commit(commit)
        return commit

    def delete_where(
        self, predicate: str, checkpoint: dict[str, Any] | None = None
    ) -> Commit:
        """Predicate delete (Hudi ``DELETE FROM`` / GDPR-retention
        analog): synthesize a tombstone batch from the current
        snapshot's rows matching ``predicate`` and run it through the
        regular upsert path — versioning, per-commit changelog
        (downstream IVM sees real retractions), partition/bucket
        pruning, and MOR deltas all apply exactly as for any CDC batch.

        No ordering bump is needed: :func:`~.operators.merge.
        upsert_merge` breaks ordering ties in favor of the INCOMING
        row, so a tombstone carrying the row's existing ordering value
        wins deterministically.

        Scale: the doomed set comes from one predicate-pruned snapshot
        scan (filters push down to parquet); the rewrite then touches
        only the partitions/buckets containing matches — retention
        sweeps over a date-partitioned table rewrite the expiring
        partitions, nothing else."""
        from aws_dms_to_hudi_spark.operators.merge import DELETED_COL

        cur = self.read(include_lineage=True)  # survivors keep stamps
        if cur is None:
            raise ValueError(f"{self.config.name}: nothing to delete from")
        doomed = cur.filter(predicate)
        return self.upsert(
            doomed.withColumn(DELETED_COL, F.lit(True)), checkpoint
        )

    def insert_overwrite(
        self, batch: DataFrame, checkpoint: dict[str, Any] | None = None
    ) -> Commit:
        """Hudi ``insert_overwrite`` (replacecommit analog): REPLACE the
        partitions present in ``batch`` with exactly the batch's rows —
        stored rows in touched partitions disappear even if the batch
        doesn't carry their keys (the backfill/restatement operation;
        ``upsert`` can only add or win). Untouched partitions carry
        forward by reference. On a non-partitioned/bucketed table this
        degrades to ``insert_overwrite_table`` (full replacement), as
        in Hudi.

        The engine pipeline whitelist deliberately does NOT expose this
        (the reference's config compiler raises "not yet supported" for
        any op beyond bulk_insert/delta — ``handler.py`` parity, pinned
        by ``test_engine_e2e``); it is a storage-level capability, like
        Hudi's own write operations beyond what a given deltastreamer
        deployment uses.

        MOR: table-wide delta dirs cannot be partially invalidated, so
        the table compacts first (folding deltas into the base) and the
        overwrite lands on the compacted snapshot — same visible state,
        cost = one compaction brought forward."""
        prev = self.latest_commit()
        self._check_spec(prev)
        if prev is None:
            return self.bulk_insert(batch, checkpoint)
        if prev.deltas:
            prev = self.compact() or prev
        version = self._next_version(prev)
        vdir = f"v{version:08d}"
        cfg = self.config
        batch = self._stamp_lineage(batch, version)
        batch = precombine(batch, cfg.record_key, cfg.source_ordering_field)
        batch = self._bucketize(batch, prev)
        pcol = self._pcol
        # touched = partitions the batch DECLARES — computed BEFORE delete
        # application, so a partition arriving as pure tombstones still
        # replaces (to empty) instead of silently carrying the old rows
        # forward (mirrors the upsert rule). Unpartitioned: the one
        # partition "", so the overlay is the full replacement.
        touched = [""] if pcol is None else [
            _pdir(pcol, r[0]) for r in batch.select(pcol).distinct().collect()
        ]
        batch = apply_deletes(batch)
        keys = list(cfg.record_key)
        fresh, schema = self._write_snapshot(
            self._layout_exchange(batch, keys), vdir, keys)
        new_data = _overlay(prev.data, touched, fresh)
        self._update_record_index(batch)
        self._update_secondary_index(batch)
        commit = self._recorded(Commit(
            version=version,
            operation="insert_overwrite",
            data=new_data,
            checkpoint=checkpoint or {},
            parent=prev.version,
            changelog=list(fresh.values()),
            key_bounds=self._commit_key_bounds(prev),
            col_stats=self._assemble_stats(prev, new_data, vdir, schema),
            dv=list(prev.dv),
            schema=schema,
        ), prev, {vdir: schema})
        self._write_commit(commit)
        return commit

    def patch_upsert(
        self, batch: DataFrame, checkpoint: dict[str, Any] | None = None
    ) -> Commit:
        """Partial-update upsert (Hudi's partial-payload analog, e.g.
        ``OverwriteNonDefaultsWithLatestAvroPayload``): ``batch`` rows
        carry the record key, the envelope, and ONLY the columns they
        set (everything else NULL). Unset columns keep their stored
        value; stacked same-key patches within a batch apply in
        ordering-field order per column; a patch to an absent key
        inserts its payload as-is.

        Shape: resolve patches to full rows via ONE equi-join of the
        (batch-sized) patch set against the current state, then
        delegate to the ordinary :meth:`upsert` — versioning,
        changelogs, partition/bucket pruning, schema evolution and MOR
        deltas all apply unchanged. The resolve join reads the full
        snapshot here; key-range/bucket configs prune it at plan time
        via the parquet scan's key filters, and a 100 TB deployment
        would pre-filter the stored side to the batch's key ranges the
        same way upsert does."""
        from aws_dms_to_hudi_spark.operators.merge import apply_patches

        full = apply_patches(
            self.read(),
            batch,
            list(self.config.record_key),
            self.config.source_ordering_field,
        )
        return self.upsert(full, checkpoint)

    def _append_delta(
        self,
        batch: DataFrame,
        version: int,
        prev: Commit,
        checkpoint: dict[str, Any] | None,
    ) -> Commit:
        """MOR write path (D12 counterpart): cheap append of a delta log."""
        cfg = self.config
        ddir = f"v{version:08d}_delta"
        batch = self._stamp_lineage(batch, version)
        deduped = precombine(batch, cfg.record_key, cfg.source_ordering_field)
        deduped.write.mode("overwrite").parquet(str(self.root / ddir))
        # index entries map to the key's (eventual, post-compaction) dir
        # key, which the layout column determines — so compaction/
        # clustering never invalidate them
        self._update_record_index(self._bucketize(deduped, prev))
        self._update_secondary_index(self._bucketize(deduped, prev))
        commit = self._recorded(Commit(
            version=version,
            operation="delta_commit",
            data=dict(prev.data),
            deltas=[*prev.deltas, ddir],
            checkpoint=checkpoint or {},
            parent=prev.version,
            # the delta log is already the precombined change set; reuse it
            changelog=[ddir],
            key_bounds=self._commit_key_bounds(prev),
            # base dirs unchanged; deltas carry no stats (pruning is
            # disabled while deltas are outstanding anyway)
            col_stats=prev.col_stats,
        ), prev, {ddir: _written_schema(deduped)})
        self._write_commit(commit)
        return commit

    # ---------- table services ----------

    def compact(self) -> Commit | None:
        """MOR inline compaction (D12): fold deltas into a new base snapshot."""
        prev = self.latest_commit()
        self._check_spec(prev)
        if prev is None or not prev.deltas:
            return None
        merged = self.read(include_lineage=True)  # drops any bucket col; lineage kept
        version = self._next_version(prev)
        vdir = f"v{version:08d}"
        keys = list(self.config.record_key)
        data, schema = self._write_snapshot(
            self._layout_exchange(self._bucketize(merged, prev), keys), vdir,
            keys)
        commit = self._recorded(Commit(
            version=version,
            operation="compaction",
            data=data,
            deltas=[],
            checkpoint=prev.checkpoint,
            parent=prev.version,
            key_bounds=self._commit_key_bounds(prev),
            col_stats=self._assemble_stats(prev, data, vdir, schema),
            schema=schema,
        ), prev, {vdir: schema})
        self._write_commit(commit)
        return commit

    def clean(self, retained_commits: int = 5) -> list[str]:
        """Version GC (D13, ``cleaner.commits.retained=5`` handler.py:90-91).

        Deletes data dirs referenced ONLY by commits older than the newest
        ``retained_commits``. Manifests stay (archival trims them).
        """
        commits = self.commits()
        if len(commits) <= retained_commits:
            return []
        live, old = commits[-retained_commits:], commits[:-retained_commits]
        live_dirs = {_version_of(d) for c in live for d in c.dirs()}
        removed = []
        for c in old:
            # cdc before-image dirs age out with their commits too —
            # otherwise *_cdcbefore dirs grow without bound
            for d in c.dirs():
                if _is_external(d):
                    # bootstrap source dirs: referenced, never owned —
                    # deleting one would destroy the user's source lake
                    # (and _version_of("") would resolve to the table
                    # root itself)
                    continue
                ver = _version_of(d)
                target = self.root / ver
                if ver not in live_dirs and target.exists():
                    shutil.rmtree(target)
                    removed.append(ver)
        # bloom filters of GC'd dirs are orphans — each file records its
        # dir path, so the sweep is O(filters), no hash inversion needed
        bdir = self.root / BLOOM_DIR
        if self.config.bloom_index and bdir.exists():
            for bf in bdir.glob("*.json"):
                try:
                    rel = json.loads(bf.read_text()).get("rel", "")
                except (OSError, ValueError):
                    continue
                if rel and not (self.root / rel).exists():
                    bf.unlink(missing_ok=True)
        return removed

    def archive(self, keep_min: int = 10, keep_max: int = 15) -> int:
        """Timeline trim (D14, ``keep.min/max.commits`` handler.py:92-93).

        When the active timeline exceeds ``keep_max`` commits, move the
        oldest entries into ``_archived.json`` until ``keep_min`` remain.
        """
        cdir = self.root / COMMITS_DIR
        files = sorted(cdir.glob("[0-9]*.json"))
        if len(files) <= keep_max:
            return 0
        to_archive = files[: len(files) - keep_min]
        apath = cdir / ARCHIVE_FILE
        archived = json.loads(apath.read_text()) if apath.exists() else []
        for p in to_archive:
            archived.append(json.loads(p.read_text()))
            p.unlink()
        apath.write_text(json.dumps(archived))
        return len(to_archive)

    def cluster(
        self,
        target_partitions: int | None = None,
        zorder_by: list[str] | None = None,
        hilbert_by: list[str] | None = None,
    ) -> Commit | None:
        """Clustering rewrite (D15, ``clustering.inline`` handler.py:73,81).

        Rewrites the current snapshot coalesced + key-sorted to fix small
        files from frequent delta commits. At 100 TB this is the service
        that keeps scan parallelism aligned with file sizes.

        ``zorder_by`` orders files by an interleaved-bit (Morton) key
        over the named columns instead of the record key — the
        Delta/Hudi Z-ORDER analog. A range predicate on ANY z-ordered
        column then touches O(files^(1/d)) of the files (min/max file
        stats prune the rest), where linear sort helps only its leading
        column. ``hilbert_by`` (exactly 2 columns, mutually exclusive)
        sorts by the Hilbert curve instead — strictly tighter locality
        than Morton (no quadrant-boundary jumps), the Databricks
        liquid-clustering layout. Bucketization is equal-width over the
        observed min/max (one tiny agg job); all per-row math is JVM
        bit ops.
        """
        if zorder_by and hilbert_by:
            raise ValueError("zorder_by and hilbert_by are exclusive")
        prev = self.latest_commit()
        if prev is None:
            return None
        self._check_spec(prev)
        df = self.read(include_lineage=True)  # drops any bucket col; lineage kept
        version = self._next_version(prev)
        vdir = f"v{version:08d}"
        if zorder_by:
            df = df.withColumn(ZORDER_COL, self._zorder_key(df, zorder_by))
        elif hilbert_by:
            df = self._with_hilbert_key(df, hilbert_by, ZORDER_COL)
        sort_cols = ([ZORDER_COL] if zorder_by or hilbert_by
                     else list(self.config.record_key))
        if self._pcol is not None:
            df = self._layout_exchange(self._bucketize(df, prev), sort_cols)
        else:
            n = target_partitions or max(
                1, self.spark.sparkContext.defaultParallelism // 4
            )
            df = df.repartitionByRange(n, *sort_cols)
        data, schema = self._write_snapshot(df, vdir, sort_cols)
        commit = self._recorded(Commit(
            version=version,
            operation="clustering",
            data=data,
            deltas=list(prev.deltas),
            checkpoint=prev.checkpoint,
            parent=prev.version,
            key_bounds=self._commit_key_bounds(prev),
            col_stats=self._assemble_stats(prev, data, vdir, schema),
            schema=schema,
        ), prev, {vdir: schema})
        self._write_commit(commit)
        return commit

    def vacuum(self, dry_run: bool = True) -> list[str]:
        """Orphan-file cleanup (Delta VACUUM / Hudi rollback-of-failed-
        writes analog): list (and with ``dry_run=False`` delete) top-level
        data dirs referenced by NO commit on the timeline — crash
        leftovers from a writer that died between data write and manifest
        rename, and staged WAP/OCC writes that were never published or
        aborted. Metadata trees (``_commits``, ``_index``, quarantine)
        are never touched.

        Coordination contract (same as Delta's retention caveat): run
        only when no writer is mid-stage — an in-flight prepare_upsert's
        dirs are indistinguishable from a crashed one's. The referenced
        set comes from the retained manifests plus the archive, so a
        cleaned-then-archived timeline never misclassifies."""
        commits = list(self.commits())
        apath = self.root / COMMITS_DIR / ARCHIVE_FILE
        if apath.exists():
            commits += [Commit.from_json(json.dumps(d))
                        for d in json.loads(apath.read_text())]
        referenced = {_version_of(d) for c in commits for d in c.dirs()}
        orphans = []
        for child in sorted(self.root.iterdir()):
            if not child.is_dir() or child.name.startswith("_"):
                continue
            if child.name not in referenced:
                orphans.append(child.name)
        if not dry_run:
            for name in orphans:
                shutil.rmtree(self.root / name)
        return orphans

    def restore(self, version: int) -> Commit:
        """Rollback/restore (Hudi ``savepoint``+``restore`` analog): make
        an earlier commit's state current again.

        Implemented as a NEW commit whose manifest points at the old
        commit's data dirs — nothing is rewritten or deleted, the timeline
        stays append-only (an operator can restore a bad restore), and
        versions newer than the target remain readable until cleaned.
        The checkpoint is rolled back with the data so the next
        incremental run re-consumes the undone source files. As in Hudi,
        a restore does not emit a changelog — downstream incremental
        consumers positioned past the target must full-refresh.

        Tables with a record-level index rebuild it from the restored
        snapshot: the live index reflects post-target writes (a key
        deleted after the target carries a tombstone that would make
        point_lookup miss a key the restore brought back to life — a
        false negative the final semi-join cannot repair). A rebuild is
        one O(table) index bulk-load — the same cost class as the
        restore-triggered full refresh downstream consumers already pay.
        """
        target = self._commit_at(version)
        if target is None:
            raise ValueError(f"version {version} not on timeline")
        prev = self.latest_commit()
        commit = self._recorded(Commit(
            version=self._next_version(prev),
            operation="restore",
            data=dict(target.data),
            deltas=list(target.deltas),
            checkpoint=dict(target.checkpoint),
            parent=prev.version if prev else None,
            changelog=[],
            key_bounds=self._commit_key_bounds(prev),
            col_stats=target.col_stats,
            dv=list(target.dv),
        ), target, {})
        self._write_commit(commit)
        if self.config.record_index:
            self._rebuild_record_index(self.read(version=commit.version))
        if self.config.secondary_index:
            # independent of the RLI rebuild: a rebuild_secondary_index
            # compaction may have dropped entries for pairs that the
            # restore target still holds (value changed after the
            # target, compacted away before the restore) — rebuilding
            # from the restored snapshot restores the never-miss
            # invariant.
            self.rebuild_secondary_index()
        return commit

    # ---------- helpers ----------

    _ZORDER_BITS = 8  # 256 buckets per dimension

    def _dim_buckets(self, df: DataFrame, cols: list[str]) -> list:
        """Per-dimension equal-width bucket columns in [0, 2^_ZORDER_BITS)
        — the shared front half of the space-filling-curve keys.

        Non-numeric dimensions get a numeric surrogate first:
        timestamps/dates -> epoch seconds (order-preserving), anything
        else -> a 64-bit hash (no order, but files still cover value
        clusters, which is what the stat pruning needs). Buckets are
        equal-width over the observed min/max (one small agg job, the
        only non-per-row work); equal-width (not quantile) keeps the
        mapping a pure expression — heavy skew makes buckets uneven but
        never incorrect, parquet min/max stats still prune, just less
        sharply."""
        bits = self._ZORDER_BITS
        nb = 1 << bits
        dtypes = dict(df.dtypes)
        nums: dict[str, "Column"] = {}
        for c in cols:
            t = dtypes[c]
            if t in ("timestamp", "timestamp_ntz", "date"):
                nums[c] = F.unix_timestamp(F.col(c)).cast("double")
            elif t in ("string", "binary", "boolean"):
                nums[c] = F.xxhash64(F.col(c)).cast("double")
            else:
                nums[c] = F.col(c).cast("double")
        stats = df.agg(
            *[F.min(nums[c]).alias(f"mn_{c}") for c in cols],
            *[F.max(nums[c]).alias(f"mx_{c}") for c in cols],
        ).collect()[0]
        out = []
        for c in cols:
            mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
            if mn is None:  # no rows, or all NULL: an empty range
                mn = mx = 0.0
            span = (mx - mn) or 1.0
            out.append(
                F.least(
                    F.lit(nb - 1),
                    F.floor((nums[c] - F.lit(mn)) / span * nb),
                ).cast("long")
            )
        return out

    def _zorder_key(self, df: DataFrame, cols: list[str]):
        """Interleaved-bit (Morton) key over numeric columns: bucket
        bits are interleaved so files cover hyper-rectangles of the
        value space (buckets from :meth:`_dim_buckets`)."""
        bits = self._ZORDER_BITS
        key = F.lit(0).cast("long")
        for i, bucket in enumerate(self._dim_buckets(df, cols)):
            for b in range(bits):
                key = key + F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(1), b * len(cols) + i
                )
        return key

    def _with_hilbert_key(
        self, df: DataFrame, cols: list[str], zcol: str
    ) -> DataFrame:
        """Append a Hilbert-curve key over exactly TWO dimensions (the
        layout of Databricks liquid clustering / the stricter-locality
        alternative to Z-ORDER): consecutive curve positions are always
        adjacent cells — Morton order takes long diagonal jumps at
        quadrant boundaries, so a Hilbert-sorted file covers a tighter
        value-space rectangle and range scans prune at least as well on
        both dimensions.

        Implementation: the classic xy2d bit transform is NOT unrolled
        into Column expressions — the per-level reflect+swap references
        both running coordinates in three branches, so the expression
        tree grows ~3^bits and stalls Catalyst analysis (measured: a
        256×256 grid never finished planning). Instead the full
        2^bits × 2^bits cell→position mapping is computed VECTORIZED on
        the driver (numpy, eight array passes, ~65k rows ≈ 1 MB) and
        broadcast-joined on the bucket pair — constant size at any
        corpus scale, and the obvious production shape for a pure
        function of a small domain. Same equal-width bucketization as
        Z-order (:meth:`_dim_buckets`)."""
        if len(cols) != 2:
            raise ValueError(
                "hilbert_by requires exactly 2 columns (2-D curve); "
                "use zorder_by for other dimensionalities"
            )
        import numpy as np

        bits = self._ZORDER_BITS
        n = 1 << bits
        gx, gy = np.meshgrid(
            np.arange(n, dtype=np.int64),
            np.arange(n, dtype=np.int64),
            indexing="ij",
        )
        gx, gy = gx.ravel(), gy.ravel()
        x, y = gx.copy(), gy.copy()
        d = np.zeros_like(x)
        s = n // 2
        while s > 0:
            rx = ((x & s) > 0).astype(np.int64)
            ry = ((y & s) > 0).astype(np.int64)
            d += s * s * ((3 * rx) ^ ry)
            flip = (ry == 0) & (rx == 1)
            x2 = np.where(flip, n - 1 - x, x)
            y2 = np.where(flip, n - 1 - y, y)
            x, y = np.where(ry == 0, y2, x2), np.where(ry == 0, x2, y2)
            s //= 2
        lut = self.spark.createDataFrame(
            zip(gx.tolist(), gy.tolist(), d.tolist()),
            "__hx long, __hy long, __hd long",
        )
        bx, by = self._dim_buckets(df, cols)
        return (
            df.withColumn("__hx", bx)
            .withColumn("__hy", by)
            .join(F.broadcast(lut), ["__hx", "__hy"])
            .withColumn(zcol, F.col("__hd"))
            .drop("__hx", "__hy", "__hd")
        )

    # ---------- optimistic concurrency control (Hudi OCC analog) ----------

    def prepare_upsert(self, batch: DataFrame) -> "StagedCommit":
        """Phase 1 of a multi-writer upsert (Hudi OPTIMISTIC_CONCURRENCY
        _CONTROL analog): merge and write data dirs WITHOUT taking the
        table forward — all the heavy work happens un-serialized, from
        the writer's own snapshot. Data dirs carry a unique writer token
        so concurrent writers never collide on paths; only
        :meth:`commit_staged` (metadata-only, under a short lock)
        serializes.

        Scope: COW, layout-partitioned tables (partition/bucket/range —
        the layout column is what makes touched-set conflict detection
        meaningful). Tables with record_index/cdc_images must use the
        serial path: those side artifacts are themselves writes that
        would need their own OCC."""
        import uuid

        cfg = self.config
        if cfg.table_type == MERGE_ON_READ:
            raise ValueError(f"{cfg.name}: OCC path is COW-only")
        if (cfg.record_index or cfg.cdc_images or cfg.deletion_vectors
                or cfg.row_lineage):
            raise ValueError(
                f"{cfg.name}: OCC path excludes record_index/cdc_images/"
                "deletion_vectors/row_lineage tables (index/vector "
                "writes would race, and the lineage stamp needs the "
                "commit version, which is unknown until commit_staged "
                "serializes — staging would write NULL stamps)"
            )
        pcol = self._pcol
        if pcol is None:
            raise ValueError(
                f"{cfg.name}: OCC needs a layout column (partition/"
                "bucket/range) — unpartitioned writers always conflict"
            )
        prev = self.latest_commit()
        self._check_spec(prev)
        if prev is None:
            raise ValueError(f"{cfg.name}: bulk_insert first")
        token = uuid.uuid4().hex[:8]
        vtoken = f"v{prev.version + 1:08d}w{token}"
        cldir = f"{vtoken}_changelog"
        batch, touched, cl_schema = self._write_changelog(batch, cldir, prev)
        fresh, written = self._merge_touched(prev, batch, touched, vtoken)
        stats = self._assemble_stats(None, fresh, vtoken, written[vtoken])
        return StagedCommit(
            parent_version=prev.version,
            touched=touched,
            fresh=fresh,
            changelog=[cldir],
            schema=written[vtoken],
            dir_schemas={cldir: cl_schema, **written},
            col_stats=stats,
        )

    def commit_staged(
        self, staged: "StagedCommit", checkpoint: dict[str, Any] | None = None
    ) -> Commit:
        """Phase 2: serialize the staged write onto the timeline under a
        short filesystem lock (metadata-only — no data moves here).

        Conflict rule (Hudi's SimpleConcurrentFileWritesConflictResolution
        analog, at this engine's file-group = partition-dir granularity):
        if commits landed after the writer's snapshot, compute the set of
        partition keys THEY changed; overlap with this writer's touched
        set raises :class:`ConcurrentWriteConflict` (the merge was
        computed against stale base files — caller re-prepares). Disjoint
        sets REBASE: the staged dirs overlay the latest manifest, so both
        writers' work lands, serially numbered."""
        with self._occ_lock():
            latest = self.latest_commit()
            if latest.version != staged.parent_version:
                base = self._commit_at(staged.parent_version)
                changed = {
                    k
                    for k in set(latest.data) | set(base.data)
                    if latest.data.get(k) != base.data.get(k)
                }
                overlap = changed & set(staged.touched)
                if overlap:
                    raise ConcurrentWriteConflict(
                        f"{self.config.name}: partitions {sorted(overlap)} "
                        f"changed by commits "
                        f"{staged.parent_version + 1}..{latest.version} "
                        "after this writer's snapshot; re-prepare"
                    )
            new_data = _overlay(latest.data, staged.touched, staged.fresh)
            col_stats = None
            if self.config.stats_columns:
                col_stats = dict(staged.col_stats or {})
                lstats = latest.col_stats or {}
                for rel in new_data.values():
                    if rel not in col_stats and rel in lstats:
                        col_stats[rel] = lstats[rel]
            commit = self._recorded(Commit(
                version=latest.version + 1,
                operation="upsert",
                data=new_data,
                checkpoint=checkpoint or {},
                parent=latest.version,
                changelog=list(staged.changelog),
                key_bounds=self._commit_key_bounds(latest),
                col_stats=col_stats,
                schema=staged.schema,
            ), latest, staged.dir_schemas)
            self._write_commit(commit, _locked=True)
            return commit

    def read_staged(self, staged: "StagedCommit") -> DataFrame:
        """The WOULD-BE table state if ``staged`` were committed — the
        AUDIT step of write-audit-publish (Iceberg WAP / Hudi
        pre-commit-validator analog): the staged manifest overlay is
        applied virtually, so auditors (row counts, DQ rules, drift
        checks) query production-shaped data that NO reader can see,
        then :meth:`commit_staged` publishes it by a metadata-only flip
        or :meth:`abort_staged` discards it without a trace. Cost: the
        same dir-union read any snapshot costs."""
        parent = self._commit_at(staged.parent_version)
        new_data = _overlay(parent.data, staged.touched, staged.fresh)
        df = self._read_dirs({
            d: staged.dir_schemas.get(_group_of(d)) or parent.schema_of(d)
            for d in new_data.values()
        }, staged.schema)
        if self.config.num_buckets or self.config.key_range_groups:
            df = df.drop(BUCKET_COL, RANGE_COL)
        return df

    def abort_staged(self, staged: "StagedCommit") -> None:
        """Discard a staged write: delete its data + changelog dirs. The
        timeline never saw it, so there is nothing to roll back — the
        abort arm of write-audit-publish."""
        dirs = {_version_of(d) for d in staged.fresh.values()}
        dirs.update(_version_of(d) for d in staged.changelog)
        for d in dirs:
            target = self.root / d
            if target.exists():
                shutil.rmtree(target)

    def _occ_lock(self):
        """Short-lived exclusive lock for the commit-metadata step — the
        only serialized section of any write, microseconds of held time.
        Delegates to the injected :class:`LockProvider` (default:
        :class:`FileLockProvider`; object-store deployments must inject
        a coordination-service provider — see the LockProvider
        docstring)."""
        return self.lock_provider.lock(self)

    # ---------- record-level index (Hudi RECORD_INDEX analog) ----------

    def _rli(self) -> "CuratedTable | None":
        """The record-level index table — itself a bucketed CuratedTable
        under ``_index/record_level``, exactly as Hudi's metadata table
        is itself a Hudi MOR table. Rows: (record key cols, dir key,
        ordering field); record key includes the dir key so a key that
        moves partitions keeps BOTH entries alive (the non-global-index
        contract: one live row per (key, partition)). The bucket id is
        forced to hash the BASE key columns only (pre-computed below),
        so a point lookup knows which index buckets to read without
        knowing dir keys."""
        if not self.config.record_index:
            return None
        if getattr(self, "_rli_table", None) is None:
            icfg = TableConfig(
                name=f"{self.config.name}__rli",
                record_key=[*self.config.record_key, DIR_KEY_COL],
                source_ordering_field=self.config.source_ordering_field,
                num_buckets=RLI_BUCKETS,
            )
            self._rli_table = CuratedTable(
                self.spark, self.root / RLI_DIR, icfg
            )
        return self._rli_table

    def _rli_bucket_expr(self):
        return F.pmod(
            F.xxhash64(*self.config.record_key), F.lit(RLI_BUCKETS)
        ).cast("int")

    def _rebuild_record_index(self, snap: DataFrame | None) -> None:
        if (self.root / RLI_DIR).exists():
            shutil.rmtree(self.root / RLI_DIR)
        self._rli_table = None
        if snap is not None:
            self._update_record_index(
                self._bucketize(snap, self.latest_commit()))

    def _update_record_index(self, batch: DataFrame) -> None:
        """Upsert the batch's (key -> dir key) entries; tombstones delete
        their index entry. ``batch`` is precombined and (when the table
        has a layout column) bucketized, so the dir key is computable
        per row. O(batch) — index buckets not touched by the batch carry
        forward by reference inside the index table's own upsert."""
        from aws_dms_to_hudi_spark.operators.merge import DELETED_COL

        rli = self._rli()
        if rli is None:
            return
        cfg = self.config
        deleted = (
            F.coalesce(F.col(DELETED_COL), F.lit(False))
            if DELETED_COL in batch.columns
            else F.lit(False)
        )
        entries = batch.select(
            *cfg.record_key,
            F.col(cfg.source_ordering_field),
            self._dir_key_expr().alias(DIR_KEY_COL),
            deleted.alias(DELETED_COL),
            # bucket by BASE keys so lookups can route without dir keys
            # (_bucketize is a no-op when the column is already present)
            self._rli_bucket_expr().alias(BUCKET_COL),
        )
        rli.upsert(entries)

    def point_lookup(self, keys: DataFrame) -> DataFrame | None:
        """Read current rows for the probe keys through the record-level
        index: probe-bucket-pruned index read -> candidate dir keys
        (bounded driver-side collect: at most the partition count) ->
        scan only those dirs -> final key semi-join (which also clears
        index false positives, e.g. entries staled by insert_overwrite).
        MOR: outstanding deltas are always read and merged (a delta may
        carry any key). The index may over-approximate but never misses
        a live key, so results equal a full-scan semi-join exactly."""
        rli = self._rli()
        if rli is None:
            raise ValueError(
                f"{self.config.name}: record_index not enabled"
            )
        kcols = list(self.config.record_key)
        return self._lookup_via_index(
            rli, keys.select(*kcols).distinct(), kcols,
            self._rli_bucket_expr(),
        )

    def _lookup_via_index(
        self, index: "CuratedTable", probe: DataFrame, on: list[str],
        bucket_expr,
    ) -> DataFrame | None:
        """Index lookup: route the probe to index buckets (a collect of at
        most the bucket count), collect the candidate dir keys (at most
        the partition count), then :meth:`_scan_probe` those dirs."""
        commit = self.latest_commit()
        if commit is None:
            return None
        icommit = index.latest_commit()
        rows_dirs: list[str] = []
        if icommit is not None:
            pb = sorted(
                r[0] for r in probe.select(bucket_expr.alias("b"))
                .distinct().collect()
            )
            idirs = [
                icommit.data[k]
                for k in (f"{BUCKET_COL}={b}" for b in pb)
                if k in icommit.data
            ]
            if idirs:
                hits = index._read_dirs(icommit.schemas_of(idirs)).join(
                    F.broadcast(probe), on=on, how="left_semi")
                dkeys = sorted(
                    r[0] for r in hits.select(DIR_KEY_COL).distinct().collect()
                )
                rows_dirs = [
                    commit.data[k] for k in dkeys if k in commit.data
                ]
        return self._scan_probe(commit, rows_dirs, probe, on)

    def _scan_probe(
        self, commit: Commit, rows_dirs: list[str], probe: DataFrame,
        on: list[str],
    ) -> DataFrame:
        """Rows of ``rows_dirs`` and of every MOR delta (a delta may carry
        any key) semi-joined to ``probe``, which clears index false
        positives; hidden columns drop, as in read()."""
        base = self._read_dirs(commit.schemas_of(rows_dirs), commit.schema)
        if commit.deltas:
            base = upsert_merge(
                base,
                self._read_dirs(commit.schemas_of(commit.deltas)),
                self.config.record_key,
                self.config.source_ordering_field,
            )
        return base.join(F.broadcast(probe), on=on, how="left_semi").drop(
            BUCKET_COL, RANGE_COL, LINEAGE_COL
        )

    # ---------- secondary index (Hudi 1.0 SECONDARY_INDEX analog) ----------

    def _sidx(self) -> "CuratedTable | None":
        """The secondary-index table — a value-bucketed CuratedTable
        under ``_index/secondary_<col>``, the same table-as-index
        pattern as :meth:`_rli`. Rows: (indexed column, record key
        cols, dir key, ordering field); the bucket id is FORCED to hash
        the indexed column only (pre-computed by the maintenance and
        lookup paths), so a value probe knows its buckets without
        knowing keys. The index over-approximates: a key whose value
        changed or was deleted leaves its old entry behind as a bounded
        false positive (cleared by lookup_by's final value filter and
        the current-dir map), but a current (value, key) pair is never
        missing — every write path inserts its batch's entries."""
        col = self.config.secondary_index
        if not col:
            return None
        if getattr(self, "_sidx_table", None) is None:
            icfg = TableConfig(
                name=f"{self.config.name}__sidx_{col}",
                record_key=[col, *self.config.record_key, DIR_KEY_COL],
                source_ordering_field=self.config.source_ordering_field,
                num_buckets=SIDX_BUCKETS,
            )
            self._sidx_table = CuratedTable(
                self.spark, self.root / f"{SIDX_DIR}_{col}", icfg
            )
        return self._sidx_table

    def _sidx_bucket_expr(self):
        return F.pmod(
            F.xxhash64(F.col(self.config.secondary_index)),
            F.lit(SIDX_BUCKETS),
        ).cast("int")

    def _update_secondary_index(self, batch: DataFrame) -> None:
        """Insert the batch's (value, key -> dir key) entries — pure
        O(batch), no tombstones (stale entries are harmless false
        positives; :meth:`rebuild_secondary_index` compacts them, the
        Hudi async-indexer analog). Deleted rows add no entry; NULL
        values are unindexed (no NULL probe semantics); a partial-
        update payload without the indexed column introduces no new
        values, so its merged rows keep their still-valid old entries.
        """
        from aws_dms_to_hudi_spark.operators.merge import DELETED_COL

        sidx = self._sidx()
        if sidx is None:
            return
        cfg = self.config
        col = cfg.secondary_index
        if col not in batch.columns:
            return
        b = batch
        if DELETED_COL in b.columns:
            b = b.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        entries = b.filter(F.col(col).isNotNull()).select(
            F.col(col),
            *cfg.record_key,
            F.col(cfg.source_ordering_field),
            self._dir_key_expr().alias(DIR_KEY_COL),
            self._sidx_bucket_expr().alias(BUCKET_COL),
        )
        sidx.upsert(entries)

    def rebuild_secondary_index(self) -> None:
        """Compact the index: drop accumulated stale entries by
        rebuilding from the current snapshot (one O(table) pass — what
        Hudi's async indexing service does on schedule)."""
        if not self.config.secondary_index:
            raise ValueError(
                f"{self.config.name}: secondary_index not enabled"
            )
        idir = self.root / f"{SIDX_DIR}_{self.config.secondary_index}"
        if idir.exists():
            shutil.rmtree(idir)
        self._sidx_table = None
        snap = self.read()
        if snap is not None:
            # read() drops synthetic layout columns; re-attach so the
            # per-row dir key is computable on bucket/range tables
            self._update_secondary_index(
                self._bucketize(snap, self.latest_commit()))

    def lookup_by(self, values: DataFrame) -> DataFrame | None:
        """Current rows whose indexed column matches any probe value,
        through the secondary index: probe-bucket-pruned index read ->
        candidate dir keys (bounded driver-side collect: at most the
        partition count) -> scan only those dirs -> final value
        semi-join (which also clears stale entries from changed/deleted
        keys and layout services). MOR: outstanding deltas are always
        read and merged. Result equals a full-scan value filter exactly
        — the index only prunes, never decides membership."""
        sidx = self._sidx()
        if sidx is None:
            raise ValueError(
                f"{self.config.name}: secondary_index not enabled"
            )
        col = self.config.secondary_index
        return self._lookup_via_index(
            sidx, values.select(col).distinct(), [col],
            self._sidx_bucket_expr(),
        )

    # ---------- bloom key index (Hudi BLOOM / metadata bloom_filters) ----

    def _bloom_positions(self, df: DataFrame) -> DataFrame:
        """(pos) — one row per key in ``df``, the key's BLOOM_K bit
        positions as an ARRAY, via seeded xxhash64 over the record-key
        columns. Computed in Spark on BOTH the build and probe paths so
        the two sides share one hash implementation exactly. Keeping a
        key's positions in one array row (instead of exploding) means
        probe-side grouping never depends on collect() row order."""
        kcols = [F.col(c) for c in self.config.record_key]
        return df.select(
            F.array(*[
                F.pmod(F.xxhash64(*kcols, F.lit(i)), F.lit(BLOOM_BITS))
                .cast("long")
                for i in range(BLOOM_K)
            ]).alias("pos")
        )

    def _bloom_path(self, rel: str) -> Path:
        import hashlib

        return (self.root / BLOOM_DIR
                / (hashlib.md5(rel.encode()).hexdigest() + ".json"))

    def _update_bloom_index(self, commit: "Commit") -> None:
        """Build the per-dir key blooms this commit introduced. Dir
        content is immutable after commit, so a dir that already has a
        filter is skipped — maintenance cost is one key-column scan of
        each NEWLY WRITTEN dir, O(dirs written) like column stats. The
        bitmap aggregates executor-side to <= BLOOM_BITS/64 words
        (``bit_or`` over 64-bit lanes), so the driver collect is
        bounded by the filter size, never the row count."""
        bdir = self.root / BLOOM_DIR
        bdir.mkdir(parents=True, exist_ok=True)
        for rel in commit.data.values():
            path = self._bloom_path(rel)
            if path.exists() or not (self.root / rel).exists():
                continue
            pos = self._bloom_positions(
                self._read_dirs(commit.schemas_of([rel]))).select(
                F.explode("pos").alias("pos")
            )
            words = (
                pos.groupBy((F.col("pos") / 64).cast("long").alias("w"))
                .agg(F.expr(
                    "bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))"
                ).alias("bits"))
                .collect()
            )
            fd, tmp = tempfile.mkstemp(dir=bdir, suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(
                    {"rel": rel, "bits": BLOOM_BITS, "k": BLOOM_K,
                     "words": {str(r["w"]): r["bits"] for r in words}},
                    f,
                )
            os.replace(tmp, path)

    def bloom_lookup(self, keys: DataFrame) -> DataFrame | None:
        """Point lookup through the per-dir key blooms: hash the probe
        keys once (one tiny Spark job — same seeded xxhash64 as the
        build side), test every data dir's filter driver-side (bit
        tests against <= dirs x BLOOM_K x |probe| positions, microsec
        work), scan only maybe-containing dirs, and clear bloom false
        positives with an exact key semi-join. MOR deltas are always
        read and merged (a delta may carry any key). A filter never
        under-approximates its dir, so the result equals a full-scan
        semi-join exactly."""
        commit = self._bloom_commit()
        if commit is None:
            return None
        kcols = list(self.config.record_key)
        probe = keys.select(*kcols).distinct()
        return self._scan_probe(
            commit, self._bloom_dirs(commit, probe), probe, kcols
        )

    def bloom_pruning_report(self, keys: DataFrame) -> dict:
        """Pruning diagnostics for a probe set: how many data dirs the
        filters admitted vs the total — the observability hook the
        pruning tests pin."""
        commit = self._bloom_commit()
        if commit is None:
            return {"total_dirs": 0, "scanned_dirs": 0}
        probe = keys.select(*self.config.record_key).distinct()
        return {"total_dirs": len(commit.data),
                "scanned_dirs": len(self._bloom_dirs(commit, probe))}

    def _bloom_commit(self) -> Commit | None:
        """The latest commit, with filters ensured even for dirs written
        before the flag flipped on (the async-indexer backfill path)."""
        if not self.config.bloom_index:
            raise ValueError(f"{self.config.name}: bloom_index not enabled")
        commit = self.latest_commit()
        if commit is not None:
            self._update_bloom_index(commit)
        return commit

    def _bloom_dirs(self, commit: Commit, probe: DataFrame) -> list[str]:
        """Data dirs whose filter may hold a probe key (a dir whose
        filter vanished under clean() is always scanned)."""
        # one array row per probe key — grouping is explicit, not an
        # artifact of explode/collect row order
        key_pos = [r["pos"] for r in self._bloom_positions(probe)
                   .collect()]
        out = []
        for rel in commit.data.values():
            path = self._bloom_path(rel)
            if path.exists():
                blob = json.loads(path.read_text())
                words = {int(w): int(b) for w, b in blob["words"].items()}
                if not any(
                    all(words.get(p // 64, 0) >> (p % 64) & 1 for p in kp)
                    for kp in key_pos
                ):
                    continue
            out.append(rel)
        return out

    # ---------- write-time CDC images (Hudi 0.13 cdc read analog) ----------

    def _write_cdc_before(
        self,
        existing: DataFrame | None,
        batch: DataFrame,
        cdcdir: str,
        kcols: list[str] | None = None,
    ) -> str:
        """Persist the stored pre-state of exactly the keys the batch
        touches (``kcols``: the merge key, default the record key);
        returns its schema JSON. ``existing`` is already pruned to the
        touched partitions, so this is one semi-join sized by the batch."""
        kcols = kcols or list(self.config.record_key)
        if existing is None:
            # first write into empty partitions: no before-images
            before = batch.limit(0)
        else:
            before = existing.join(
                batch.select(*kcols).distinct(), on=kcols, how="left_semi"
            )
        before.coalesce(1).write.mode("overwrite").parquet(
            str(self.root / cdcdir)
        )
        return _written_schema(before)

    def read_cdc(
        self,
        begin_version: int | None = None,
        end_version: int | None = None,
        image_cols: list[str] | None = None,
    ) -> DataFrame | None:
        """Change-data-capture read (Hudi 0.13 ``hoodie.table.cdc.enabled``
        query analog): one row per (record key, data commit) actually
        changed in ``(begin_version, end_version]`` with
        ``op`` ∈ {'I','U','D'} and before/after images of ``image_cols``
        — served entirely from write-time artifacts (changelog = after,
        cdc_dir = before), so cost is O(changed keys), never a replay of
        historical snapshots.

        No-op suppression: a batch row that LOSES precombine to the
        stored row (older ordering value) changed nothing and is not
        emitted; likewise a delete for an absent key. Deletes emit
        before-images and NULL after-images. The commit loop is bounded
        by the retained timeline, like read_incremental."""
        from aws_dms_to_hudi_spark.operators.merge import DELETED_COL

        cfg = self.config
        if not cfg.cdc_images:
            raise ValueError(f"{cfg.name}: cdc_images not enabled")
        kcols = list(cfg.record_key)
        ordf = cfg.source_ordering_field
        cols = list(image_cols or [])
        outs: list[DataFrame] = []
        for c in self._data_commits(begin_version, end_version):
            after = self._read_dirs(c.schemas_of(c.changelog))
            deleted = (
                F.coalesce(F.col(DELETED_COL), F.lit(False))
                if DELETED_COL in after.columns
                else F.lit(False)
            )
            a = after.select(
                *kcols,
                F.col(ordf).alias("__a_ord"),
                deleted.alias("__a_del"),
                *[F.col(x).alias(f"after_{x}") for x in cols],
            )
            if c.cdc_dir:
                b = self._read_dirs(c.schemas_of([c.cdc_dir])).select(
                    *kcols,
                    F.col(ordf).alias("__b_ord"),
                    *[F.col(x).alias(f"before_{x}") for x in cols],
                )
                j = a.join(b, on=kcols, how="left")
            else:
                j = a.withColumn(
                    "__b_ord", F.lit(None).cast(dict(a.dtypes)["__a_ord"])
                )
                for x in cols:
                    j = j.withColumn(
                        f"before_{x}", F.lit(None).cast(dict(a.dtypes)[f"after_{x}"])
                    )
            # drop no-ops: batch row lost to stored (stored is newer), or
            # delete of an absent key
            j = j.filter(
                (F.col("__b_ord").isNull() & ~F.col("__a_del"))
                | (
                    F.col("__b_ord").isNotNull()
                    & (F.col("__a_ord") >= F.col("__b_ord"))
                )
            )
            op = (
                F.when(F.col("__a_del"), F.lit("D"))
                .when(F.col("__b_ord").isNull(), F.lit("I"))
                .otherwise(F.lit("U"))
            )
            sel = [
                *kcols,
                F.lit(c.version).cast("long").alias("commit_version"),
                op.alias("op"),
            ]
            for x in cols:
                sel.append(F.col(f"before_{x}"))
                # deletes have no after-image
                sel.append(
                    F.when(F.col("__a_del"), F.lit(None))
                    .otherwise(F.col(f"after_{x}"))
                    .alias(f"after_{x}")
                )
            outs.append(j.select(*sel))
        if not outs:
            return None
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    # ---------- column-stats index maintenance ----------

    def _assemble_stats(
        self, prev: Commit | None, new_data: dict[str, str], vdir: str,
        schema: str,
    ) -> dict[str, dict[str, list]] | None:
        """col_stats for a new commit: copied by rel-dir identity for
        carried-forward dirs; for the dirs written under ``vdir`` (schema
        JSON ``schema``), one min/max aggregate grouped by the layout
        column -> {rel_dir: {col: [tagged_min, tagged_max]}}. It reads
        back ONLY the just-written dirs and ONLY the stats columns
        (columnar scan, map-side-combinable min/max) — O(dirs written),
        never O(table)."""
        if not self.config.stats_columns:
            return None
        pstats = (prev.col_stats if prev else None) or {}
        out = {rel: pstats[rel] for rel in new_data.values()
               if _version_of(rel) != vdir and rel in pstats}
        if not any(_version_of(rel) == vdir for rel in new_data.values()):
            return out
        pcol = self._pcol
        df = self._read_dirs({vdir: schema})
        cols = [c for c in self.config.stats_columns if c in df.columns]
        if not cols:
            return out
        keys = [pcol] if pcol in df.columns else []
        aggs = [a for c in cols for a in (F.min(c).alias(f"__mn_{c}"),
                                          F.max(c).alias(f"__mx_{c}"))]
        for r in df.groupBy(*keys).agg(*aggs).collect():
            out[f"{vdir}/{_pdir(pcol, r[pcol])}" if keys else vdir] = {
                c: [_enc_stat(r[f"__mn_{c}"]), _enc_stat(r[f"__mx_{c}"])]
                for c in cols
            }
        return out

    @staticmethod
    def _next_version(prev: Commit | None) -> int:
        return (prev.version + 1) if prev else 1


def _overlay(data: dict[str, str], touched: list[str],
             fresh: dict[str, str]) -> dict[str, str]:
    """``data`` less the ``touched`` keys (a partition whose rows all
    went must disappear), plus the ``fresh`` dirs."""
    return {**{k: d for k, d in data.items() if k not in touched}, **fresh}


def _version_of(rel_dir: str) -> str:
    """'v00000002/l_returnflag=A' -> 'v00000002'."""
    return rel_dir.split("/", 1)[0]


def _group_of(d: str) -> str:
    """A dir's version dir, or an external dir's source root."""
    if not _is_external(d):
        return _version_of(d)
    head, _, leaf = d.rpartition("/")
    return head if "=" in leaf else d


def _struct(schema_json: str) -> StructType:
    return StructType.fromJson(json.loads(schema_json))


def _written_schema(df: DataFrame, pcol: str | None = None) -> str:
    """Schema JSON a read of ``df``'s parquet returns, known without one:
    every field nullable, the hive partition column last."""
    text = StructType(sorted(df.schema.fields,
                             key=lambda f: f.name == pcol)).json()
    for key in ("nullable", "containsNull", "valueContainsNull"):
        text = text.replace(f'"{key}":false', f'"{key}":true')
    return text


def _footer_read(reader, paths: list[str]) -> DataFrame:
    """The one read that infers its schema from parquet footers, a Spark
    job: for dirs without a recorded schema — a bootstrap source, or a
    dir of a manifest written before commits recorded schemas."""
    return reader.parquet(*paths)


def _is_external(d: str) -> bool:
    """Bootstrap data-map entries are ABSOLUTE source paths (Hudi
    METADATA_ONLY bootstrap analog — the table references but does not
    own them); everything the table wrote itself is root-relative."""
    return d.startswith("/")


def _pdir(pcol: str, value: Any) -> str:
    """Hive-style partition dir name for a value, NULL and '' mapping to
    Spark's default partition as its writer does (Spark's escaping of
    other values is not replicated here; engine restricts partition
    columns to simple string/number values, which covers the reference's
    usage)."""
    if value is None or value == "":
        value = NULL_PARTITION
    return f"{pcol}={value}"


# ---------- column-stats value codec + pruning predicate ----------

def _enc_stat(v: Any) -> list | None:
    """JSON-safe [type-tag, value] encoding of a min/max stat. Dates and
    timestamps are kept as ISO strings (lexicographic == chronological,
    so pruning comparisons stay order-correct); Decimals as exact
    strings re-parsed on compare. None (all-NULL dir) stays None —
    null-rejecting filter ops match nothing there."""
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, bool):
        return ["i", int(v)]
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, float):
        return ["f", v]
    if isinstance(v, decimal.Decimal):
        return ["n", str(v)]
    if isinstance(v, datetime.datetime):
        return ["t", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["d", v.isoformat()]
    if isinstance(v, str):
        return ["s", v]
    return ["s", str(v)]


def _cmp_key(tagged: list) -> tuple[str, Any] | None:
    """(kind, comparable-value) for a tagged stat, or None when the
    value must not participate in pruning comparisons. Kinds compare
    only with themselves: ``num`` (int/float/decimal inter-compare
    exactly as SQL does), ``str``, and ``ts`` — dates normalized to
    their midnight timestamp so date-tagged stats and datetime filter
    values order the way Spark's date==timestamp cast does (a date
    '1996-01-01' IS timestamp '1996-01-01T00:00:00'; comparing the raw
    ISO strings tag-blind would instead see the datetime as strictly
    greater and prune dirs whose rows match). Timezone-suffixed
    timestamps are un-prunable: their ISO strings don't order
    lexicographically against naive ones."""
    tag, v = tagged
    if tag in ("i", "f"):
        return ("num", v)
    if tag == "n":
        import decimal

        return ("num", decimal.Decimal(v))
    if tag == "s":
        return ("str", v)
    if tag == "d":
        return ("ts", f"{v}T00:00:00")
    if tag == "t":
        if "+" in v[10:] or v.endswith("Z"):
            return None
        return ("ts", v)
    return None


_PRUNE_OPS = ("=", "<", "<=", ">", ">=")


def _stats_prove_empty(
    dir_stats: dict[str, list], filters: list[tuple[str, str, Any]]
) -> bool:
    """True iff the dir's [min, max] for some filtered column proves the
    conjunction can match no row in the dir."""
    for col, op, val in filters:
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported filter op {op!r}")
        if col not in dir_stats:
            continue
        mn_t, mx_t = dir_stats[col][0], dir_stats[col][1]
        if mn_t is None or mx_t is None:
            # stats recorded, no non-null value in the dir: every op
            # here is null-rejecting, so the dir cannot match
            return True
        enc = _enc_stat(val)
        kmn, kmx, kv = _cmp_key(mn_t), _cmp_key(mx_t), _cmp_key(enc)
        if (
            kmn is None
            or kmx is None
            or kv is None
            or not (kmn[0] == kmx[0] == kv[0])
        ):
            continue  # mixed / un-comparable kinds never prune
        mn, mx, v = kmn[1], kmx[1], kv[1]
        if (
            (op == "=" and (v < mn or v > mx))
            or (op == "<" and mn >= v)
            or (op == "<=" and mn > v)
            or (op == ">" and mx <= v)
            or (op == ">=" and mx < v)
        ):
            return True
    return False


def _filter_expr(col: str, op: str, val: Any):
    """Residual row-level predicate matching the pruning semantics."""
    c = F.col(col)
    if op == "=":
        return c == F.lit(val)
    if op == "<":
        return c < F.lit(val)
    if op == "<=":
        return c <= F.lit(val)
    if op == ">":
        return c > F.lit(val)
    if op == ">=":
        return c >= F.lit(val)
    raise ValueError(f"unsupported filter op {op!r}")
