"""Merge core: precombine dedup (D4), keyed upsert (D5), delete application (D6).

Reference semantics (all pinned by configuration, not code — see SURVEY.md §2.1):

- **Precombine** (``handler.py:68,77,145`` — ``--source-ordering-field`` /
  ``hoodie.datasource.write.precombine.field``): among incoming rows sharing
  a record key, the row with the maximum ``source_ordering_field`` wins.
  The field is the DMS change sequence ``trx_seq``, a *string* whose
  lexicographic order is the change order
  (``templates/aws-dms-to-hudi.yaml:490-506``). We therefore compare it as a
  string — never cast to numeric.
- **Upsert** (``handler.py:89`` — ``hoodie.datasource.write.operation=upsert``):
  new key → insert; existing key → incoming row replaces the stored row.
  A stored row only loses to an incoming row; ties across batches cannot
  happen because ``trx_seq`` is strictly increasing, but we still break the
  existing-vs-incoming collision by ordering field to make replays
  idempotent (re-applying an already-applied batch is a no-op).
- **Delete** (``templates/aws-dms-to-hudi.yaml:507-522``): an incoming row
  with ``_hoodie_is_deleted = true`` removes its key from the table. The
  deleted row still *participates* in precombine/upsert (a delete with an
  older ``trx_seq`` than a stored update must lose) and is filtered out of
  the final state afterwards.

Physical strategy / scale notes:

- Precombine is one shuffle on the key columns (window + row_number).
  Map-side it benefits from AQE coalescing; there is no cheaper shape —
  max_by(struct) aggs shuffle the same bytes and lose the full-row payload
  ordering guarantees for ties.
- Upsert is expressed as UNION ALL + the same window, i.e. exactly ONE
  shuffle over (existing ∪ batch) instead of the naive
  left_anti-join-plus-union (two shuffles of the big side, or a broadcast
  that doesn't exist for a 100 TB target). When the batch is small relative
  to the table, callers should first prune `existing` to the partitions /
  key ranges the batch touches (see storage.CuratedTable.upsert) so the
  shuffled volume is the touched slice, not the table.
- ``_hoodie_is_deleted`` filter is applied AFTER winner selection, so a
  delete that loses precombine does not resurrect, and a delete that wins
  tombstones the key for this state version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DELETED_COL = "_hoodie_is_deleted"
# Internal marker used to break existing-vs-incoming ties deterministically.
_SRC_COL = "__is_incoming"
_RN_COL = "__rn"


def precombine(batch: DataFrame, key_cols: list[str], ordering_col: str) -> DataFrame:
    """In-batch dedup: keep, per record key, the row with max ordering value.

    Exactly Hudi's precombine (D4). One shuffle on ``key_cols``.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(ordering_col).desc())
    return (
        batch.withColumn(_RN_COL, F.row_number().over(w))
        .filter(F.col(_RN_COL) == 1)
        .drop(_RN_COL)
    )


def upsert_merge(
    existing: DataFrame | None,
    batch: DataFrame,
    key_cols: list[str],
    ordering_col: str,
    drop_deleted: bool = True,
) -> DataFrame:
    """Merge an incoming CDC batch into the current state (D4+D5+D6).

    ``existing`` is the current state (no deleted rows in it by invariant);
    ``batch`` is the raw incoming change set (may contain several versions
    of one key and delete rows). Returns the next state.

    Single-shuffle shape: ``existing ∪ batch`` → window by key ordered by
    (ordering desc, incoming-flag desc) → row_number = 1 → drop tombstones.
    The incoming-flag tie-break makes re-applying an already-merged batch
    idempotent (incoming copy wins the tie; payload is identical).
    """
    return _pick_winners(_union_tagged(existing, batch), key_cols,
                         ordering_col, drop_deleted)


def _union_tagged(existing: DataFrame | None, batch: DataFrame) -> DataFrame:
    """``existing ∪ batch`` with the incoming-flag column, the half of
    :func:`upsert_merge` before its shuffle — so a caller can place its
    own exchange (e.g. the layout's range exchange) under the window."""
    batch = batch.withColumn(_SRC_COL, F.lit(1))
    if existing is None:
        return batch
    # Align incoming columns to the existing schema; CDC batches carry
    # the envelope, stored state may have dropped transient columns.
    existing = existing.withColumn(_SRC_COL, F.lit(0))
    if DELETED_COL not in existing.columns and DELETED_COL in batch.columns:
        existing = existing.withColumn(DELETED_COL, F.lit(False))
    if dict(existing.dtypes) != dict(batch.dtypes):
        # Schema evolution (Hudi deltastreamer reconciliation): new
        # columns append (stored rows read NULL), dropped columns
        # NULL-fill, Avro promotions widen the stored type; raises on an
        # incompatible change instead of coercing. Column order and
        # nullability alone need none of it: unionByName handles both.
        from aws_dms_to_hudi_spark.operators.schema_evolution import (
            align_to,
            evolved_schema,
        )

        target = evolved_schema(existing.schema, batch.schema)
        existing = align_to(existing, target)
        batch = align_to(batch, target)
    return existing.unionByName(batch, allowMissingColumns=True)


def _pick_winners(unioned: DataFrame, key_cols: list[str], ordering_col: str,
                  drop_deleted: bool = True) -> DataFrame:
    """The other half: one row per key (max ordering value, incoming
    wins ties), then tombstones drop."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ordering_col).desc(), F.col(_SRC_COL).desc()
    )
    merged = (
        unioned.withColumn(_RN_COL, F.row_number().over(w))
        .filter(F.col(_RN_COL) == 1)
        .drop(_RN_COL, _SRC_COL)
    )
    if drop_deleted:
        merged = apply_deletes(merged)
    return merged


def apply_deletes(state: DataFrame) -> DataFrame:
    """Drop tombstoned keys (D6): rows whose winning version is a DELETE."""
    if DELETED_COL not in state.columns:
        return state
    return state.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))


def patch_precombine(
    batch: DataFrame, key_cols: list[str], ordering_col: str
) -> DataFrame:
    """In-batch combine for PARTIAL-update payloads (Hudi's
    ``OverwriteNonDefaultsWithLatestAvroPayload`` analog): a patch row
    sets only the columns it carries (others NULL), and several patches
    to one key within a batch STACK — each column takes its
    last-written non-NULL value in ``ordering_col`` order, the envelope
    (ordering, delete flag) comes from the overall winner. Plain
    precombine would drop the older patch entirely, losing columns it
    set that the newer one didn't.

    One window shuffle on the key columns, same cost shape as
    :func:`precombine`; the frame is the whole key group (bounded by a
    key's patches per batch)."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ordering_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    stacked = [
        F.first(c, ignorenulls=(c != ordering_col and c != DELETED_COL))
        .over(w)
        .alias(c)
        for c in batch.columns
        if c not in key_cols
    ]
    rn_w = Window.partitionBy(*key_cols).orderBy(F.col(ordering_col).desc())
    return (
        batch.select(*key_cols, *stacked,
                     F.row_number().over(rn_w).alias(_RN_COL))
        .filter(F.col(_RN_COL) == 1)
        .drop(_RN_COL)
    )


def apply_patches(
    stored: DataFrame | None,
    batch: DataFrame,
    key_cols: list[str],
    ordering_col: str,
) -> DataFrame:
    """Resolve a sparse patch batch into FULL rows against the stored
    state: per data column ``coalesce(patch, stored)``; the envelope
    always comes from the patch; a patch to an absent key inserts the
    payload as-is (unset columns stay NULL) — Hudi's behavior for a
    partial payload that finds no base record.

    Returns a full-row batch ready for the ordinary upsert path, so
    versioning, changelogs, partition/bucket pruning and MOR deltas
    all apply unchanged. One equi-join of the (small) patch batch
    against the stored state on the record key — the stored side
    should be pruned by the caller exactly as for upserts."""
    batch = patch_precombine(batch, key_cols, ordering_col)
    if stored is None:
        return batch
    envelope = {ordering_col, DELETED_COL}
    stored_cols = set(stored.columns)
    b, s = batch.alias("__patch"), stored.alias("__stored")
    out = []
    for c in batch.columns:
        if c in key_cols or c in envelope or c not in stored_cols:
            out.append(F.col(f"__patch.{c}").alias(c))
        else:
            out.append(
                F.coalesce(F.col(f"__patch.{c}"), F.col(f"__stored.{c}"))
                .alias(c)
            )
    return b.join(s, on=key_cols, how="left").select(*out)
