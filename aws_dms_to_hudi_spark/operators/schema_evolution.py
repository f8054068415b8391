"""Schema evolution for the CDC merge path (Hudi deltastreamer analog).

The reference pipeline inherits schema evolution from Hudi: DMS keeps
streaming after an upstream ``ALTER TABLE`` (new columns appear in the
change-log parquet; dropped columns simply stop arriving), and
DeltaStreamer reconciles each incoming batch against the table's
current schema — new columns are appended (pre-existing rows read as
NULL), missing columns are NULL-filled, and Avro type promotions
(int → long → float → double) widen the stored type. The reference
delegates all of this to ``HoodieDeltaStreamer``
(``src/lambdas/launch_hudi/handler.py:139-152``); this module is the
PySpark-native equivalent used by ``storage.CuratedTable``'s write and
multi-version read paths.

Everything here is driver-side schema arithmetic plus ``cast``
projections — zero extra shuffles, and the casts fold into the same
whole-stage-codegen projection that already materializes the merge, so
the 100 TB cost of an evolved merge is identical to an un-evolved one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    NullType,
    ShortType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "SchemaEvolutionError",
    "widen_type",
    "evolved_schema",
    "align_to",
    "common_schema",
]


class SchemaEvolutionError(TypeError):
    """An incoming batch's schema cannot be reconciled with the table's."""


# Avro/Hudi promotion chain: each type may widen to anything later in
# the chain (int → long → float → double). byte/short are Spark-side
# extensions that promote into the same chain.
_NUMERIC_CHAIN: list[type] = [
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    FloatType,
    DoubleType,
]

# Digits needed to hold each integral type inside a decimal.
_INTEGRAL_DIGITS = {ByteType: 3, ShortType: 5, IntegerType: 10, LongType: 19}


def _chain_pos(dt: DataType) -> int | None:
    for i, t in enumerate(_NUMERIC_CHAIN):
        if isinstance(dt, t):
            return i
    return None


def widen_type(a: DataType, b: DataType) -> DataType:
    """The narrowest type both ``a`` and ``b`` promote to losslessly
    under the Avro/Hudi rules, or raise :class:`SchemaEvolutionError`.

    Supported promotions: the numeric chain byte→short→int→long→float→
    double; decimal(p₁,s₁) ∪ decimal(p₂,s₂) → decimal with the combined
    integer/fraction digits (capped at 38); integral → decimal when the
    decimal's integer digits can hold it; date → timestamp; NULL
    (``void``: an all-NULL column, e.g. a version dir whose only
    partition is the default one) → anything. Everything
    else (string↔numeric, nested-type changes, boolean↔anything) is an
    incompatible evolution and raises — silently coercing those is how
    a lake gets corrupted.
    """
    if a == b or isinstance(b, NullType):
        return a
    if isinstance(a, NullType):
        return b
    pa, pb = _chain_pos(a), _chain_pos(b)
    if pa is not None and pb is not None:
        return _NUMERIC_CHAIN[max(pa, pb)]()
    if isinstance(a, DecimalType) and isinstance(b, DecimalType):
        scale = max(a.scale, b.scale)
        integer = max(a.precision - a.scale, b.precision - b.scale)
        return DecimalType(min(integer + scale, 38), scale)
    for dec, other in ((a, b), (b, a)):
        if isinstance(dec, DecimalType):
            digits = _INTEGRAL_DIGITS.get(type(other))
            if digits is not None:
                integer = max(dec.precision - dec.scale, digits)
                return DecimalType(min(integer + dec.scale, 38), dec.scale)
    if {type(a), type(b)} == {DateType, TimestampType}:
        return TimestampType()
    raise SchemaEvolutionError(
        f"incompatible type evolution: {a.simpleString()} vs "
        f"{b.simpleString()}"
    )


def evolved_schema(old: StructType, new: StructType) -> StructType:
    """Reconciled table schema after an incoming batch.

    Field order is the stored order with new columns appended (Hudi's
    append-new-columns rule, so existing readers' positional
    expectations never shift); each shared field takes the widened
    type; a field missing on either side becomes nullable. Raises on an
    incompatible per-field evolution, naming the field.
    """
    new_by_name = {f.name: f for f in new.fields}
    fields: list[StructField] = []
    for f in old.fields:
        g = new_by_name.get(f.name)
        if g is None:
            fields.append(StructField(f.name, f.dataType, True))
            continue
        try:
            t = widen_type(f.dataType, g.dataType)
        except SchemaEvolutionError as e:
            raise SchemaEvolutionError(f"column {f.name!r}: {e}") from None
        fields.append(StructField(f.name, t, f.nullable or g.nullable))
    old_names = {f.name for f in old.fields}
    for g in new.fields:
        if g.name not in old_names:
            fields.append(StructField(g.name, g.dataType, True))
    return StructType(fields)


def align_to(df: DataFrame, schema: StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: cast shared columns, NULL-fill
    missing ones. Pure projection — no shuffle, codegen-folded."""
    have = set(df.columns)
    cols = [
        (F.col(f.name).cast(f.dataType) if f.name in have
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols)


def common_schema(schemas: list[StructType]) -> StructType:
    """The evolved schema of ``schemas`` taken in order: the first's
    fields, then each later one's new fields appended."""
    target = schemas[0]
    for other in schemas[1:]:
        target = evolved_schema(target, other)
    return target


def reconcile(frames: list[DataFrame]) -> list[DataFrame]:
    """Align a set of frames (e.g. per-version snapshot dirs) onto their
    common evolved schema. Identity (no projection inserted) when all
    schemas already match."""
    if len(frames) <= 1:
        return frames
    target = common_schema([f.schema for f in frames])
    return [
        f if f.schema == target else align_to(f, target) for f in frames
    ]
