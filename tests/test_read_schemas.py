"""Every read keeps the schema it returns: names, order, types and
nullability, for each table layout and read kind (snapshot, read
optimized, time travel, incremental, pruned to nothing, with lineage).
Partitioned tables return their partition column last.
``read_schemas_golden.json`` holds the schemas; regenerate it with
``python -m tests.test_read_schemas`` only when a read schema is meant to
change.
"""

import datetime
import decimal
import json
from pathlib import Path

import pytest
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from aws_dms_to_hudi_spark.config import MERGE_ON_READ, TableConfig
from aws_dms_to_hudi_spark.storage import CuratedTable

GOLDEN_PATH = Path(__file__).resolve().parent / "read_schemas_golden.json"

# k is declared NOT NULL: reads return every column nullable
SCHEMA = StructType([
    StructField("k", IntegerType(), False),
    StructField("p", StringType()),
    StructField("n", IntegerType()),
    StructField("v", IntegerType()),
    StructField("d", DateType()),
    StructField("ts", TimestampType()),
    StructField("amt", DecimalType(10, 2)),
    StructField("trx_seq", StringType()),
    StructField("_hoodie_is_deleted", BooleanType()),
])


def _rows(spark, keys, seq, deleted=()):
    return spark.createDataFrame(
        [(k, "ABC"[k % 3], k % 2, k * 10,
          datetime.date(2024, 1, 1 + k % 28),
          datetime.datetime(2024, 1, 1, k % 24),
          decimal.Decimal(f"{k}.25"), f"{seq:04d}", k in deleted)
         for k in keys], SCHEMA)


def _evolved(spark, keys, seq):
    """v widened to long, one column added."""
    return spark.createDataFrame(
        [(k, "A", k % 2, 2**40 + k, datetime.date(2024, 2, 1),
          datetime.datetime(2024, 2, 1), decimal.Decimal("1.00"),
          f"{seq:04d}", False, f"x{k}") for k in keys],
        "k int, p string, n int, v long, d date, ts timestamp, "
        "amt decimal(10,2), trx_seq string, _hoodie_is_deleted boolean, "
        "extra string")


def _table(spark, root, **cfg):
    return CuratedTable(spark, root / "t",
                        TableConfig(name="t", record_key=["k"], **cfg))


def _history(spark, t):
    t.bulk_insert(_rows(spark, range(12), 1))
    t.upsert(_rows(spark, [0, 3, 12], 2, deleted={3}))


def _plain(spark, root):
    t = _table(spark, root)
    _history(spark, t)
    return {"read": t.read(), "v1": t.read(version=1),
            "incremental": t.read_incremental()}


def _partitioned(spark, root):
    t = _table(spark, root, is_partitioned=True, partition_path="p",
               stats_columns=["v"])
    _history(spark, t)
    return {"read": t.read(), "incremental": t.read_incremental(),
            "pruned_empty": t.read(filters=[("v", ">", 10**6)])}


def _int_partition(spark, root):
    t = _table(spark, root, is_partitioned=True, partition_path="n")
    _history(spark, t)
    return {"read": t.read()}


def _evolution(spark, root):
    """A widened batch rewrites partition A; B and C carry forward."""
    t = _table(spark, root, is_partitioned=True, partition_path="p")
    _history(spark, t)
    t.upsert(_evolved(spark, [0, 6], 3))
    return {"read": t.read(), "incremental": t.read_incremental(1)}


def _mor(spark, root):
    t = _table(spark, root, table_type=MERGE_ON_READ,
               is_partitioned=True, partition_path="p")
    _history(spark, t)
    t.upsert(_evolved(spark, [1, 13], 3))
    out = {"read": t.read(), "read_optimized": t.read(read_optimized=True),
           "incremental": t.read_incremental()}
    t.compact()
    out["compacted"] = t.read()
    return out


def _bucket(spark, root):
    t = _table(spark, root, num_buckets=4)
    _history(spark, t)
    return {"read": t.read()}


def _key_range(spark, root):
    t = _table(spark, root, key_range_groups=3)
    _history(spark, t)
    return {"read": t.read()}


def _lineage(spark, root):
    t = _table(spark, root, row_lineage=True, is_partitioned=True,
               partition_path="p")
    _history(spark, t)
    return {"read": t.read(), "with_lineage": t.read(include_lineage=True)}


def _evolve_partitioning(spark, root):
    t = _table(spark, root)
    _history(spark, t)
    t2 = t.evolve_partitioning("p")
    return {"read": t2.read(), "before": t2.read(version=2)}


def _clustered(spark, root):
    t = _table(spark, root, is_partitioned=True, partition_path="p")
    _history(spark, t)
    t.cluster(zorder_by=["v", "n"])
    return {"read": t.read()}


SCENARIOS = {
    "plain": _plain,
    "partitioned": _partitioned,
    "int_partition": _int_partition,
    "evolution": _evolution,
    "mor": _mor,
    "bucket": _bucket,
    "key_range": _key_range,
    "lineage": _lineage,
    "evolve_partitioning": _evolve_partitioning,
    "clustered": _clustered,
}


def run_scenario(spark, name, root):
    return {k: json.loads(df.schema.json())
            for k, df in SCENARIOS[name](spark, root).items()}


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_read_schemas_match_golden(spark, tmp_path, name):
    golden = json.loads(GOLDEN_PATH.read_text())[name]
    assert run_scenario(spark, name, tmp_path) == golden


if __name__ == "__main__":
    import tempfile

    from aws_dms_to_hudi_spark.session import get_spark

    spark = get_spark("read-schemas-golden", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4"})
    out = {}
    for name in sorted(SCENARIOS):
        with tempfile.TemporaryDirectory() as d:
            out[name] = run_scenario(spark, name, Path(d))
    GOLDEN_PATH.write_text(json.dumps(out, indent=1) + "\n")
