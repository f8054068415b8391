"""Degenerate inputs on the storage write paths: a partitioned table
whose first load has zero rows, and space-filling-curve clustering over
an empty table or an all-NULL dimension."""

import pytest
from pyspark.sql import functions as F

from aws_dms_to_hudi_spark.config import TableConfig
from aws_dms_to_hudi_spark.storage import CuratedTable


def _orders(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .withColumn("trx_seq", F.lit("00000000"))
    )


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def test_empty_bulk_insert_then_upsert_partitioned(spark, sf_smoke, tmp_path):
    orders = _orders(spark, sf_smoke)
    t = CuratedTable(spark, tmp_path / "p", TableConfig(
        name="p", record_key=["o_orderkey"], is_partitioned=True,
        partition_path="o_orderstatus"))
    c = t.bulk_insert(orders.limit(0))
    assert c.data == {}
    empty = t.read()
    assert empty.count() == 0
    assert sorted(empty.columns) == sorted(orders.columns)

    five = orders.orderBy("o_orderkey").limit(5)
    t.upsert(five)
    got = t.read()
    assert sorted(got.columns) == sorted(orders.columns)
    assert _rows(got) == _rows(five)


@pytest.mark.parametrize("curve", ["zorder_by", "hilbert_by"])
def test_curve_clustering_on_empty_and_all_null(spark, sf_smoke, tmp_path,
                                                curve):
    orders = _orders(spark, sf_smoke).limit(40)
    cases = {
        "empty": (orders.limit(0), ["o_totalprice", "o_custkey"]),
        "null": (orders.withColumn("d", F.lit(None).cast("double")),
                 ["d", "o_custkey"]),
    }
    for case, (df, dims) in cases.items():
        t = CuratedTable(spark, tmp_path / case,
                         TableConfig(name=case, record_key=["o_orderkey"]))
        t.bulk_insert(df)
        before = _rows(t.read())
        t.cluster(**{curve: dims})
        assert t.latest_commit().operation == "clustering"
        assert _rows(t.read()) == before, case


def _empty_table(spark, tmp_path, orders, **cfg):
    t = CuratedTable(spark, tmp_path / "e", TableConfig(
        name="e", record_key=["o_orderkey"], is_partitioned=True,
        partition_path="o_orderstatus", **cfg))
    t.bulk_insert(orders.limit(0))
    return t


def _assert_empty_typed(t, orders):
    got = t.read()
    assert got is not None, t.latest_commit().operation
    assert got.count() == 0
    assert sorted(got.columns) == sorted(orders.columns)


def test_empty_partitioned_restore_keeps_schema(spark, sf_smoke, tmp_path):
    orders = _orders(spark, sf_smoke)
    t = _empty_table(spark, tmp_path, orders)
    t.upsert(orders.orderBy("o_orderkey").limit(3))
    t.restore(1)
    _assert_empty_typed(t, orders)


def test_empty_partitioned_cluster_keeps_schema(spark, sf_smoke, tmp_path):
    orders = _orders(spark, sf_smoke)
    t = _empty_table(spark, tmp_path, orders)
    t.cluster()
    _assert_empty_typed(t, orders)


def test_empty_partitioned_mor_compact_keeps_schema(spark, sf_smoke,
                                                    tmp_path):
    orders = _orders(spark, sf_smoke)
    t = _empty_table(spark, tmp_path, orders, table_type="MERGE_ON_READ")
    t.upsert(orders.limit(0))
    _assert_empty_typed(t, orders)
    t.compact()
    assert t.latest_commit().operation == "compaction"
    _assert_empty_typed(t, orders)


def test_empty_partitioned_delete_keys(spark, sf_smoke, tmp_path):
    orders = _orders(spark, sf_smoke)
    t = _empty_table(spark, tmp_path, orders, deletion_vectors=True)
    t.delete_keys(orders.select("o_orderkey").limit(3))
    assert t.latest_commit().operation == "delete_vector"
    _assert_empty_typed(t, orders)
