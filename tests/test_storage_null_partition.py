"""A NULL partition value: its rows land in Spark's default partition
dir, and later writes must find them there and read them back."""

from pyspark.sql import functions as F

from aws_dms_to_hudi_spark.config import TableConfig
from aws_dms_to_hudi_spark.storage import NULL_PARTITION, CuratedTable

SCHEMA = "k int, p string, v string, trx_seq string"


def test_null_partition_rows_survive_upsert(spark, tmp_path):
    t = CuratedTable(spark, tmp_path / "t", TableConfig(
        name="t", record_key=["k"], is_partitioned=True,
        partition_path="p"))
    rows = [(k, "AB"[k % 2], f"v{k}", "01") for k in range(8)]
    rows += [(100, None, "v100", "01"), (101, None, "v101", "01")]
    t.bulk_insert(spark.createDataFrame(rows, SCHEMA))
    assert f"p={NULL_PARTITION}" in t.latest_commit().data

    # only the NULL partition is touched: the new version dir holds
    # nothing but the default partition, whose `p` Spark infers as void
    t.upsert(spark.createDataFrame([(102, None, "v102", "02")], SCHEMA))
    got = t.read()
    assert dict(got.dtypes)["p"] == "string"
    want = rows + [(102, None, "v102", "02")]
    assert sorted(tuple(r) for r in got.select("k", "p", "v", "trx_seq")
                  .collect()) == sorted(want, key=lambda r: r[0])
    assert got.filter(F.col("p").isNull()).count() == 3
