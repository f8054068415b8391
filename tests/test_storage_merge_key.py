"""The COW partitioned merge resolves a record key within its partition
path (Hudi's non-global index, and this engine's record-level index): an
update that moves a key from partition A to B adds the B row and leaves
the A row, whether or not the batch also touches A."""

import pytest

from aws_dms_to_hudi_spark.config import TableConfig
from aws_dms_to_hudi_spark.storage import CuratedTable

SCHEMA = "k int, p string, v string, trx_seq string"
BASE = [(1, "A", "a1", "01"), (2, "A", "a2", "01"), (3, "B", "b3", "01")]


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "p", "v", "trx_seq")
                  .collect())


@pytest.mark.parametrize("touch_a", [False, True])
def test_key_moved_across_partitions_keeps_old_row(spark, tmp_path,
                                                   touch_a):
    t = CuratedTable(spark, tmp_path / "t", TableConfig(
        name="t", record_key=["k"], is_partitioned=True,
        partition_path="p", record_index=True))
    t.bulk_insert(spark.createDataFrame(BASE, SCHEMA))
    batch = [(1, "B", "moved", "02")]
    if touch_a:
        batch.append((2, "A", "a2new", "02"))
    t.upsert(spark.createDataFrame(batch, SCHEMA))

    got = _rows(t.read())
    assert [r for r in got if r[0] == 1] == [
        (1, "A", "a1", "01"), (1, "B", "moved", "02")]
    assert (2, "A", "a2new" if touch_a else "a2",
            "02" if touch_a else "01") in got
    probe = spark.createDataFrame([(1,)], "k int")
    assert _rows(t.point_lookup(probe)) == [r for r in got if r[0] == 1]
