"""A sync round reads the commit timeline three times: once for the
checkpoint and the bulk-insert decision, once in the write for its parent
commit, and once in the cleaner. The compaction decision uses the commit
the write returned."""

import pytest

from aws_dms_to_hudi_spark import cdc
from aws_dms_to_hudi_spark.storage import CuratedTable

from tests.test_engine_e2e import land_batches, make_engine

TIMELINE_READS_PER_ROUND = 3


@pytest.mark.parametrize("table_type", ["COPY_ON_WRITE", "MERGE_ON_READ"])
def test_delta_round_reads_timeline_three_times(spark, sf_smoke, tmp_path,
                                                monkeypatch, table_type):
    table = "lineitem"
    recipe = cdc.RECIPES[table]
    engine = make_engine(spark, tmp_path, {table: {
        "record_key": ",".join(recipe.key_cols),
        "source_ordering_field": "trx_seq",
        "is_partitioned": True,
        "partition_path": "l_returnflag",
        "table_type": table_type,
    }})
    land_batches(spark, sf_smoke, tmp_path, table, 0)
    assert engine.run("hudi_bulk_insert").succeeded
    cdc.write_raw_batch(spark, sf_smoke, recipe, 1, tmp_path / "raw", "tpch")

    calls = []
    commits = CuratedTable.commits

    def counted(self):
        calls.append(self.root)
        return commits(self)

    monkeypatch.setattr(CuratedTable, "commits", counted)
    r = engine.run("hudi_delta")
    assert r.succeeded, r.steps
    assert len(calls) == TIMELINE_READS_PER_ROUND, calls


def test_mor_round_compacts_on_the_third_delta(spark, sf_smoke, tmp_path):
    table = "supplier"
    recipe = cdc.RECIPES[table]
    engine = make_engine(spark, tmp_path, {table: {
        "record_key": ",".join(recipe.key_cols),
        "source_ordering_field": "trx_seq",
        "table_type": "MERGE_ON_READ",
    }})
    land_batches(spark, sf_smoke, tmp_path, table, 0)
    assert engine.run("hudi_bulk_insert").succeeded
    ops = []
    for b in range(1, cdc.N_BATCHES):
        cdc.write_raw_batch(spark, sf_smoke, recipe, b, tmp_path / "raw",
                            "tpch")
        assert engine.run("hudi_delta").succeeded
        ops.append(engine.table(f"tpch_public_{table}").latest_commit()
                   .operation)
    assert ops == ["delta_commit", "delta_commit", "compaction"]
