"""Guards on the work one COW sync round does: the Spark jobs of a
partitioned `hudi_delta` round, and a catalog that is rewritten only
when its entry changes."""

import os

from aws_dms_to_hudi_spark import cdc
from aws_dms_to_hudi_spark.catalog import Catalog

from tests.test_engine_e2e import land_batches, make_engine

# The footer read of the source batch, the changelog write (its
# precombine exchange, then the write) and the rewrite (its one exchange,
# then the write): 5. The touched partitions are read under the schema
# their commit recorded, with no footer job. This rewrite fits one task,
# so its range exchange runs no sampling job; one more exchange, footer
# read or collect exceeds the bound.
MAX_JOBS_PER_ROUND = 5


def test_partitioned_cow_round_job_count(spark, sf_smoke, tmp_path):
    table = "lineitem"
    recipe = cdc.RECIPES[table]
    engine = make_engine(spark, tmp_path, {table: {
        "record_key": ",".join(recipe.key_cols),
        "source_ordering_field": "trx_seq",
        "is_partitioned": True,
        "partition_path": "l_returnflag",
    }})
    land_batches(spark, sf_smoke, tmp_path, table, 0)
    assert engine.run("hudi_bulk_insert").succeeded
    cdc.write_raw_batch(spark, sf_smoke, recipe, 1, tmp_path / "raw", "tpch")

    tracker = spark.sparkContext.statusTracker()
    group = f"merge-tpch_public_{table}"
    before = set(tracker.getJobIdsForGroup(group))
    r = engine.run("hudi_delta")
    assert r.succeeded, r.steps
    jobs = set(tracker.getJobIdsForGroup(group)) - before
    assert 0 < len(jobs) <= MAX_JOBS_PER_ROUND, sorted(jobs)


def test_catalog_sync_writes_only_on_change(tmp_path):
    cat = Catalog(tmp_path)
    schema = '{"type": "struct", "fields": []}'
    cat.sync("t", tmp_path / "t", ["k"], "p", schema)
    st = os.stat(cat.path)
    cat.sync("t", tmp_path / "t", ["k"], "p", schema)
    again = os.stat(cat.path)
    assert (again.st_ino, again.st_mtime_ns) == (st.st_ino, st.st_mtime_ns)

    evolved = ('{"type": "struct", "fields": [{"name": "v", "type": '
               '"long", "nullable": true, "metadata": {}}]}')
    cat.sync("t", tmp_path / "t", ["k"], "p", evolved)
    assert os.stat(cat.path).st_ino != st.st_ino
    assert cat.tables()["t"]["schema"]["fields"][0]["name"] == "v"
