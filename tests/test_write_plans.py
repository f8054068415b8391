"""Every parquet write a storage operation makes keeps its physical plan.

Each scenario runs a sequence of write operations on one table layout and
records, per parquet write, the operator counts of the plan Spark
executed for it (read from the SQL status store's plan graph, so the
counts include what the writer itself adds, such as the planned-write
sort): exchanges by kind, sorts, windows and window group limits,
projects and filters. ``write_plans_golden.json`` holds the counts;
regenerate it with ``python -m tests.test_write_plans`` only when a plan
is meant to change.
"""

import contextlib
import json
import re
from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter

from aws_dms_to_hudi_spark.config import MERGE_ON_READ, TableConfig
from aws_dms_to_hudi_spark.storage import CuratedTable

GOLDEN_PATH = Path(__file__).resolve().parent / "write_plans_golden.json"

SCHEMA = ("k int, p string, v string, x double, y double, trx_seq string, "
          "_hoodie_is_deleted boolean")
COUNTED = ("Sort", "Window", "WindowGroupLimit", "Project", "Filter")
EXCHANGE_KINDS = (("rangepartitioning", "range"),
                  ("hashpartitioning", "hash"),
                  ("SinglePartition", "single"))


def _rows(spark, keys, seq, deleted=()):
    return spark.createDataFrame(
        [(k, "ABC"[k % 3], f"v{k}_{seq}", float(k % 7), float(k % 5),
          f"{seq:04d}", k in deleted) for k in keys], SCHEMA)


def _base(spark):
    return _rows(spark, range(48), 1)


def _delta(spark, seq=2):
    """Updates, inserts and two deletes."""
    return _rows(spark, [*range(0, 12), 48, 49, 50], seq, deleted={9, 10})


def _overwrite(spark):
    """Rows of partition A only (k % 3 == 0)."""
    return _rows(spark, [0, 3, 6, 60], 3)


def _plan_counts(spark, execution_id):
    graph = spark._jsparkSession.sharedState().statusStore().planGraph(
        execution_id)
    nodes = graph.allNodes()
    counts = {}
    for i in range(nodes.size()):
        node = nodes.apply(i)
        name = node.name()
        if name == "Exchange":
            desc = node.desc()
            kind = next((k for token, k in EXCHANGE_KINDS if token in desc),
                        "other")
            name = f"Exchange {kind}"
        elif name not in COUNTED:
            continue
        counts[name] = counts.get(name, 0) + 1
    return dict(sorted(counts.items()))


def _rel(path, root):
    rel = str(Path(path).resolve().relative_to(Path(root).resolve()))
    return re.sub(r"v\d{8}(w[0-9a-f]{8})?",
                  lambda m: "vw" if m.group(1) else "v", rel)


@contextlib.contextmanager
def capture_writes(spark, root, out):
    """Append (written dir, plan counts) to ``out`` for each parquet write
    made inside the block."""
    original = DataFrameWriter.parquet
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def _ids():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return {ex.apply(i).executionId() for i in range(ex.size())}

    def parquet(self, path, *args, **kwargs):
        before = _ids()
        result = original(self, path, *args, **kwargs)
        new = sorted(_ids() - before)
        assert len(new) == 1, new
        out.append([_rel(path, root), _plan_counts(spark, new[0])])
        return result

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = original


def _table(spark, root, **cfg):
    return CuratedTable(spark, root, TableConfig(
        name="t", record_key=["k"], **cfg))


def _partitioned(spark, root):
    t = _table(spark, root, is_partitioned=True, partition_path="p")
    yield "bulk_insert", lambda: t.bulk_insert(_base(spark))
    yield "upsert", lambda: t.upsert(_delta(spark))
    yield "insert_overwrite", lambda: t.insert_overwrite(_overwrite(spark))
    yield "cluster", lambda: t.cluster()
    yield "cluster_zorder", lambda: t.cluster(zorder_by=["x", "y"])
    evolved = {}
    yield "evolve_unpartitioned", lambda: evolved.setdefault(
        "t", t.evolve_partitioning(None))
    yield "upsert_evolved", lambda: evolved["t"].upsert(_delta(spark, 4))


def _unpartitioned(spark, root):
    t = _table(spark, root)
    yield "bulk_insert", lambda: t.bulk_insert(_base(spark))
    yield "upsert", lambda: t.upsert(_delta(spark))
    yield "insert_overwrite", lambda: t.insert_overwrite(_overwrite(spark))
    yield "delete_where", lambda: t.delete_where("k < 3")
    yield "cluster", lambda: t.cluster()
    yield "cluster_hilbert", lambda: t.cluster(hilbert_by=["x", "y"])
    evolved = {}
    yield "evolve_partitioned", lambda: evolved.setdefault(
        "t", t.evolve_partitioning("p"))
    yield "upsert_evolved", lambda: evolved["t"].upsert(_delta(spark, 4))


def _bucket(spark, root):
    t = _table(spark, root, num_buckets=4)
    yield "bulk_insert", lambda: t.bulk_insert(_base(spark))
    yield "upsert", lambda: t.upsert(_delta(spark))
    yield "insert_overwrite", lambda: t.insert_overwrite(_overwrite(spark))
    yield "cluster", lambda: t.cluster()


def _key_range(spark, root):
    t = _table(spark, root, key_range_groups=4)
    yield "bulk_insert", lambda: t.bulk_insert(_base(spark))
    yield "upsert", lambda: t.upsert(_delta(spark))
    yield "cluster", lambda: t.cluster()


def _mor_partitioned(spark, root):
    t = _table(spark, root, is_partitioned=True, partition_path="p",
               table_type=MERGE_ON_READ)
    yield "bulk_insert", lambda: t.bulk_insert(_base(spark))
    yield "upsert", lambda: t.upsert(_delta(spark))
    yield "compact", lambda: t.compact()
    yield "upsert_again", lambda: t.upsert(_delta(spark, 4))
    yield "insert_overwrite", lambda: t.insert_overwrite(_overwrite(spark))


def _mor_unpartitioned(spark, root):
    t = _table(spark, root, table_type=MERGE_ON_READ)
    yield "bulk_insert", lambda: t.bulk_insert(_base(spark))
    yield "upsert", lambda: t.upsert(_delta(spark))
    yield "compact", lambda: t.compact()


def _occ(spark, root):
    t = _table(spark, root, is_partitioned=True, partition_path="p")
    yield "bulk_insert", lambda: t.bulk_insert(_base(spark))
    yield "prepare_commit", lambda: t.commit_staged(
        t.prepare_upsert(_delta(spark)))


def _cdc_images(spark, root):
    for name, cfg in (("partitioned", {"is_partitioned": True,
                                       "partition_path": "p"}),
                      ("unpartitioned", {})):
        t = _table(spark, Path(root) / name, cdc_images=True, **cfg)
        yield f"{name}_bulk_insert", lambda t=t: t.bulk_insert(_base(spark))
        yield f"{name}_upsert", lambda t=t: t.upsert(_delta(spark))


def _indexes(spark, root):
    t = _table(spark, root, is_partitioned=True, partition_path="p",
               record_index=True, secondary_index="v")
    yield "bulk_insert", lambda: t.bulk_insert(_base(spark))
    yield "upsert", lambda: t.upsert(_delta(spark))
    yield "insert_overwrite", lambda: t.insert_overwrite(_overwrite(spark))


def _vectors_lineage(spark, root):
    t = _table(spark, root, deletion_vectors=True, row_lineage=True)
    yield "bulk_insert", lambda: t.bulk_insert(_base(spark))
    yield "delete_keys", lambda: t.delete_keys(
        spark.createDataFrame([(1,), (2,)], "k int"))
    yield "upsert", lambda: t.upsert(_delta(spark))


SCENARIOS = {
    "partitioned": _partitioned,
    "unpartitioned": _unpartitioned,
    "bucket": _bucket,
    "key_range": _key_range,
    "mor_partitioned": _mor_partitioned,
    "mor_unpartitioned": _mor_unpartitioned,
    "occ": _occ,
    "cdc_images": _cdc_images,
    "indexes": _indexes,
    "vectors_lineage": _vectors_lineage,
}


def run_scenario(spark, name, root):
    """[[operation, [[written dir, plan counts], ...]], ...]"""
    steps = []
    for op, thunk in SCENARIOS[name](spark, root):
        writes = []
        with capture_writes(spark, root, writes):
            thunk()
        steps.append([op, writes])
    return steps


@pytest.mark.parametrize("name", list(SCENARIOS))
def test_write_plans_match_golden(spark, tmp_path, name):
    golden = json.loads(GOLDEN_PATH.read_text())[name]
    got = run_scenario(spark, name, tmp_path / name)
    assert [op for op, _ in got] == [op for op, _ in golden]
    for (op, writes), (_, want) in zip(got, golden):
        assert writes == want, op


if __name__ == "__main__":
    import tempfile

    from aws_dms_to_hudi_spark.session import get_spark

    session = get_spark("write-plans-golden", master="local[8]", extra_conf={
        "spark.sql.shuffle.partitions": "8"})
    with tempfile.TemporaryDirectory() as tmp:
        plans = {n: run_scenario(session, n, Path(tmp) / n)
                 for n in SCENARIOS}
    GOLDEN_PATH.write_text(json.dumps(plans, indent=1) + "\n")
