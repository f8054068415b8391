"""Schema on the timeline: every commit records the schema of what it
maps, reads take it from there instead of parquet footers, and partition
column types come from the schema, never from dir names."""

import ast
import datetime
import json
from pathlib import Path

from pyspark.sql import functions as F

from aws_dms_to_hudi_spark import cdc
from aws_dms_to_hudi_spark.catalog import Catalog
from aws_dms_to_hudi_spark.config import MERGE_ON_READ, TableConfig
from aws_dms_to_hudi_spark.storage import COMMITS_DIR, CuratedTable

from tests.test_engine_e2e import land_batches, make_engine

REPO = Path(__file__).resolve().parent.parent
ZIPS = ("02134", "10001")  # string partition values that look like numbers


def _zip_rows(spark, keys, seq):
    return spark.createDataFrame(
        [(k, ZIPS[k % 2], f"v{k}_{seq}", f"{seq:04d}", False) for k in keys],
        "k int, zip string, v string, trx_seq string, "
        "_hoodie_is_deleted boolean")


def _zip_table(spark, root, **cfg):
    cfg.setdefault("is_partitioned", True)
    cfg.setdefault("partition_path", "zip")
    return CuratedTable(spark, root,
                        TableConfig(name="z", record_key=["k"], **cfg))


def _assert_zips(df, n):
    assert dict(df.dtypes)["zip"] == "string"
    rows = df.collect()
    assert len(rows) == n
    assert sorted({r["zip"] for r in rows}) == list(ZIPS)


def test_numeric_string_partition_values_keep_type_and_value(spark, tmp_path):
    t = _zip_table(spark, tmp_path / "cow")
    t.bulk_insert(_zip_rows(spark, range(6), 1))
    _assert_zips(t.read(), 6)
    t.upsert(_zip_rows(spark, [0, 1, 6], 2))
    _assert_zips(t.read(), 7)
    t.cluster()
    _assert_zips(t.read(), 7)
    t.restore(1)
    _assert_zips(t.read(), 6)
    flat = t.evolve_partitioning(None)
    _assert_zips(flat.read(), 6)
    again = flat.evolve_partitioning("zip")
    _assert_zips(again.read(), 6)
    again.upsert(_zip_rows(spark, [7], 3))
    _assert_zips(again.read(), 7)
    _assert_zips(again.read_incremental(), 8)  # key 6, since restored away

    m = _zip_table(spark, tmp_path / "mor", table_type=MERGE_ON_READ)
    m.bulk_insert(_zip_rows(spark, range(6), 1))
    m.upsert(_zip_rows(spark, [0, 7], 2))
    _assert_zips(m.read(), 7)
    m.compact()
    _assert_zips(m.read(), 7)
    m.upsert(_zip_rows(spark, [1, 8], 3))
    _assert_zips(m.read(), 8)


def _jobs_while(spark, fn):
    """Spark jobs started while ``fn`` runs (its own job group)."""
    sc = spark.sparkContext
    group = "schema-timeline-probe"
    sc.setJobGroup(group, "probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_building_reads_runs_no_spark_job(spark, tmp_path):
    rows = lambda keys, seq: spark.createDataFrame(  # noqa: E731
        [(k, "ABCD"[k % 4], k * seq, f"{seq:04d}") for k in keys],
        "k int, p string, v int, trx_seq string")
    t = CuratedTable(spark, tmp_path / "cow", TableConfig(
        name="c", record_key=["k"], is_partitioned=True, partition_path="p"))
    t.bulk_insert(rows(range(16), 1))
    for seq, part in enumerate("BCD", start=2):  # one partition per round
        t.upsert(rows([k for k in range(16) if "ABCD"[k % 4] == part], seq))
    assert len({d.split("/")[0] for d in t.latest_commit().data.values()}) == 4

    snap, jobs = _jobs_while(spark, t.read)
    assert jobs == 0
    assert snap.count() == 16
    inc, jobs = _jobs_while(spark, t.read_incremental)
    assert jobs == 0
    assert inc.count() == 16

    m = CuratedTable(spark, tmp_path / "mor", TableConfig(
        name="m", record_key=["k"], table_type=MERGE_ON_READ))
    m.bulk_insert(rows(range(8), 1))
    m.upsert(rows([0, 8], 2))
    m.upsert(rows([1, 9], 3))
    assert len(m.latest_commit().deltas) == 2
    merged, jobs = _jobs_while(spark, m.read)
    assert jobs == 0
    assert merged.count() == 10


def test_carried_forward_dir_is_reconciled_onto_widened_types(spark, tmp_path):
    """Spark's parquet reader cannot read long as double nor date as
    timestamp: the carried-forward partition is read under the schema it
    was written with and cast onto the table schema."""
    t = CuratedTable(spark, tmp_path / "t", TableConfig(
        name="w", record_key=["k"], is_partitioned=True, partition_path="p"))
    t.bulk_insert(spark.createDataFrame(
        [(1, "A", 2**40, datetime.date(2024, 1, 2), "0001"),
         (2, "B", 7, datetime.date(2024, 1, 3), "0001")],
        "k int, p string, v long, d date, trx_seq string"))
    c = t.upsert(spark.createDataFrame(
        [(1, "A", 0.5, datetime.datetime(2024, 2, 1, 6), "0002")],
        "k int, p string, v double, d timestamp, trx_seq string"))
    assert set(c.dir_schemas) >= {"v00000001"}  # B's older schema
    df = t.read()
    assert dict(df.dtypes)["v"] == "double"
    assert dict(df.dtypes)["d"] == "timestamp"
    got = {r["k"]: (r["v"], r["d"]) for r in df.collect()}
    assert got == {1: (0.5, datetime.datetime(2024, 2, 1, 6)),
                   2: (7.0, datetime.datetime(2024, 1, 3))}


def test_manifest_records_each_schema_once(spark, tmp_path):
    t = _zip_table(spark, tmp_path / "t", cdc_images=True)
    t.bulk_insert(_zip_rows(spark, range(4), 1))
    t.upsert(_zip_rows(spark, [0], 2))
    t.upsert(_zip_rows(spark, [1], 3).withColumn("extra", F.lit(1)))
    for p in sorted((t.root / COMMITS_DIR).glob("[0-9]*.json")):
        d = json.loads(p.read_text())
        texts = [d["schema"], *(e["schema"] for e in d["dir_schemas"])]
        assert all(texts) and len(set(texts)) == len(texts), p.name
    last = t.latest_commit()
    # the data version the last upsert did not touch keeps its schema
    assert last.schema_of(last.data["zip=02134"]) != last.schema
    assert "extra" in last.schema


def test_manifest_without_schemas_is_read_by_inference(spark, tmp_path):
    """Manifests written before commits recorded schemas still read (from
    footers), and the next commit records the schemas it carries."""
    rows = spark.createDataFrame(
        [(k, "AB"[k % 2], k, "0001") for k in range(6)],
        "k int, p string, v int, trx_seq string")
    t = CuratedTable(spark, tmp_path / "t", TableConfig(
        name="l", record_key=["k"], is_partitioned=True, partition_path="p"))
    t.bulk_insert(rows)
    before = t.read().schema
    mpath = t.root / COMMITS_DIR / "00000001.json"
    d = json.loads(mpath.read_text())
    del d["schema"], d["dir_schemas"]
    mpath.write_text(json.dumps(d))
    assert t.latest_commit().schema_of("v00000001/p=A") is None
    assert t.read().schema == before and t.read().count() == 6
    c = t.upsert(rows.filter("p = 'A'").withColumn("trx_seq", F.lit("0002")))
    assert c.schema == before.json()
    assert list(c.dir_schemas) == ["v00000002_changelog"]
    assert t.read().count() == 6


def test_staged_empty_upsert_on_empty_table(spark, tmp_path):
    t = _zip_table(spark, tmp_path / "t")
    empty = _zip_rows(spark, [], 1)
    t.bulk_insert(empty)
    staged = t.prepare_upsert(empty)
    audit = t.read_staged(staged)
    assert audit.count() == 0
    assert audit.columns == t.read().columns
    t.commit_staged(staged)
    assert t.read().count() == 0 and t.read().columns == audit.columns


def test_catalog_keeps_a_column_the_batch_dropped(spark, sf_smoke, tmp_path):
    table = "orders"
    hudi = {"record_key": "o_orderkey", "source_ordering_field": "trx_seq"}
    land_batches(spark, sf_smoke, tmp_path, table, 0)
    assert make_engine(spark, tmp_path, {table: hudi}).run(
        "hudi_bulk_insert").succeeded
    cdc.write_raw_batch(spark, sf_smoke, cdc.RECIPES[table], 1,
                        tmp_path / "raw", "tpch")
    narrow = make_engine(spark, tmp_path, {table: {
        **hudi,
        "transformer_sql": "SELECT * EXCEPT (o_orderpriority) FROM <SRC>",
    }})
    assert narrow.run("hudi_delta").succeeded
    name = f"tpch_public_{table}"
    entry = Catalog(tmp_path / "curated").tables()[name]
    cols = [f["name"] for f in entry["schema"]["fields"]]
    assert "o_orderpriority" in cols
    assert cols == narrow.read_table(name).columns


def _footer_reads(tree):
    """``.parquet(...)`` read calls with no ``.schema(...)`` in their
    receiver chain, outside ``_footer_read`` (writes go through
    ``.write``)."""
    found = []

    def chain(node):
        names = []
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute):
                names.append(node.attr)
            node = node.func if isinstance(node, ast.Call) else node.value
        return names

    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef) or fn.name == "_footer_read":
            continue
        for node in ast.walk(fn):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"):
                names = chain(node.func.value)
                if "write" not in names and "schema" not in names:
                    found.append(f"{fn.name}:{node.lineno}")
    return found


def test_only_one_helper_infers_a_schema():
    tree = ast.parse(
        (REPO / "aws_dms_to_hudi_spark" / "storage.py").read_text())
    assert not _footer_reads(tree), (
        "storage.py reads parquet without .schema( outside _footer_read: "
        f"{_footer_reads(tree)}")
    helpers = [n for n in ast.walk(tree)
               if isinstance(n, ast.FunctionDef) and n.name == "_footer_read"]
    assert len(helpers) == 1
    # the guard sees a footer read where one is added
    probe = ast.parse("def f(self):\n    return self.spark.read"
                      ".option('basePath', p).parquet(p)\n")
    assert _footer_reads(probe) == ["f:2"]
