"""Read-side index trio (beyond-reference; Hudi metadata-table analogs):

- column-stats data skipping (COLUMN_STATS): manifest-recorded per-dir
  min/max prune file groups before the scan, results stay exact;
- record-level index (RECORD_INDEX): key -> dir-key mapping, itself a
  bucketed CuratedTable (as Hudi's metadata table is itself a Hudi
  table), serving point lookups that touch only mapped file groups;
- write-time CDC images (hoodie.table.cdc.enabled): read_cdc serves
  (op, before, after) per changed key per commit from artifacts
  persisted at write time, never from historical snapshot replays.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from aws_dms_to_hudi_spark import cdc
from aws_dms_to_hudi_spark.config import TableConfig
from aws_dms_to_hudi_spark.storage import (
    BUCKET_COL,
    CuratedTable,
    DIR_KEY_COL,
    RANGE_COL,
    RLI_BUCKETS,
)

from tests.util import assert_same, duck_con

REC = cdc.RECIPES["orders"]


def _month(col="o_orderdate"):
    return F.substring(F.col(col).cast("string"), 1, 7)


def _build(spark, sf_dir, tmp_path, **cfg_kw):
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "__sx_orders"
    )
    cfg = TableConfig(
        name="orders_ix",
        record_key=["o_orderkey"],
        is_partitioned=True,
        partition_path="o_month",
        **cfg_kw,
    )
    t = CuratedTable(spark, tmp_path / "orders_ix", cfg)
    for b in range(cdc.N_BATCHES):
        batch = spark.sql(
            cdc.batch_sql(REC, b, src="__sx_orders")
        ).withColumn("o_month", _month())
        (t.bulk_insert if b == 0 else t.upsert)(batch)
    return t


WIN_LO = datetime.datetime(1996, 1, 1)
WIN_HI = datetime.datetime(1996, 7, 1)
DATE_FILT = [("o_orderdate", ">=", WIN_LO), ("o_orderdate", "<", WIN_HI)]


# ---------------------------------------------------------------- col stats


def test_col_stats_prune_strict_subset_and_exact(spark, sf_smoke, tmp_path):
    t = _build(spark, sf_smoke, tmp_path,
               stats_columns=["o_orderdate", "o_totalprice"])
    c = t.latest_commit()
    assert c.col_stats and set(c.col_stats) == set(c.data.values())
    pruned = t._prune_stats_dirs(c, DATE_FILT)
    assert 0 < len(pruned) < len(c.data)
    got = t.read(filters=DATE_FILT)
    full = t.read().filter(
        (F.col("o_orderdate") >= F.lit(WIN_LO))
        & (F.col("o_orderdate") < F.lit(WIN_HI))
    )
    assert got.count() == full.count() > 0
    assert (
        got.exceptAll(full).count() == 0 and full.exceptAll(got).count() == 0
    )


def test_col_stats_unknown_column_never_prunes(spark, sf_smoke, tmp_path):
    t = _build(spark, sf_smoke, tmp_path, stats_columns=["o_orderdate"])
    c = t.latest_commit()
    # o_totalprice has no stats: every dir must survive pruning
    filt = [("o_totalprice", ">", 1.0)]
    assert t._prune_stats_dirs(c, filt) == list(c.data.values())
    # and the residual filter still applies exactly
    assert t.read(filters=filt).count() == t.read().filter(
        "o_totalprice > 1.0"
    ).count()


def test_col_stats_all_pruned_returns_typed_empty(spark, sf_smoke, tmp_path):
    t = _build(spark, sf_smoke, tmp_path, stats_columns=["o_orderdate"])
    far = [("o_orderdate", ">=", datetime.datetime(2050, 1, 1))]
    assert t._prune_stats_dirs(t.latest_commit(), far) == []
    got = t.read(filters=far)
    assert got.count() == 0
    assert "o_orderkey" in got.columns


def test_col_stats_carry_forward_on_narrow_upsert(spark, sf_smoke, tmp_path):
    t = _build(spark, sf_smoke, tmp_path, stats_columns=["o_orderdate"])
    prev = t.latest_commit()
    narrow = (
        t.read().orderBy("o_orderkey").limit(3)
        .withColumn("trx_seq", F.concat(F.lit("9"), F.col("trx_seq")))
    )
    c = t.upsert(narrow)
    carried = [r for r in c.data.values() if r in prev.data.values()]
    assert carried, "narrow upsert must carry dirs forward"
    for rel in carried:
        assert c.col_stats[rel] == prev.col_stats[rel]


def test_col_stats_mor_snapshot_never_prunes(spark, sf_smoke, tmp_path):
    """A delta row may carry an OLDER ordering value than a pruned base
    row; snapshot reads with outstanding deltas must scan every dir."""
    spark.read.parquet(f"{sf_smoke}/supplier.parquet").createOrReplaceTempView(
        "__sx_supp"
    )
    rec = cdc.RECIPES["supplier"]
    cfg = TableConfig(
        name="supp_mor", record_key=["s_suppkey"], table_type="MERGE_ON_READ",
        stats_columns=["s_acctbal"],
    )
    t = CuratedTable(spark, tmp_path / "supp_mor", cfg)
    t.bulk_insert(spark.sql(cdc.batch_sql(rec, 0, src="__sx_supp")))
    t.upsert(spark.sql(cdc.batch_sql(rec, 1, src="__sx_supp")))
    c = t.latest_commit()
    assert c.deltas
    filt = [("s_acctbal", ">=", 0.0)]
    # read path with deltas: dirs not pruned (pruning branch skipped),
    # result still exact vs the replay oracle
    got = t.read(filters=filt).select(*rec.columns, "trx_seq")
    con = duck_con(sf_smoke)
    oracle = con.execute(
        f"SELECT * FROM ({cdc.replay_sql(rec, 1)}) r WHERE s_acctbal >= 0.0"
    ).df()
    assert_same(got, oracle)


# ------------------------------------------------------- record-level index


@pytest.fixture(scope="module")
def rli_table(spark, sf_smoke, tmp_path_factory):
    return _build(
        spark, sf_smoke, tmp_path_factory.mktemp("rli"), record_index=True
    )


def _probe(spark, mod, rem):
    return spark.sql(
        f"SELECT DISTINCT o_orderkey FROM __sx_orders "
        f"WHERE o_orderkey % {mod} = {rem}"
    )


def test_rli_lookup_equals_full_scan(spark, sf_smoke, rli_table):
    probe = _probe(spark, 97, 1)
    got = rli_table.point_lookup(probe)
    want = rli_table.read().join(probe, "o_orderkey", "left_semi")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert BUCKET_COL not in got.columns and RANGE_COL not in got.columns


def test_rli_reads_strict_dir_subset(spark, sf_smoke, rli_table):
    """The probed keys map to a handful of months; the lookup must read
    only those dirs (the index's whole point)."""
    one = spark.createDataFrame([(3,)], "o_orderkey long")
    c = rli_table.latest_commit()
    rli = rli_table._rli()
    icommit = rli.latest_commit()
    idx = rli._read_dirs(icommit.schemas_of(icommit.data.values()))
    hit_dirs = {
        r[0]
        for r in idx.join(one, "o_orderkey", "left_semi")
        .select(DIR_KEY_COL).distinct().collect()
    }
    assert 0 < len(hit_dirs) < len(c.data)
    got = rli_table.point_lookup(one)
    assert got.count() == rli_table.read().filter("o_orderkey = 3").count()


def test_rli_deleted_key_absent_reinserted_present(spark, sf_smoke, rli_table):
    # batch 2 deletes key_num % 10 = 7; batch 3 re-inserts % 20 = 7
    dead = _probe(spark, 20, 17)  # deleted, never re-inserted
    back = _probe(spark, 20, 7)  # deleted then re-inserted
    assert rli_table.point_lookup(dead).count() == 0
    n_back = back.count()
    assert n_back > 0
    assert rli_table.point_lookup(back).count() == n_back


def test_rli_index_is_bucketed_table(spark, sf_smoke, rli_table):
    rli = rli_table._rli()
    ic = rli.latest_commit()
    assert ic is not None
    assert all(k.startswith(f"{BUCKET_COL}=") for k in ic.data)
    assert len(ic.data) <= RLI_BUCKETS
    # narrow upsert rewrote only the touched index buckets
    assert ic.parent is not None


def test_rli_survives_insert_overwrite_as_false_positives(
    spark, sf_smoke, tmp_path
):
    """insert_overwrite removes keys the batch omits without touching
    the index; stale entries are false positives cleared by the final
    semi-join, never wrong results."""
    t = _build(spark, sf_smoke, tmp_path, record_index=True)
    # restate one month with only its 2 lowest keys
    month = "1996-03"
    keep = (
        t.read().filter(F.col("o_month") == month)
        .orderBy("o_orderkey").limit(2)
        .withColumn("trx_seq", F.concat(F.lit("9"), F.col("trx_seq")))
    )
    kept_keys = [r[0] for r in keep.select("o_orderkey").collect()]
    gone = t.read().filter(
        (F.col("o_month") == month)
        & ~F.col("o_orderkey").isin(kept_keys)
    ).select("o_orderkey").distinct()
    n_gone = gone.count()
    assert n_gone > 0
    t.insert_overwrite(keep)
    assert t.point_lookup(gone).count() == 0  # stale entries, no rows
    probe = spark.createDataFrame(
        [(k,) for k in kept_keys], "o_orderkey long"
    )
    assert t.point_lookup(probe).count() == len(kept_keys)


# --------------------------------------------------------------- CDC images


def test_read_cdc_matches_consecutive_state_oracle(spark, sf_smoke, tmp_path):
    t = _build(spark, sf_smoke, tmp_path, cdc_images=True)
    got = t.read_cdc(image_cols=["o_totalprice"]).select(
        "o_orderkey",
        "commit_version",
        "op",
        F.expr(
            "CAST(floor(before_o_totalprice * 100 + 0.5) AS BIGINT)"
        ).alias("before_cents"),
        F.expr(
            "CAST(floor(after_o_totalprice * 100 + 0.5) AS BIGINT)"
        ).alias("after_cents"),
    )
    con = duck_con(sf_smoke)
    con.execute(
        "CREATE VIEW __sx_orders AS SELECT * FROM orders"
    )
    parts = []
    for b in range(cdc.N_BATCHES):
        cur = cdc.replay_sql(REC, b, src="__sx_orders")
        if b == 0:
            parts.append(f"""
SELECT o_orderkey, CAST(1 AS BIGINT) AS commit_version, 'I' AS op,
       CAST(NULL AS BIGINT) AS before_cents,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS after_cents
FROM ({cur}) s""")
            continue
        prv = cdc.replay_sql(REC, b - 1, src="__sx_orders")
        parts.append(f"""
SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
       CAST({b + 1} AS BIGINT) AS commit_version,
       CASE WHEN c.o_orderkey IS NULL THEN 'D'
            WHEN p.o_orderkey IS NULL THEN 'I' ELSE 'U' END AS op,
       CAST(floor(p.o_totalprice * 100 + 0.5) AS BIGINT) AS before_cents,
       CAST(floor(c.o_totalprice * 100 + 0.5) AS BIGINT) AS after_cents
FROM ({cur}) c FULL OUTER JOIN ({prv}) p USING (o_orderkey)
WHERE c.trx_seq IS DISTINCT FROM p.trx_seq""")
    oracle = con.execute(" UNION ALL ".join(parts)).df()
    assert_same(got, oracle)


def test_read_cdc_window_and_noop_suppression(spark, sf_smoke, tmp_path):
    t = _build(spark, sf_smoke, tmp_path, cdc_images=True)
    # a batch whose rows all carry STRICTLY older ordering values than
    # the stored state loses precombine everywhere: zero CDC rows
    # (no-op suppression). batch-1 seqs are block 10^12 + rid; dropping
    # the block lands strictly below the stored batch-1 values.
    older = spark.sql(cdc.batch_sql(REC, 1, src="__sx_orders")).withColumn(
        "o_month", _month()
    ).withColumn(
        "trx_seq",
        F.lpad(
            (F.col("trx_seq").cast("long") - F.lit(10**12)).cast("string"),
            50,
            "0",
        ),
    )
    c = t.upsert(older)
    win = t.read_cdc(begin_version=c.parent, end_version=c.version,
                     image_cols=["o_totalprice"])
    assert win.count() == 0  # every row lost precombine: all no-ops
    # windowing: versions 2..3 only
    w23 = t.read_cdc(begin_version=1, end_version=3)
    assert {r[0] for r in w23.select("commit_version").distinct().collect()} == {2, 3}


def test_cdc_images_rejected_on_mor():
    with pytest.raises(ValueError, match="cdc_images"):
        TableConfig(
            name="x", record_key=["k"], table_type="MERGE_ON_READ",
            cdc_images=True,
        )


# ------------------------------------------- restore × record-level index


def test_restore_rebuilds_record_index(spark, sf_smoke, tmp_path):
    """A key deleted AFTER the restore target is live again after
    restore; the index must serve it (the pre-fix behavior left the
    delete's tombstone in the RLI, so point_lookup returned an empty
    result for a live key — a false negative the final semi-join
    cannot repair)."""
    t = _build(spark, sf_smoke, tmp_path, record_index=True)
    # batch 2 (version 3) deletes key_num % 10 = 7; %20==17 never returns
    dead = spark.sql(
        "SELECT DISTINCT o_orderkey FROM __sx_orders WHERE o_orderkey % 20 = 17"
    )
    n_dead = dead.count()
    assert n_dead > 0
    assert t.point_lookup(dead).count() == 0  # tombstoned while current
    t.restore(2)  # state after batch 1: the deleted keys are live again
    got = t.point_lookup(dead)
    want = t.read().join(dead, "o_orderkey", "left_semi")
    assert got.count() == want.count() == n_dead
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# -------------------------------------- stats codec: date×timestamp mixing


def test_stats_date_timestamp_boundary_not_pruned():
    """Date-tagged stats vs datetime filter values order the way
    Spark's date==timestamp-at-midnight cast does; tag-blind ISO-string
    comparison saw '1996-01-01T00:00:00' > '1996-01-01' and pruned a
    dir whose rows match."""
    from aws_dms_to_hudi_spark.storage import _stats_prove_empty

    stats = {"c": [["d", "1996-01-01"], ["d", "1996-01-01"]]}
    eq_mid = [("c", "=", datetime.datetime(1996, 1, 1))]
    assert not _stats_prove_empty(stats, eq_mid)
    # pruning power is kept: a datetime strictly past the dir's max day
    assert _stats_prove_empty(
        stats, [("c", "=", datetime.datetime(1996, 1, 2))]
    )
    # and within-day times still cannot match a pure-date dir... but the
    # codec cannot know the column is date-typed, so >= midnight of the
    # same day must NOT prune (rows at 1996-01-01 cast to midnight)
    assert not _stats_prove_empty(
        stats, [("c", ">=", datetime.datetime(1996, 1, 1))]
    )
    assert _stats_prove_empty(
        stats, [("c", ">", datetime.datetime(1996, 1, 1))]
    )
    # mixed kinds (string stats vs datetime filter) never prune
    s_stats = {"c": [["s", "1996-01-01"], ["s", "1996-01-01"]]}
    assert not _stats_prove_empty(
        s_stats, [("c", "=", datetime.datetime(1996, 1, 2))]
    )
    # tz-suffixed timestamps are conservatively un-prunable
    t_stats = {"c": [["t", "1996-01-01T00:00:00+00:00"],
                     ["t", "1996-01-01T00:00:00+00:00"]]}
    assert not _stats_prove_empty(
        t_stats, [("c", "=", datetime.datetime(1997, 1, 1))]
    )


def test_stats_date_filter_on_date_stats_still_prunes():
    from aws_dms_to_hudi_spark.storage import _stats_prove_empty

    stats = {"c": [["d", "1996-01-01"], ["d", "1996-03-31"]]}
    assert _stats_prove_empty(stats, [("c", "<", datetime.date(1996, 1, 1))])
    assert not _stats_prove_empty(
        stats, [("c", "<=", datetime.date(1996, 1, 1))]
    )
    assert _stats_prove_empty(stats, [("c", ">", datetime.date(1996, 3, 31))])


# ------------------------------------------------ cdc dir version GC


def test_clean_reclaims_cdc_before_image_dirs(spark, sf_smoke, tmp_path):
    """clean() ages out *_cdcbefore dirs with their commits — before
    the fix they were never reclaimed and grew without bound."""
    t = _build(spark, sf_smoke, tmp_path, cdc_images=True)
    cdc_dirs_before = sorted(
        p.name for p in t.root.iterdir() if p.name.endswith("_cdcbefore")
    )
    assert len(cdc_dirs_before) >= 2  # upserts recorded before-images
    removed = t.clean(retained_commits=1)
    live = t.latest_commit()
    cdc_dirs_after = sorted(
        p.name for p in t.root.iterdir() if p.name.endswith("_cdcbefore")
    )
    # old before-image dirs are gone; the retained commit's (if any) stays
    keep = {live.cdc_dir} if live.cdc_dir else set()
    assert set(cdc_dirs_after) == keep
    assert any(d.endswith("_cdcbefore") for d in removed)
