"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship CDC merge on sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2 / §5.3).
``oracle_sql()`` — DuckDB-equivalent SQL per query key.

Each gate is one ``qNN_*(spark, sf_dir)`` function declared by the
``@gate(oracle, collect=..., write=...)`` decorator directly above it:
the decorator carries the gate's DuckDB oracle and how the bench forces
it. ``GATES`` (gate-number order), ``queries()``, ``oracle_sql()`` and
``WRITE_GATES`` are all derived from those declarations.

Determinism rules used throughout (so Spark and DuckDB hash-match):

- floating-point SUMs go through per-row ``CAST(expr AS DECIMAL(18,4))``
  then an exact decimal SUM, then one final cast to DOUBLE — decimal
  addition is associative, so partial-aggregation order can't change the
  result (raw double sums differ between engines by accumulation order);
- every computed column is aliased identically on both sides;
- LIMIT queries order by a unique key suffix so the cut is deterministic;
- NULLS FIRST is pinned explicitly (Spark and DuckDB defaults differ).
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path
from typing import NamedTuple

import pandas as pd  # module-level: pandas_udf type hints resolve from here

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from aws_dms_to_hudi_spark import artifact_time, cdc
from aws_dms_to_hudi_spark.config import TableConfig
from aws_dms_to_hudi_spark.functions import analytics as fn_analytics
from aws_dms_to_hudi_spark.functions import bloom as fn_bloom
from aws_dms_to_hudi_spark.functions import bpe as fn_bpe
from aws_dms_to_hudi_spark.functions import components as fn_comp
from aws_dms_to_hudi_spark.functions import curation as fn_curation
from aws_dms_to_hudi_spark.functions import dedup as fn_dedup
from aws_dms_to_hudi_spark.functions import features as fn_feat
from aws_dms_to_hudi_spark.functions import incremental as fn_incr
from aws_dms_to_hudi_spark.functions import multimodal as fn_mm
from aws_dms_to_hudi_spark.functions import similarity as fn_sim
from aws_dms_to_hudi_spark.functions import sketches as fn_sk
from aws_dms_to_hudi_spark.functions import sampling as fn_sampling
from aws_dms_to_hudi_spark.functions import spatial as fn_spatial
from aws_dms_to_hudi_spark.functions import text as fn_text
from aws_dms_to_hudi_spark.operators import asof as op_asof
from aws_dms_to_hudi_spark.operators import range_join as op_range
from aws_dms_to_hudi_spark.operators import rank as rank_ops
from aws_dms_to_hudi_spark.operators import scd as op_scd
from aws_dms_to_hudi_spark.operators.merge import precombine, upsert_merge
from aws_dms_to_hudi_spark.operators.transformer import apply_transformer_sql
from aws_dms_to_hudi_spark.storage import CuratedTable

DEC = "decimal(18,4)"


# Base tables at or under this on-disk size are repartitioned to the core
# count and pinned MEMORY_ONLY by _t() (see its docstring). 256 MB covers
# every test corpus and any realistic dimension table while leaving fact
# tables on the scan-pushdown path.
_CACHE_MAX_BYTES = 256 * 1024 * 1024


class Gate(NamedTuple):
    """One gate: its query, its DuckDB oracle and how the bench drives it.

    ``collect``: the result is a handful of rows (aggregates, LIMIT k), so
    ``bench.force`` times it to ``collect()``, like a user fetching the
    answer. Every other gate is forced through the no-op sink: the full
    plan runs distributed, and the bench is not charged for driver-side
    serialization.

    ``write``: the gate's cost is the engine write / commit-replay path
    (multi-commit parquet writes, streaming micro-batch ingest, or
    O(commits) maintenance over the replay fixture) rather than query
    evaluation. Its oracle replays the same state in memory, so a
    ratio-vs-oracle means nothing for it; bench.py reports these gates'
    time apart from the read-only total.
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str
    collect: bool
    write: bool


_DECLARED: dict[str, Gate] = {}


def gate(oracle: str, *, collect: bool = False, write: bool = False):
    """Declare the decorated ``qNN_*`` function a gate checked against
    ``oracle``. GATES, queries(), oracle_sql() and WRITE_GATES are all
    derived from these declarations."""
    def declare(fn):
        assert fn.__name__ not in _DECLARED, fn.__name__
        _DECLARED[fn.__name__] = Gate(fn, oracle, collect, write)
        return fn
    return declare


# The CDC recipes several oracles replay.
_REC_O = cdc.RECIPES["orders"]
_REC_L = cdc.RECIPES["lineitem"]
_L_COLS = ", ".join(_REC_L.columns)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base-table DataFrame, memoized per (session, corpus, table).

    ``spark.read.parquet`` costs a driver-side file listing + footer
    schema read (~0.1s) EVERY call; across a 247-query suite that
    re-reads the same 10 immutable files hundreds of times, it was the
    single largest slice of the per-query floor. The memoized DataFrame
    is just the analyzed plan + file index — pennies of driver memory,
    and safe because the test corpora never change within a process
    (the same reason the tokhash/inverted-index views are
    session-cached). Executor-side scan behavior is identical."""
    return artifact_time.get(spark, "base_table", (sf_dir, name),
                             lambda: _pinned(spark, sf_dir, name))


def _pinned(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base table ``name`` of ``sf_dir``, pinned in memory when small."""
    if name == "events":
        df = _events(spark, sf_dir)
    else:
        df = spark.read.parquet(str(Path(sf_dir) / f"{name}.parquet"))
    # Hot-table columnar cache, size-gated. The test corpora ship as
    # ONE parquet row group per table, and Spark's vectorized reader
    # cannot split inside a row group — every base scan is a single
    # task, so CPU-dense operators (regex rules, JSON parsing, date
    # kernels) ran on 1 of 32 cores and the suite's modal gate paid
    # a serial-scan floor. Repartition to the core count and pin the
    # decoded batches in memory: exactly the cache-the-dimensions
    # move a production job makes, and the same session-shared-
    # artifact pattern as the tokhash/edge views. The size gate
    # keeps the path honest at scale — a 100 TB fact table (many
    # row groups, already scan-parallel) stays a plain pushdown
    # scan; only small hot tables are pinned.
    try:
        root = Path(sf_dir) / f"{name}.parquet"
        if root.is_dir():
            # Spark-written tables are directories; a dir's own
            # st_size is the inode (4 KiB), which under-counted the
            # 10x probe corpora into the pinned path — size the
            # actual part files.
            backing = [p for p in root.rglob("*") if p.is_file()]
        else:
            backing = [root] if root.exists() else []
        # fail CLOSED when no backing file matched (derived/unknown
        # tables): unknown size must not default to "pin it"
        fsize = (sum(p.stat().st_size for p in backing)
                 if backing else 1 << 60)
    except OSError:
        fsize = 1 << 60
    if fsize <= _CACHE_MAX_BYTES:
        # Partition width tiered by consumer profile (measured on the
        # mixed regressed/improved gate set, min-of-2 per config):
        # text/binary tables feed CPU-dense operators (regex rules,
        # JSON, pure-python codecs) and want full core width; row-
        # numeric fact tables are aggregate/join-bound where task
        # overhead bites at full width (32/32 measured 16.9s vs
        # 32/16/4's 9.6-10.2s on the probe set); dimensions stay
        # narrow — wide enough to parallelize a broadcast build,
        # no 32-task stages for 25-row tables.
        p = spark.sparkContext.defaultParallelism
        width = (p if name in ("documents", "embeddings")
                 else max(2, p // 2)
                 if name in ("lineitem", "orders", "events")
                 else max(2, p // 8))
        df = df.repartition(width).persist(StorageLevel.MEMORY_ONLY)
    return df


def _rid_view(spark: SparkSession, sf_dir: str, table: str) -> str:
    """Materialized ``cdc._src_cte`` output (base rows + deterministic
    ``__rid``) per (session, corpus, table), registered as a temp view
    for ``batch_sql(..., rid_src=)``.

    Every ``cdc.batch_sql`` text re-derives ``__rid`` — a bucketed
    row_number window over the full base table — and Spark INLINES
    deterministic CTEs, so a gate referencing N batch slices pays that
    window N times (q07's plan carried 5 copies of the same
    Exchange+Window subtree). ``__rid`` is a pure deterministic function
    of the immutable fixture table, shared by every CDC gate in the
    suite: materialize it once per session (localCheckpoint truncates
    the lineage and keeps executor-local blocks) — the same
    session-shared-artifact pattern as ``_t`` and the tokhash/edge
    views. The DuckDB oracle keeps the self-contained CTE text (DuckDB
    materializes CTEs natively, so it never had the duplication);
    row-level results are identical by construction."""

    def build():
        vbase = f"__rid_base_{table}"
        _t(spark, sf_dir, table).createOrReplaceTempView(vbase)
        return fn_dedup.materialize(spark.sql(
            cdc._src_cte(cdc.RECIPES[table], vbase) + " SELECT * FROM src"))

    return artifact_time.view(spark, "cdc_rid", (sf_dir, table), build)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts has shipped as either parquet TIMESTAMP(NANOS) (which
    Spark's vectorized reader can only surface as int64 nanos) or plain
    TIMESTAMP(MICROS). Normalize both to a timestamp column: when the
    reader hands us int64 nanos, integer-divide to micros (float division
    would lose precision above 2^53); otherwise keep the native timestamp
    (cast NTZ -> session-local timestamp is a no-op re-tag for parity
    with the DuckDB oracle reading the same file)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ -> timestamp is a pure re-tag ONLY under a UTC session zone; pin
    # it here (mirroring the nanosAsLong conf-set) so the branch stays
    # equivalent to the timezone-independent timestamp_micros branch even
    # if the harness hands us a session it built with a different zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(str(Path(sf_dir) / "events.parquet"))
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _dsum(col, alias: str):
    """Order-independent SUM: exact decimal accumulation, double result."""
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Q1-Q15 (SURVEY.md §5.3)
# ---------------------------------------------------------------------------


@gate("SELECT l_orderkey, l_quantity FROM lineitem WHERE l_discount > 0.05")
def q01_scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 scan + projection + pushed-down filter."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.05)
        .select("l_orderkey", "l_quantity")
    )


@gate(
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_revenue, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    collect=True)
def q02_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter + groupBy + multi-agg (partial agg is
    map-side automatically; 2-col group key keeps the shuffle tiny)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_revenue"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@gate(
    "SELECT n_name, COUNT(*) AS num_customers FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name ORDER BY n_name",
    collect=True)
def q03_join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with an explicitly broadcast dimension (25-row nation)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("num_customers"))
        .orderBy("n_name")
    )


@gate(
    "SELECT r_name, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_sales "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY r_name ORDER BY r_name",
    collect=True)
def q04_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation ⋈ region; dims broadcast, fact streams."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(_dsum(F.col("o_totalprice"), "total_sales"))
        .orderBy("r_name")
    )


@gate(
    "SELECT COUNT(*) AS num_no_orders FROM customer c "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    collect=True)
def q05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers without orders (left_anti == NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("num_no_orders"))
    )


@gate(
    "SELECT o_orderkey, o_totalprice, trx_seq, _hoodie_is_deleted FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY o_orderkey "
    "    ORDER BY trx_seq DESC) AS rn "
    f"  FROM ({cdc.stream_sql(_REC_O)}) AS s"
    ") AS r WHERE rn = 1")
def q06_cdc_precombine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 window dedup over the full orders CDC stream."""
    rec = cdc.RECIPES["orders"]
    stream = spark.sql(
        cdc.stream_sql(rec, rid_src=_rid_view(spark, sf_dir, "orders"))
    )
    winners = precombine(stream, list(rec.key_cols), "trx_seq")
    return winners.select(
        "o_orderkey", "o_totalprice", "trx_seq", "_hoodie_is_deleted"
    )


@gate(cdc.replay_sql(_REC_O))
def q07_cdc_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4+D5+D6: sequential per-batch upsert merge of the orders CDC
    stream; final state must equal the naive replay oracle."""
    rec = cdc.RECIPES["orders"]
    rid = _rid_view(spark, sf_dir, "orders")
    state: DataFrame | None = None
    for b in range(cdc.N_BATCHES):
        batch = spark.sql(cdc.batch_sql(rec, b, rid_src=rid))
        state = upsert_merge(state, batch, list(rec.key_cols), "trx_seq")
    return state.select(*rec.columns, "trx_seq")


@gate(
    "SELECT o_custkey, o_totalprice, o_orderkey FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    collect=True)
def q08_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT k (Spark plans TakeOrderedAndProject — no full
    sort, per-partition top-k then driver-side merge)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice", "o_orderkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@gate(
    "SELECT custkey FROM ("
    "  SELECT c_custkey AS custkey FROM customer "
    "  INTERSECT SELECT o_custkey AS custkey FROM orders"
    ") AS t ORDER BY custkey LIMIT 100",
    collect=True)
def q09_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.intersect(o).orderBy("custkey").limit(100)


@gate(
    "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS num_orders "
    "FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus) "
    "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST, "
    "num_orders",
    collect=True)
def q10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("num_orders"))
        .orderBy(
            F.asc_nulls_first("o_orderpriority"),
            F.asc_nulls_first("o_orderstatus"),
            F.asc("num_orders"),
        )
    )


@gate(
    "SELECT UPPER(SUBSTR(c_name, 1, 5)) AS name_prefix, "
    "YEAR(o_orderdate) AS order_year, "
    "ROUND(o_totalprice, 0) AS price_rounded, "
    "CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class, "
    "o_orderkey "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "ORDER BY name_prefix, order_year, price_rounded, size_class, o_orderkey "
    "LIMIT 500",
    collect=True)
def q11_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math/conditional scalar functions (§2.3); o_orderkey
    appended to make the LIMIT cut deterministic."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.upper(F.substring("c_name", 1, 5)).alias("name_prefix"),
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.round("o_totalprice", 0).alias("price_rounded"),
            F.when(F.col("o_totalprice") > 100000, "big")
            .otherwise("small")
            .alias("size_class"),
            "o_orderkey",
        )
        .orderBy("name_prefix", "order_year", "price_rounded", "size_class", "o_orderkey")
        .limit(500)
    )


@gate(
    "SELECT COUNT(DISTINCT o_custkey) AS num_customers FROM orders",
    collect=True)
def q12_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("num_customers")
    )


# q12_approx gate: the estimates differ engine-to-engine, so the
# verified value is (exact count, accuracy-band boolean) — the
# oracle asserts the band that Spark's HLL++ documents.
@gate(
    "SELECT COUNT(DISTINCT o_custkey) AS n_exact, "
    "TRUE AS within_5pct FROM orders",
    collect=True)
def q12_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct count made hash-checkable: the raw estimate
    differs from DuckDB's sketch by construction, so the gated output is
    the exact count plus the sketch's RELATIVE-ERROR BAND (within the
    documented 5%) — the oracle computes the exact count and asserts the
    band, making the accuracy contract itself the verified value.

    Estimator: DataSketches HLL (lgK=14 -> 16384 buckets, ~0.8% RSE;
    realized 0.5% at sf0.1). Spark's own approx_count_distinct at the
    equivalent rsd=0.01 runs ~8x slower here — its HLL++ aggregation
    buffer update cost grows with register count — while the same-size
    DataSketches aggregate stays at exact-countDistinct speed, and its
    sketches are mergeable across partitions/rollups (same family q87
    uses)."""
    return _t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact"),
        (
            F.abs(
                F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", 14))
                - F.countDistinct("o_custkey")
            )
            <= 0.05 * F.countDistinct("o_custkey")
        ).alias("within_5pct"),
    )


TRANSFORMER_Q13 = (
    "SELECT *, CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS net "
    "FROM <SRC> WHERE l_quantity < 50"
)


@gate(
    f"WITH b0 AS ({cdc.batch_sql(_REC_L, 0)}), "
    "t AS (SELECT *, CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS net "
    "      FROM b0 WHERE l_quantity < 50), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber "
    "      ORDER BY trx_seq DESC) AS rn FROM t) "
    f"SELECT {_L_COLS}, net, trx_seq FROM r "
    "WHERE rn = 1 AND NOT _hoodie_is_deleted")
def q13_transformer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: transformer SQL applied to the incoming batch pre-merge."""
    rec = cdc.RECIPES["lineitem"]
    batch = spark.sql(
        cdc.batch_sql(rec, 0, rid_src=_rid_view(spark, sf_dir, "lineitem"))
    )
    transformed = apply_transformer_sql(spark, batch, TRANSFORMER_Q13)
    merged = upsert_merge(None, transformed, list(rec.key_cols), "trx_seq")
    return merged.select(*rec.columns, "net", "trx_seq")


@gate(
    "SELECT event_type, COUNT(*) AS num_events, "
    "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value, "
    "CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k "
    "FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' "
    "GROUP BY event_type ORDER BY event_type",
    collect=True)
def q14_events_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events: time filter + JSON extraction + grouped agg."""
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .withColumn(
            "k", F.get_json_object("props", "$.k").cast("int")
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("num_events"),
            _dsum(F.col("value"), "sum_value"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@gate(cdc.replay_sql(_REC_L, upto_batch=0), write=True)
def q15_bulk_insert_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7/D8: bulk insert the lineitem full load through the real write
    path (partition-sorted, hive-partitioned) and read it back.

    Probe bound (r8, 5.0x at 10x): a WRITE gate — 10x input rows are
    physically sorted, partitioned, and written; 5x wall for 10x rows
    written is sublinear honest write throughput, not a query-plan
    shape (the bench annotates it write_gate for the same reason)."""
    rec = cdc.RECIPES["lineitem"]
    batch = spark.sql(
        cdc.batch_sql(rec, 0, rid_src=_rid_view(spark, sf_dir, "lineitem"))
    )
    cfg = TableConfig(
        name="q15_lineitem",
        record_key=list(rec.key_cols),
        is_partitioned=True,
        partition_path="l_returnflag",
    )
    # a fixture lake, not a TemporaryDirectory: the returned DataFrame
    # reads lazily from this path, so it must outlive this call.
    tmp = artifact_time.lake("q15_bulk_insert_")
    table = CuratedTable(spark, tmp / "lineitem", cfg)
    table.bulk_insert(batch)
    return table.read().select(*rec.columns, "trx_seq")


# ---------------------------------------------------------------------------
# q16-q26: training-data pipeline extensions (SURVEY.md §7 M6)
# ---------------------------------------------------------------------------


def _view(spark: SparkSession, sf_dir: str, name: str, qtag: str) -> str:
    """Register a base table as a per-query temp view (namespaced so
    thread-pooled queries never collide — SURVEY.md §7.3)."""
    vname = f"__{qtag}_{name}"
    _t(spark, sf_dir, name).createOrReplaceTempView(vname)
    return vname


@gate(fn_text.text_stats_oracle_sql())
def q16_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring (pure projection, no shuffle)."""
    return fn_text.text_stats(_t(spark, sf_dir, "documents"))


@gate(fn_text.lang_confusion_oracle_sql(), collect=True)
def q17_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic + confusion-matrix aggregate."""
    return fn_text.lang_confusion(_t(spark, sf_dir, "documents"))


@gate(fn_text.exact_dedup_oracle_sql())
def q18_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: rolling-hash fingerprint + hash-groupBy."""
    return fn_text.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def _inv(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Shared persisted shingle inverted index (inv, sizes) views —
    df-capped at dedup.DEDUP_MAX_DF, the pair-producing family's
    operating point (q19/q166/q238/q251; q20/q77/q175 get the same
    capped index through inv_view's default inside
    minhash_pairs_view)."""
    return fn_dedup.inv_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )


def _inv_uncapped(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """UNCAPPED inverted index for the corpus-linear audits whose
    semantics count every shingle (q242 novelty, q262 source overlap
    — their joins never fan out by df², so the stop-shingle cut would
    only distort the measurement). Cached separately; shares the one
    tokhash pass with the capped variant."""
    return fn_dedup.inv_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir,
        max_df=None,
    )


@gate(fn_dedup.ngram_jaccard_sql("duckdb"))
def q19_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard near-dup pairs via inverted-index join.

    Probe bound (r8, 2.6x at 10x): the co-occurrence join's pair
    volume is Σ_g C(df_g, 2), capped by DEDUP_MAX_DF at ≤ cap·|inv| —
    LINEAR in corpus size once the cap bites (this synthetic corpus's
    ~40-word vocabulary makes df grow with N until then; a Zipfian
    corpus's tail df stays O(1)). An r8 experiment replaced the
    self-join with a per-shingle collect_set + pair-generator — the
    interpreted lambda lost to this codegen'd join at BOTH scales
    (measured 1.41 vs 1.62 s sf0.1; the q262 variant of the same idea
    regressed 4.5x at 10x), so the join form stands."""
    return spark.sql(
        fn_dedup.ngram_jaccard_sql("spark", inv_tables=_inv(spark, sf_dir))
    )


# the oracle is deliberately the PLAIN all-shingles formulation
# at the same threshold: prefix filtering must not change the
# result set
# index (and df cap) over the FULL corpus, pairing restricted to
# the even-doc subset — the same universe the Spark side's
# filtered cached views see (ngram_jaccard_sql docstring).
@gate(
    fn_dedup.ngram_jaccard_sql(
        "duckdb",
        threshold=fn_dedup.PREFIX_JACCARD_T,
        subset="doc_id % 2 = 0",
    ))
def q166_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered all-pairs Jaccard (Bayardo et al. WWW'07) at the
    high-threshold regime (t=0.8) where the principle actually pays:
    the candidate join runs on the rarest-fifth PREFIX slice of the
    inverted index only; exact verification on the full index. Output
    is provably identical to the plain all-shingles self-join at the
    same threshold — the oracle IS that formulation — while candidate
    volume collapses at scale (dedup.prefix_jaccard_sql documents the
    probe-measured t tradeoff). Gated over the deterministic doc_id%2
    half (the q137/q158 subset precedent): this synthetic corpus's
    ~40-word vocabulary makes chance shingle collisions touch every
    doc, so the full-corpus form costs ~2× the plain join at toy
    scale; the growth RATIO the probe records is unaffected by a
    fixed subset fraction. The candidate set — small by construction —
    is materialized once (the verify text references it three times;
    under CTE inlining each reference re-ran the whole rank+self-join
    derivation)."""
    t = fn_dedup.PREFIX_JACCARD_T
    base = fn_dedup._prefix_base_cte(
        "spark", "<unused>", None, _inv(spark, sf_dir), "doc_id % 2 = 0"
    )
    view = artifact_time.view(
        spark, "q166_prefix_cand", sf_dir, lambda: fn_dedup.materialize(
            spark.sql(f"WITH {base}\nSELECT * FROM "
                      f"({fn_dedup.prefix_jaccard_cand_body(t)}) c")))
    return spark.sql(
        f"WITH {base}" + fn_dedup.prefix_jaccard_verify_sql(view, t)
    )


@gate(fn_dedup.minhash_lsh_sql("duckdb"))
def q20_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + banded LSH candidates + exact verify. The
    verified pair set is persisted once per process (shared with q77's
    group closure) — the detect/apply split of a production dedup."""
    pv = fn_dedup.minhash_pairs_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.table(pv).orderBy("doc_a", "doc_b")


@gate(fn_dedup.simhash_sql("duckdb"))
def q21_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-bit SimHash + chunk LSH + hamming-distance verify."""
    sh = fn_dedup.simhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_dedup.simhash_sql("spark", sh_table=sh))


@gate(fn_sim.cosine_topk_sql("duckdb"), collect=True)
def q22_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (broadcast queries, streamed corpus)."""
    v = _view(spark, sf_dir, "embeddings", "q22")
    return spark.sql(fn_sim.cosine_topk_sql("spark", table=v))


@gate(fn_sim.ann_lsh_sql("duckdb"), collect=True)
def q23_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: random-hyperplane LSH buckets + exact re-rank."""
    v = _view(spark, sf_dir, "embeddings", "q23")
    return spark.sql(fn_sim.ann_lsh_sql("spark", table=v))


@gate(fn_sim.embedding_neardup_sql("duckdb"), collect=True)
def q24_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via shared LSH buckets
    (Arrow-vectorized bucketization; per-bucket applyInPandas pair
    kernel — candidates never materialize as rows; fold-exact output
    cosine). The verified pair set is persisted once per (session,
    corpus) — the same detect/apply artifact split as q20's
    minhash_pairs_view: a production dedup materializes its pair list
    between stages, it does not re-score the corpus per consumer."""
    pairs = artifact_time.view(
        spark, "q24_neardup_pairs", sf_dir, lambda: fn_dedup.materialize(
            fn_sim.embedding_neardup(spark, _t(spark, sf_dir, "embeddings"))))
    return spark.table(pairs).orderBy("vec_a", "vec_b")


@gate(fn_sim.ivf_topk_sql("duckdb"), collect=True)
def q34_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN, IVF flavor: coarse-quantizer inverted lists +
    nprobe probing + exact re-rank (FAISS-IVF shape, pure SQL)."""
    v = _view(spark, sf_dir, "embeddings", "q34")
    return spark.sql(fn_sim.ivf_topk_sql("spark", table=v))


@gate(fn_text.token_doc_freq_oracle_sql(), collect=True)
def q35_token_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/UDTF family (§2.3): explode tokens → doc-frequency
    top-n (the DF half of TF-IDF; vocab pruning signal)."""
    return fn_text.token_doc_freq(_t(spark, sf_dir, "documents"))


@gate(
    "SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS first_doc "
    "FROM documents WHERE "
    f"{fn_sampling.stratified_keep_expr('doc_id', 20, 'duckdb')} "
    "GROUP BY lang ORDER BY lang",
    collect=True)
def q36_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample by key-hash, audited per language
    stratum (sampleBy analog, no RNG — reproducible on any cluster)."""
    d = fn_sampling.stratified_sample(
        _t(spark, sf_dir, "documents"), "doc_id", 20
    )
    return (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_sampled"), F.min("doc_id").alias("first_doc"))
        .orderBy("lang")
    )


# sessions per q29's gaps-and-islands; purchases land in their
# session via a plain inequality join (the oracle can afford it)
@gate(
    "WITH flagged AS ("
    "  SELECT user_id, ts, CASE WHEN"
    "    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL"
    "    OR ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)"
    "       + INTERVAL 6 HOUR"
    "    THEN 1 ELSE 0 END AS new_session FROM events"
    "), numbered AS ("
    "  SELECT *, SUM(new_session) OVER (PARTITION BY user_id"
    "    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id"
    "  FROM flagged"
    "), sessions AS ("
    "  SELECT user_id, MIN(ts) AS session_start, "
    "  MAX(ts) + INTERVAL 6 HOUR AS session_end "
    "  FROM numbered GROUP BY user_id, session_id)"
    "SELECT s.user_id, s.session_start, COUNT(*) AS n_purchases "
    "FROM (SELECT user_id, ts FROM events "
    "      WHERE event_type = 'purchase') p "
    "JOIN sessions s ON p.user_id = s.user_id "
    "  AND p.ts >= s.session_start AND p.ts < s.session_end "
    "GROUP BY s.user_id, s.session_start "
    "ORDER BY s.user_id, s.session_start")
def q37_range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (bucketed equi-join, no nested loop;
    see operators/range_join.py): purchases assigned to their user's
    6h-gap session, counted per session."""
    e = _t(spark, sf_dir, "events")
    sessions = (
        e.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    j = op_range.range_join(
        purchases,
        sessions,
        on=["user_id"],
        left_ts="ts",
        right_start="session_start",
        right_end="session_end",
        bucket_seconds=6 * 3600,
    )
    return (
        j.groupBy("user_id", "session_start")
        .agg(F.count("*").alias("n_purchases"))
        .orderBy("user_id", "session_start")
    )


@gate(fn_text.group_zscore_oracle_sql())
def q38_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (Arrow batches) checked against the
    relational window form in the oracle."""
    return fn_text.group_zscore(_t(spark, sf_dir, "documents"))


@gate(
    "SELECT l_returnflag, "
    "round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price, "
    "round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price, "
    "round(stddev_samp(l_quantity), 6) AS sd_qty, "
    "round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    collect=True)
def q39_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set / statistical aggregates: exact interpolated
    percentiles, sample stddev, Pearson correlation (rounded to 6dp —
    both engines interpolate identically; accumulation-order noise for
    corr/stddev is ~1e-12). Percentiles run the sketch-narrowed
    two-pass operator (operators/rank.grouped_exact_percentiles) —
    Spark's ``percentile()`` buffers a group's entire value multiset
    in one task (1.7 s at sf0.1 through 4 reducers; an OOM, not a
    plan, at 100 TB). A value-frequency rewrite was measured FIRST and
    rejected: prices are near-unique, so the (group, value) collapse
    saved nothing (2.2 s)."""
    from aws_dms_to_hudi_spark.operators.rank import (
        grouped_exact_percentiles,
    )

    li = _t(spark, sf_dir, "lineitem")
    pct = grouped_exact_percentiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.95]
    )
    pv = pct.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("p") == 0.5, F.col("value"))).alias("p50r"),
        F.max(F.when(F.col("p") == 0.95, F.col("value"))).alias("p95r"),
    )
    agg = li.groupBy("l_returnflag").agg(
        F.stddev_samp("l_quantity").alias("sd_raw"),
        F.corr("l_quantity", "l_extendedprice").alias("corr_raw"),
    )
    return (
        agg.join(pv, "l_returnflag")
        .select(
            "l_returnflag",
            F.round("p50r", 6).alias("p50_price"),
            F.round("p95r", 6).alias("p95_price"),
            F.round("sd_raw", 6).alias("sd_qty"),
            F.round("corr_raw", 6).alias("corr_qty_price"),
        )
        .orderBy("l_returnflag")
    )


@gate(
    "SELECT o_custkey, o_orderkey, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER ("
    "  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    "  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend, "
    "LAG(o_totalprice) OVER ("
    "  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    ") AS prev_price, "
    "row_number() OVER ("
    "  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    ") AS order_seq "
    "FROM orders ORDER BY o_custkey, o_orderkey")
def q40_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames + offset functions (§2.3): per-customer running
    revenue (ROWS UNBOUNDED PRECEDING, decimal accumulation for
    order-independence) and previous-order price via lag."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.row_number().over(w).alias("order_seq"),
    ).orderBy("o_custkey", "o_orderkey")


@gate(
    "SELECT window_start, event_type, COUNT(*) AS num_events, "
    "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value "
    "FROM (SELECT event_type, value, "
    "  unnest(generate_series("
    "    time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR, "
    "    time_bucket(INTERVAL 1 HOUR, ts), INTERVAL 1 HOUR"
    "  )) AS window_start FROM events) AS exploded "
    "GROUP BY window_start, event_type "
    "ORDER BY window_start, event_type")
def q41_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows, batch form: 2h windows every
    1h — each event lands in 2 windows. Oracle reproduces Spark's
    epoch-aligned window set by exploding each event to its covering
    window starts."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("num_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "num_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@gate(
    "SELECT custkey FROM ("
    "  SELECT c_custkey AS custkey FROM customer "
    "    WHERE c_mktsegment = 'BUILDING' "
    "  EXCEPT SELECT o_custkey AS custkey FROM orders "
    "    WHERE o_orderstatus = 'F'"
    ") AS t ORDER BY custkey LIMIT 100",
    collect=True)
def q42_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference, distinct): BUILDING-segment customers with
    no finished order. Complement of q09's INTERSECT; Spark `subtract` ==
    SQL EXCEPT. (The unfiltered customers-minus-orders version is empty
    in this fixture — every customer has orders — so filter both sides to
    keep the result non-trivial.)"""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.subtract(o).orderBy("custkey").limit(100)


@gate(
    "SELECT o_orderpriority, "
    "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f, "
    "CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' "
    "  THEN CAST(o_totalprice AS DECIMAL(18,4)) END), 0) AS DOUBLE) AS rev_f, "
    "CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o, "
    "CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' "
    "  THEN CAST(o_totalprice AS DECIMAL(18,4)) END), 0) AS DOUBLE) AS rev_o, "
    "CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p, "
    "CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' "
    "  THEN CAST(o_totalprice AS DECIMAL(18,4)) END), 0) AS DOUBLE) AS rev_p "
    "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    collect=True)
def q43_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts + revenue by priority, one column per status.
    Explicit value list keeps the plan a single hash aggregate (no extra
    distinct-values job); pivot cells with no rows are NULL in Spark but 0
    from the oracle's SUM(CASE...), so coalesce pins parity."""
    piv = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("rev"),
        )
    )
    cols = [F.col("o_orderpriority")]
    for s in ("F", "O", "P"):
        cols.append(
            F.coalesce(F.col(f"{s}_cnt"), F.lit(0)).cast("long").alias(f"cnt_{s.lower()}")
        )
        cols.append(
            F.coalesce(F.col(f"{s}_rev"), F.lit(0.0)).alias(f"rev_{s.lower()}")
        )
    return piv.select(*cols).orderBy("o_orderpriority")


@gate(
    "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders o "
    "WHERE EXISTS (SELECT 1 FROM lineitem l "
    "  WHERE l.l_orderkey = o.o_orderkey "
    "  AND date_diff('day', CAST(o.o_orderdate AS DATE), "
    "      CAST(l.l_shipdate AS DATE)) > 60) "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    collect=True)
def q44_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (TPC-H Q4 shape, adapted to this schema:
    lineitem has only l_shipdate): orders with at least one line shipped
    more than 60 days after the order date. left_semi join == EXISTS."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (F.datediff(li.l_shipdate, o.o_orderdate) > 60),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@gate(
    "SELECT n_name, "
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) "
    "AS DOUBLE) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' "
    "GROUP BY n_name ORDER BY revenue DESC, n_name",
    collect=True)
def q45_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where customer and supplier sit
    in the same nation, restricted to one region. Fact table streams;
    every dimension (customer at sf is small relative to lineitem, nation,
    region, supplier) is broadcast so the only shuffle is the final agg."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@gate(
    "SELECT l_orderkey, l_linenumber, "
    "date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) "
    "  AS ship_delay, "
    "CAST(year(o_orderdate) AS BIGINT) AS o_year, "
    "CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter, "
    "CAST(month(o_orderdate) AS BIGINT) AS o_month, "
    "CAST(day(o_orderdate) AS BIGINT) AS o_day, "
    "CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_isodow, "
    "strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end, "
    "strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d') "
    "  AS month_start "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "ORDER BY l_orderkey, l_linenumber, ship_delay LIMIT 500")
def q46_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface: datediff, extraction (year/quarter/
    month/day, ISO weekday), last_day, month truncation."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("ship_delay"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.quarter("o_orderdate").cast("long").alias("o_quarter"),
            F.month("o_orderdate").cast("long").alias("o_month"),
            F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
            (F.weekday("o_orderdate") + 1).cast("long").alias("o_isodow"),
            # date-typed results go out as ISO strings: Spark DATE and
            # DuckDB DATE reach pandas as different dtypes, which the
            # driver's hash does not unify.
            F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM-dd").alias(
                "month_start"
            ),
        )
        # (l_orderkey, l_linenumber) is NOT unique in this fixture (CDC
        # dup rows); ship_delay disambiguates — all other columns are
        # functions of l_orderkey — so the LIMIT cut is deterministic.
        .orderBy("l_orderkey", "l_linenumber", "ship_delay")
        .limit(500)
    )


@gate(
    "SELECT l_returnflag, "
    "COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS hi_disc_lines, "
    "CAST(COALESCE(SUM(CASE WHEN l_discount > 0.05 "
    "  THEN CAST(l_quantity AS DECIMAL(18,4)) "
    "  ELSE CAST(0 AS DECIMAL(18,4)) END), 0) AS DOUBLE) AS hi_disc_qty, "
    "COUNT(CASE WHEN l_tax > 0.04 THEN 1 END) AS hi_tax_lines, "
    "round(CAST(SUM(CASE WHEN l_tax > 0.04 "
    "  THEN CAST(l_extendedprice AS DECIMAL(18,4)) END) AS DOUBLE) "
    "  / COUNT(CASE WHEN l_tax > 0.04 THEN 1 END), 6) AS hi_tax_avg_price, "
    "COUNT(*) AS n_lines "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    collect=True)
def q47_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: count_if / SUM(CASE WHEN) / filtered AVG
    (avg = decimal-sum over count, rounded to 6dp for float parity)."""
    li = _t(spark, sf_dir, "lineitem")
    hi_disc = F.col("l_discount") > 0.05
    hi_tax = F.col("l_tax") > 0.04
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(hi_disc, 1)).alias("hi_disc_lines"),
            _dsum(F.when(hi_disc, F.col("l_quantity")).otherwise(0), "hi_disc_qty"),
            F.count(F.when(hi_tax, 1)).alias("hi_tax_lines"),
            F.round(
                F.sum(F.when(hi_tax, F.col("l_extendedprice").cast(DEC)))
                .cast("double")
                / F.count(F.when(hi_tax, 1)),
                6,
            ).alias("hi_tax_avg_price"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


@gate(
    "SELECT n_name, "
    "string_agg(s_name, ',' ORDER BY s_name) AS supplier_roster, "
    "COUNT(*) AS n_suppliers "
    "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
    "WHERE s_acctbal > 9000 "
    "GROUP BY n_name ORDER BY n_name",
    collect=True)
def q48_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per group: sorted supplier roster per
    nation (collect_list -> array_sort -> array_join ≡ DuckDB's ordered
    string_agg). Filter keeps the roster bounded at any scale."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.filter(F.col("s_acctbal") > 9000)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
                "supplier_roster"
            ),
            F.count("*").alias("n_suppliers"),
        )
        .orderBy("n_name")
    )


@gate(
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders o "
    "JOIN (SELECT o_custkey AS k, "
    "        SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total, "
    "        COUNT(*) AS n "
    "      FROM orders GROUP BY o_custkey) a ON o.o_custkey = a.k "
    "WHERE CAST(o_totalprice AS DECIMAL(18,4)) * 2 * n > 3 * total "
    "ORDER BY o_orderkey")
def q49_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 1.5x above their customer's
    average order value), decorrelated into a per-customer aggregate +
    equi-join — the plan Catalyst produces for the subquery form anyway.
    The comparison is kept in exact integer/decimal arithmetic
    (price*2*n > 3*total both DECIMAL) so the boundary never depends on
    float rounding in either engine."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("total"),
        F.count("*").alias("n"),
    )
    return (
        o.join(per_cust, o.o_custkey == per_cust.k)
        .filter(
            F.col("o_totalprice").cast(DEC) * 2 * F.col("n") > 3 * F.col("total")
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@gate(
    "SELECT o_orderkey, "
    "CAST(ntile(10) OVER w AS BIGINT) AS decile, "
    "round(percent_rank() OVER w, 6) AS pct_rank, "
    "round(cume_dist() OVER w, 6) AS cum_dist "
    "FROM orders "
    "WINDOW w AS (ORDER BY o_totalprice, o_orderkey) "
    "ORDER BY o_orderkey")
def q50_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist
    (exact rationals — identical doubles in both engines; unique ORDER BY
    key makes ntile assignment deterministic).

    Scale path: computed WITHOUT a global unpartitioned window. The
    two-pass range-partitioned rank (operators/rank.py: percentile
    sketch -> range buckets -> per-bucket window + broadcast offsets)
    yields the exact global row_number; since (o_totalprice, o_orderkey)
    is a unique sort key, ntile/percent_rank/cume_dist are then pure
    arithmetic on (rn, N) — identical values to the window functions the
    oracle runs, but the sort happens in parallel range slices."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    r = rank_ops.global_row_number(
        o, ["o_totalprice", "o_orderkey"], out_col="__rn", total_col="__n"
    )
    rn, n = F.col("__rn"), F.col("__n")
    return (
        r.select(
            "o_orderkey",
            rank_ops.ntile_from_rn(rn, n, 10).alias("decile"),
            F.when(n > 1, F.round((rn - 1) / (n - 1), 6))
            .otherwise(F.lit(0.0)).alias("pct_rank"),
            F.round(rn / n, 6).alias("cum_dist"),
        )
        .orderBy("o_orderkey")
    )


@gate(
    "SELECT o_orderpriority, o_orderstatus, "
    "CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio, "
    "CAST(grouping(o_orderstatus) AS BIGINT) AS g_status, "
    "COUNT(*) AS n_orders FROM orders "
    "GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus)) "
    "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST",
    collect=True)
def q51_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not expressible via .rollup/.cube alone)
    + GROUPING() markers, through the engine's SQL surface (D10)."""
    v = _view(spark, sf_dir, "orders", "q51")
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
               CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
               COUNT(*) AS n_orders
        FROM {v}
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
        """
    )


@gate(
    "SELECT p_partkey, "
    r"regexp_extract(p_name, '^(\w+)', 1) AS first_word, "
    "regexp_replace(p_type, '[aeiou]', '_', 'g') AS type_devoweled, "
    "lpad(p_brand, 12, '0') AS brand_padded, "
    "reverse(p_brand) AS brand_rev, "
    "translate(p_name, 'abc', 'xyz') AS name_translated, "
    "levenshtein(p_brand, p_type) AS brand_type_dist, "
    "string_split(p_type, ' ')[1] AS type_head "
    "FROM part ORDER BY p_partkey LIMIT 500")
def q52_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: regexp_extract/replace, lpad, reverse,
    translate, levenshtein, split+element access."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
            F.regexp_replace("p_type", "[aeiou]", "_").alias("type_devoweled"),
            F.lpad(F.col("p_brand"), 12, "0").alias("brand_padded"),
            F.reverse(F.col("p_brand")).alias("brand_rev"),
            F.translate("p_name", "abc", "xyz").alias("name_translated"),
            F.levenshtein("p_brand", "p_type").alias("brand_type_dist"),
            F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        )
        .orderBy("p_partkey")
        .limit(500)
    )


@gate(
    "SELECT event_id, "
    "array_to_string(list_sort(json_keys(props)), ',') AS prop_keys, "
    "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value, "
    "CAST(len(json_keys(props)) AS BIGINT) AS n_props "
    "FROM events ORDER BY event_id LIMIT 1000")
def q53_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON -> map extraction over the events props column: parse once,
    emit sorted key list + a typed value (map/array surface of §2.3)."""
    e = _t(spark, sf_dir, "events")
    parsed = e.withColumn("m", F.from_json("props", "map<string,string>"))
    return (
        parsed.select(
            "event_id",
            F.array_join(F.array_sort(F.map_keys("m")), ",").alias("prop_keys"),
            F.element_at(F.col("m"), "k").cast("int").alias("k_value"),
            F.size(F.map_keys("m")).cast("long").alias("n_props"),
        )
        .orderBy("event_id")
        .limit(1000)
    )


@gate(
    "SELECT nationkey, COUNT(*) AS n_parties, "
    "COUNT(DISTINCT src) AS n_sources FROM ("
    "  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, 'c' AS src "
    "  FROM customer "
    "  UNION ALL "
    "  SELECT CAST(s_nationkey AS BIGINT) AS nationkey, 's' AS src "
    "  FROM supplier"
    ") AS u GROUP BY nationkey ORDER BY nationkey",
    collect=True)
def q54_union_all_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two relations with a source tag, then COUNT +
    multi-distinct aggregation per nation."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey"), F.lit("c").alias("src")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey"), F.lit("s").alias("src")
    )
    return (
        c.unionAll(s)
        .groupBy("nationkey")
        .agg(
            F.count("*").alias("n_parties"),
            F.countDistinct("src").alias("n_sources"),
        )
        .orderBy("nationkey")
    )


@gate(
    "SELECT o_custkey, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) "
    "  AS total_spend, "
    "COUNT(*) AS n_orders FROM orders "
    "WHERE o_custkey IN (SELECT c_custkey FROM customer "
    "                    WHERE c_mktsegment = 'BUILDING') "
    "GROUP BY o_custkey HAVING COUNT(*) >= 18 ORDER BY o_custkey")
def q55_having_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING on an aggregate + IN-subquery membership: big-spender
    customers (aggregate filter) restricted to BUILDING segment members
    (semi join). HAVING is just a filter above the agg; IN plans as a
    left-semi broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        o.join(building, o.o_custkey == building.c_custkey, "left_semi")
        .groupBy("o_custkey")
        .agg(
            _dsum(F.col("o_totalprice"), "total_spend"),
            F.count("*").alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 18)
        .orderBy("o_custkey")
    )


@gate(cdc.replay_sql(_REC_O, upto_batch=1))
def q56_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-as-of read (Hudi point-in-time query analog): replay all
    CDC batches through the real write path (shared replay fixture),
    then read the table AS OF the version after batch 1 — bypassing the
    newer commits."""
    rec = cdc.RECIPES["orders"]
    table, versions = _replayed_orders(spark, sf_dir)
    return table.read(version=versions[1]).select(*rec.columns, "trx_seq")


@gate(
    "SELECT o_custkey, o_orderkey, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) "
    "  AS trailing_90d_spend, "
    "COUNT(*) OVER w AS trailing_90d_orders "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate "
    "  RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW) "
    "ORDER BY o_custkey, o_orderkey")
def q57_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based window frame (RANGE, not ROWS — q40 covers ROWS):
    90-day trailing spend per customer. Spark's rangeBetween needs a
    numeric ordering key, so the frame runs over epoch seconds; DuckDB
    expresses the identical frame as RANGE INTERVAL 90 DAYS PRECEDING.
    Same-day peer rows all share one frame in both engines, so ties
    can't reorder results."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, 0)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast(DEC))
            .over(w)
            .cast("double")
            .alias("trailing_90d_spend"),
            F.count(F.lit(1)).over(w).alias("trailing_90d_orders"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@gate(
    f"SELECT {fn_sampling.split_expr('doc_id', 'duckdb')} AS split, "
    "COUNT(CASE WHEN keep THEN 1 END) AS n_kept, "
    "COUNT(*) AS n_total, "
    "CAST(COALESCE(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END), 0) "
    "  AS BIGINT) AS kept_tokens "
    "FROM (SELECT doc_id, "
    f"  CAST({fn_text.token_count_expr('text', 'duckdb')} AS BIGINT) "
    "    AS n_tokens, "
    f"  ({fn_text.quality_expr('text', 'duckdb')} >= 0.5 "
    f"   AND {fn_text.token_count_expr('text', 'duckdb')} "
    "     BETWEEN 5 AND 2000 "
    f"   AND {fn_text.pred_lang_expr('text', 'duckdb')} = lang) AS keep "
    "  FROM documents) AS scored "
    "GROUP BY split ORDER BY split",
    collect=True)
def q58_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation in ONE scan: language-ID
    agreement + quality score + token-length band decide keep/drop,
    aggregated per train/val/test split. Composes four operator
    families (lang-ID, quality, token counting, hash split) as pure
    projections — no shuffle until the 3-group aggregate."""
    d = "spark"
    docs = _t(spark, sf_dir, "documents")
    keep = (
        F.expr(fn_text.quality_expr("text", d)) >= 0.5
    ) & F.col("n_tokens").between(5, 2000) & (
        F.expr(fn_text.pred_lang_expr("text", d)) == F.col("lang")
    )
    return (
        docs.select(
            F.expr(fn_sampling.split_expr("doc_id", d)).alias("split"),
            F.expr(fn_text.token_count_expr("text", d))
            .cast("long")
            .alias("n_tokens"),
            "text",
            "lang",
        )
        .select("split", "n_tokens", keep.alias("keep"))
        .groupBy("split")
        .agg(
            F.count(F.when(F.col("keep"), 1)).alias("n_kept"),
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("split")
    )


@gate(
    "SELECT COALESCE(f.k, p.k) AS o_custkey, "
    "CASE WHEN f.f_spend IS NULL THEN 'open_only' "
    "     WHEN p.o_spend IS NULL THEN 'finished_only' "
    "     ELSE 'both' END AS presence, "
    "COALESCE(f.f_spend, 0) AS f_spend, "
    "COALESCE(p.o_spend, 0) AS o_spend "
    "FROM (SELECT o_custkey AS k, "
    "        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) "
    "          AS f_spend "
    "      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) f "
    "FULL JOIN "
    "     (SELECT o_custkey AS k, "
    "        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) "
    "          AS o_spend "
    "      FROM orders WHERE o_orderstatus = 'O' GROUP BY 1) p "
    "ON f.k = p.k ORDER BY o_custkey")
def q59_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join reconciliation of two aggregates: finished vs
    open spend per customer, with a presence flag for keys seen on only
    one side. The USING-style join coalesces the key; presence derives
    from side-column nullity (computed before the 0-fill)."""
    o = _t(spark, sf_dir, "orders")
    fin = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(_dsum(F.col("o_totalprice"), "f_spend"))
    )
    opn = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(_dsum(F.col("o_totalprice"), "o_spend"))
    )
    j = fin.join(opn, "o_custkey", "full_outer")
    presence = (
        F.when(F.col("f_spend").isNull(), "open_only")
        .when(F.col("o_spend").isNull(), "finished_only")
        .otherwise("both")
    )
    return j.select(
        "o_custkey",
        presence.alias("presence"),
        F.coalesce(F.col("f_spend"), F.lit(0.0)).alias("f_spend"),
        F.coalesce(F.col("o_spend"), F.lit(0.0)).alias("o_spend"),
    ).orderBy("o_custkey")


@gate(
    "SELECT pos, tok, COUNT(*) AS n FROM ("
    "  SELECT unnest(l) AS tok, "
    "         CAST(generate_subscripts(l, 1) AS BIGINT) AS pos "
    "  FROM (SELECT string_split(text, ' ') AS l FROM documents)"
    ") AS exploded WHERE pos <= 3 "
    "GROUP BY pos, tok ORDER BY pos, n DESC, tok LIMIT 30",
    collect=True)
def q60_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (LATERAL VIEW posexplode analog): token
    frequency by position for the first 3 positions of each document.
    Spark's posexplode is 0-based; +1 aligns it with DuckDB's
    generate_subscripts."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok")
        )
        .select((F.col("pos0") + 1).cast("long").alias("pos"), "tok")
        .filter(F.col("pos") <= 3)
        .groupBy("pos", "tok")
        .agg(F.count("*").alias("n"))
        .orderBy("pos", F.col("n").desc(), "tok")
        .limit(30)
    )


@gate(
    "SELECT strftime(m, '%Y-%m-%d') AS month, "
    "COALESCE(r.revenue, 0) AS revenue, "
    "COALESCE(r.n_orders, 0) AS n_orders "
    "FROM (SELECT unnest(generate_series(DATE '1992-01-01', "
    "        DATE '1998-12-01', INTERVAL 1 MONTH))::DATE AS m) spine "
    "LEFT JOIN ("
    "  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mm, "
    "    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) "
    "      AS revenue, "
    "    COUNT(*) AS n_orders "
    "  FROM orders GROUP BY 1) r ON spine.m = r.mm "
    "ORDER BY month",
    collect=True)
def q61_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated date spine (sequence + explode) left-joined to monthly
    revenue, zero-filling empty months — the gap-free-timeseries recipe.
    The 84-row spine drives a broadcast join of the aggregate; month is
    emitted as a string (DATE dtypes differ across engines)."""
    o = _t(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1992-01-01").cast("date"),
                F.lit("1998-12-01").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("month")
    )
    rev = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(
        _dsum(F.col("o_totalprice"), "revenue"),
        F.count("*").alias("n_orders"),
    )
    return (
        spine.join(rev, "month", "left")
        .select(
            F.date_format("month", "yyyy-MM-dd").alias("month"),
            F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
            F.coalesce(F.col("n_orders"), F.lit(0).cast("long")).alias(
                "n_orders"
            ),
        )
        .orderBy("month")
    )


@gate(
    "SELECT o_custkey, o_orderkey, o_orderstatus, "
    "last_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END "
    "  IGNORE NULLS) OVER ("
    "  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    "  ROWS UNBOUNDED PRECEDING) AS last_finished_price "
    "FROM orders ORDER BY o_custkey, o_orderkey")
def q62_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window (forward fill): per customer in order-date
    order, carry forward the price of the most recent *finished* order
    past the open/pending ones — the gap-fill primitive for sparse
    observations."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    finished_price = F.when(
        F.col("o_orderstatus") == "F", F.col("o_totalprice")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderstatus",
            F.last(finished_price, ignorenulls=True)
            .over(w)
            .alias("last_finished_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@gate(
    "SELECT doc_id, "
    "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) "
    "  AS n_distinct, "
    "CAST(len(list_intersect(list_distinct(string_split(text, ' ')), "
    f"  [{fn_text._sql_list(fn_text.STOPWORDS)}])) AS BIGINT) "
    "  AS n_stop, "
    "array_to_string(list_sort(list_distinct("
    "  string_split(text, ' ')))[1:3], ',') AS first_toks "
    "FROM documents ORDER BY doc_id")
def q63_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function family over tokenized text: distinct count,
    intersection with a stopword array, lexicographic sort + slice +
    join — all JVM-side builtins under whole-stage codegen (no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    dist = F.array_distinct(F.split(F.col("text"), " "))
    stop = F.array(*[F.lit(w) for w in fn_text.STOPWORDS])
    return (
        docs.select(
            "doc_id",
            F.size(dist).cast("long").alias("n_distinct"),
            F.size(F.array_intersect(dist, stop)).cast("long").alias("n_stop"),
            F.array_join(F.slice(F.sort_array(dist), 1, 3), ",").alias(
                "first_toks"
            ),
        )
        .orderBy("doc_id")
    )


@gate(
    "SELECT o_orderpriority, "
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
    "  AS DECIMAL(18,4))) AS DOUBLE) AS revenue, "
    "COUNT(*) AS n_items "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    collect=True)
def q64_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators/skew.py): lineitem ⋈ orders with
    the probe side salted and the build side replicated 8×, so one hot
    orderkey cannot pin a shuffle partition to a single executor. The
    result multiset is provably identical to the plain equi-join, which
    is exactly what the oracle checks."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    from aws_dms_to_hudi_spark.operators.skew import salted_join

    joined = salted_join(li, o, on=["l_orderkey"], num_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


@gate(
    "WITH hot AS (SELECT l_orderkey % 4 AS hot_key, "
    "l_extendedprice, l_discount FROM lineitem), "
    "dim AS (SELECT i AS hot_key, 'seg_' || CAST(i AS VARCHAR) "
    "AS segment FROM range(4) t(i)) "
    "SELECT segment, "
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
    "AS DECIMAL(18,4))) AS DOUBLE) AS revenue, "
    "COUNT(*) AS n_items "
    "FROM hot JOIN dim USING (hot_key) "
    "GROUP BY segment ORDER BY segment",
    collect=True)
def q110_auto_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven salting (operators/skew.py): profile the probe side's
    key distribution, derive the salt factor from the hot key's excess
    over a fair shuffle share, and plan plain-vs-salted from the
    MEASUREMENT instead of a constant. On a deliberately skewed probe
    (every lineitem key folded onto a handful of hot keys) the profiler
    must pick salting — and the result multiset must still equal the
    plain equi-join, which is what the oracle replays."""
    from aws_dms_to_hudi_spark.operators.skew import auto_salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        # fold orderkeys onto 4 hot join keys: each carries ~25% of all
        # rows, several fair shuffle shares at every test SF
        (F.col("l_orderkey") % 4).alias("hot_key"),
        "l_extendedprice", "l_discount",
    )
    dim = spark.range(4).select(
        F.col("id").alias("hot_key"),
        F.concat(F.lit("seg_"), F.col("id")).alias("segment"),
    )
    joined, n_salts = auto_salted_join(li, dim, on=["hot_key"])
    assert n_salts > 1  # measured skew must actually trigger salting
    return (
        joined.groupBy("segment")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
            F.count("*").alias("n_items"),
        )
        .orderBy("segment")
    )


@gate(fn_mm.resize_oracle_sql())
def q65_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary resize plumbing: payloads through the Arrow-batched
    stride-decimation op; only the oracle-replayable projections are
    emitted (the binary column itself stays Spark-side)."""
    media = fn_mm.attach_binary(_t(spark, sf_dir, "documents"))
    return fn_mm.ordered_rows(
        fn_mm.resize_media(media)
        .select("doc_id", "n_bytes_in", "n_bytes_out", "checksum16"),
        "doc_id",
    )


@gate(fn_mm.sample_frames_oracle_sql())
def q66_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: 1→N generator via mapInPandas, one row
    per evenly-strided frame of each payload."""
    media = fn_mm.attach_binary(_t(spark, sf_dir, "documents"))
    return fn_mm.ordered_rows(
        fn_mm.sample_frames(media)
        .select("doc_id", "frame_idx", "n_frame_bytes", "first_byte"),
        "doc_id", "frame_idx",
    )


@gate(
    "SELECT l_returnflag, "
    "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) "
    "  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS weighted_cents, "
    "COUNT(*) AS n_items "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    collect=True)
def q67_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the UDAF member of the §2.3 UDF
    family): per-flag weighted revenue, computed numpy-side per Arrow
    batch. Hash parity with the oracle is engineered by integer
    arithmetic — cents × integral quantity summed in int64 is exact and
    order-independent, unlike a float sum."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def weighted_cents(price: pd.Series, qty: pd.Series) -> int:
        return int(
            (
                np.round(price.values * 100).astype("int64")
                * qty.values.astype("int64")
            ).sum()
        )

    # Spark disallows mixing grouped-agg pandas UDFs with JVM aggregates
    # in one agg ([INVALID_PANDAS_UDF_PLACEMENT]), so the row count is a
    # pandas UDAF too.
    @pandas_udf("long")
    def n_rows(qty: pd.Series) -> int:
        return len(qty)

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            weighted_cents("l_extendedprice", "l_quantity").alias(
                "weighted_cents"
            ),
            n_rows("l_quantity").alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


@gate(
    "SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx, "
    "CAST(least(32, ntok - idx * 32) AS BIGINT) AS n_tokens, "
    "toks[idx * 32 + 1] AS first_token "
    "FROM ("
    "  SELECT doc_id, toks, ntok, "
    "    unnest(range(0, (ntok + 31) // 32)) AS idx "
    "  FROM (SELECT doc_id, string_split(text, ' ') AS toks, "
    "        len(string_split(text, ' ')) AS ntok FROM documents)) "
    "ORDER BY doc_id, chunk_idx")
def q68_udtf_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (1→N table function, Spark 4 ``@udtf``) applied per
    row via LATERAL join: split each document into 32-token training
    chunks — the standard context-window chunking pass. Arrow-optimized
    (``useArrow``); output rows stay on the producing partition (the
    Generate node adds no shuffle)."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id: bigint, chunk_idx: bigint, n_tokens: bigint, "
            "first_token: string"
        ),
        useArrow=True,
    )
    class ChunkDoc:
        def eval(self, doc_id, text):  # noqa: D102 — UDTF contract method
            toks = text.split(" ")
            for i in range(0, len(toks), 32):
                yield doc_id, i // 32, min(32, len(toks) - i), toks[i]

    spark.udtf.register("__q68_chunk_doc", ChunkDoc)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("__q68_docs")
    return spark.sql(
        "SELECT c.* FROM __q68_docs AS d, "
        "LATERAL __q68_chunk_doc(d.doc_id, d.text) AS c "
        "ORDER BY doc_id, chunk_idx"
    )


@gate(
    "SELECT l_orderkey, o_orderdate, "
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
    "  AS DECIMAL(18,4))) AS DOUBLE) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < TIMESTAMP '1998-01-01' "
    "AND l_shipdate > TIMESTAMP '1998-01-01' "
    "GROUP BY l_orderkey, o_orderdate "
    "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10",
    collect=True)
def q69_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    orders placed before a cut date ⋈ lineitems shipped after it, top-10
    open orders by outstanding revenue. All three filters push into the
    scans; the LIMIT plans as TakeOrderedAndProject (per-partition
    top-10, tiny final merge — no global sort shuffle)."""
    cut = F.lit("1998-01-01").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@gate(
    "SELECT c_custkey, c_name, n_name, "
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
    "  AS DECIMAL(18,4))) AS DOUBLE) AS lost_revenue, "
    "COUNT(*) AS n_returned_items "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE l_returnflag = 'R' "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY lost_revenue DESC, c_custkey LIMIT 20",
    collect=True)
def q70_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): customers ranked by
    revenue lost to returns, with their nation — fact-to-fact join plus
    a broadcast dim, top-20 deterministic via the custkey tiebreak."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "lost_revenue",
            ),
            F.count("*").alias("n_returned_items"),
        )
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


@gate(
    "SELECT o_orderkey, o_totalprice, valid_from_seq, "
    "valid_to_seq, is_current FROM ("
    + op_scd.scd2_oracle_sql(
        cdc.stream_sql(cdc.RECIPES["orders"]), keys=["o_orderkey"]
    )
    + ") ORDER BY o_orderkey, valid_from_seq")
def q71_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (operators/scd.py): the full orders
    change log expanded into versioned history rows with validity
    intervals — the keep-every-version counterpart of the engine's
    keep-latest upsert merge. One window shuffle on the key."""
    rec = cdc.RECIPES["orders"]
    changes = spark.sql(
        cdc.stream_sql(rec, rid_src=_rid_view(spark, sf_dir, "orders"))
    )
    return (
        op_scd.scd2(changes, keys=list(rec.key_cols))
        .select(
            "o_orderkey",
            "o_totalprice",
            "valid_from_seq",
            "valid_to_seq",
            "is_current",
        )
        .orderBy("o_orderkey", "valid_from_seq")
    )


@gate(
    "SELECT o_orderkey, "
    "nullif(o_orderstatus, 'O') AS status_f, "
    "ifnull(nullif(o_orderstatus, 'O'), o_orderpriority) "
    "  AS pri_or_status, "
    "CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL "
    "  THEN 'settled' ELSE 'open' END AS settled_flag, "
    "(nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM "
    " nullif(o_orderstatus, 'F')) AS p_match "
    "FROM orders ORDER BY o_orderkey LIMIT 1000")
def q72_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling scalar family (§2.3 conditional/null row): NULLIF,
    NVL, NVL2, and null-safe equality (`<=>`, DuckDB `IS NOT DISTINCT
    FROM`). NULLs are manufactured from real data with NULLIF so every
    function sees both branches."""
    o = _t(spark, sf_dir, "orders")
    status_f = F.expr("nullif(o_orderstatus, 'O')")
    status_o = F.expr("nullif(o_orderstatus, 'F')")
    return (
        o.select(
            "o_orderkey",
            status_f.alias("status_f"),
            F.expr("nvl(nullif(o_orderstatus, 'O'), o_orderpriority)").alias(
                "pri_or_status"
            ),
            F.expr(
                "nvl2(nullif(o_orderstatus, 'O'), 'settled', 'open')"
            ).alias("settled_flag"),
            (status_f.eqNullSafe(status_o)).alias("p_match"),
        )
        .orderBy("o_orderkey")
        .limit(1000)
    )


@gate(
    "SELECT event_type, COUNT(*) AS n_events, "
    "COUNT(DISTINCT user_id) AS n_users "
    "FROM events GROUP BY event_type ORDER BY event_type",
    collect=True)
def q73_two_stage_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregate (operators/skew.py): distinct users
    per event type via (key, salt) partials merged per key. Plain
    COUNT(DISTINCT) puts one hot key's whole value set on one reducer;
    the two-stage form shrinks it to per-salt partial sets first. The
    oracle is the plain COUNT(DISTINCT) — identical result by set
    algebra."""
    from aws_dms_to_hudi_spark.operators.skew import two_stage_aggregate

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    return (
        two_stage_aggregate(
            ev,
            keys=["event_type"],
            partial_aggs=[
                F.count("*").alias("c"),
                F.collect_set("user_id").alias("us"),
            ],
            final_aggs=[
                F.sum("c").cast("long").alias("n_events"),
                F.size(
                    F.array_distinct(F.flatten(F.collect_list("us")))
                ).cast("long").alias("n_users"),
            ],
        )
        .orderBy("event_type")
    )


@gate(
    "WITH cuts AS ("
    "  SELECT list_transform("
    "    quantile_cont(o_totalprice, "
    "      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]), "
    "    c -> round(c, 4)) AS cs FROM orders) "
    "SELECT CAST(bucket AS BIGINT) AS bucket, "
    "COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) "
    "  AS bucket_revenue "
    "FROM ("
    "  SELECT o_totalprice, len(list_filter(cs, "
    "    c -> o_totalprice > c)) AS bucket "
    "  FROM orders, cuts) "
    "GROUP BY bucket ORDER BY bucket",
    collect=True)
def q74_percentile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based decile assignment WITHOUT a global sort — the
    scale-correct counterpart of q50's global ntile: one pass computes
    the 9 interior percentile cut points (tiny driver-side array), a
    second scan assigns each row its bucket by counting cut points
    below it (a 9-element fold, pure projection). Two scans, zero
    row shuffles. Cut points are rounded to 4 dp on both engines so a
    sub-ulp interpolation difference cannot flip a boundary row."""
    o = _t(spark, sf_dir, "orders")
    qs = [i / 10 for i in range(1, 10)]
    cuts = o.agg(
        F.expr(
            "percentile(o_totalprice, array("
            + ", ".join(str(q) for q in qs)
            + "))"
        ).alias("c")
    ).collect()[0]["c"]
    cut_arr = "array(" + ", ".join(f"{round(c, 4)}D" for c in cuts) + ")"
    bucket = F.expr(
        f"aggregate({cut_arr}, 0, (acc, c) -> "
        "acc + IF(o_totalprice > c, 1, 0))"
    )
    return (
        o.groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("o_totalprice"), "bucket_revenue"),
        )
        .orderBy("bucket")
    )


@gate(
    "WITH keys AS (SELECT CASE WHEN c_mktsegment = 'BUILDING' "
    "  THEN c_custkey END AS k FROM customer) "
    "SELECT "
    "(SELECT COUNT(*) FROM orders "
    " WHERE o_custkey NOT IN (SELECT k FROM keys)) "
    "  AS not_in_with_nulls, "
    "(SELECT COUNT(*) FROM orders "
    " WHERE o_custkey NOT IN (SELECT k FROM keys "
    "                         WHERE k IS NOT NULL)) "
    "  AS not_in_filtered, "
    "(SELECT COUNT(*) FROM orders o "
    " WHERE NOT EXISTS (SELECT 1 FROM keys x "
    "                   WHERE x.k = o.o_custkey)) "
    "  AS not_exists_cnt",
    collect=True)
def q75_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN vs NOT EXISTS under NULLs — the classic three-valued-logic
    divergence, pinned as behavior both engines must share: a NULL in
    the NOT IN subquery makes every comparison UNKNOWN, so the NOT IN
    leg returns 0 rows, while NOT EXISTS (and the null-filtered NOT IN)
    return the real anti-join count. Catalyst plans the null-aware anti
    join as NAAJ (single-column null-aware), the filtered leg as a plain
    left-anti."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    o.createOrReplaceTempView("__q75_orders")
    # BUILDING members, with one NULL smuggled in via NULLIF
    c.select(
        F.expr(
            "CASE WHEN c_mktsegment = 'BUILDING' THEN c_custkey END"
        ).alias("k")
    ).createOrReplaceTempView("__q75_keys")
    return spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM __q75_orders
           WHERE o_custkey NOT IN (SELECT k FROM __q75_keys))
            AS not_in_with_nulls,
          (SELECT COUNT(*) FROM __q75_orders
           WHERE o_custkey NOT IN (SELECT k FROM __q75_keys
                                   WHERE k IS NOT NULL))
            AS not_in_filtered,
          (SELECT COUNT(*) FROM __q75_orders o
           WHERE NOT EXISTS (SELECT 1 FROM __q75_keys x
                             WHERE x.k = o.o_custkey))
            AS not_exists_cnt
        """
    )


@gate(
    "SELECT l_orderkey, l_linenumber, "
    "abs(l_extendedprice * (1 - l_discount) - 30000.0) AS abs_margin, "
    "CAST(floor(l_extendedprice) AS BIGINT) AS price_floor, "
    "CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil, "
    "CAST(sign(l_extendedprice * (1 - l_discount) - 30000.0) "
    "  AS BIGINT) AS margin_sign, "
    "CAST(l_orderkey % 7 AS BIGINT) AS key_mod7, "
    "round(sqrt(l_extendedprice), 6) AS price_sqrt, "
    "round(ln(l_extendedprice), 6) AS price_ln, "
    "round(log10(l_extendedprice), 6) AS price_log10, "
    "round(pow(l_discount, 2), 6) AS discount_sq, "
    "greatest(l_quantity, l_discount) AS qmax, "
    "least(l_tax, l_discount) AS rate_min "
    "FROM lineitem "
    "ORDER BY l_orderkey, l_linenumber, abs_margin LIMIT 2000")
def q76_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar family (§2.3): abs/floor/ceil/sqrt/ln/log10/pow/mod/
    sign/greatest/least. Transcendentals (sqrt/ln/log10/pow) round to
    6 dp — JVM StrictMath and DuckDB libm may differ in the last ulp;
    integer-exact functions are emitted raw."""
    li = _t(spark, sf_dir, "lineitem")
    margin = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        30000.0
    )
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.abs(margin).alias("abs_margin"),
            F.floor("l_extendedprice").cast("long").alias("price_floor"),
            F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
            F.signum(margin).cast("long").alias("margin_sign"),
            (F.col("l_orderkey") % 7).cast("long").alias("key_mod7"),
            F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
            F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
            F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
            F.round(F.pow("l_discount", 2), 6).alias("discount_sq"),
            F.greatest("l_quantity", "l_discount").alias("qmax"),
            F.least("l_tax", "l_discount").alias("rate_min"),
        )
        .orderBy("l_orderkey", "l_linenumber", "abs_margin")
        .limit(2000)
    )


@gate(
    "SELECT component, COUNT(*) AS n_docs, "
    "array_to_string(list_sort(list(CAST(node AS VARCHAR))), ',') "
    "  AS members FROM ("
    + fn_comp.components_oracle_sql(fn_dedup.minhash_lsh_sql("duckdb"))
    + ") GROUP BY component ORDER BY component")
def q77_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: MinHash-LSH pairs (q20) closed into connected
    components (functions/components.py, alternating large-star/
    small-star — O(log n) rounds regardless of graph diameter, so a
    100x corpus with chained near-dups cannot outgrow the round
    budget) — the keep-one-per-group step of corpus dedup. Output is
    each component's id (min doc_id), size, and member list."""
    pv = fn_dedup.minhash_pairs_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    labels = fn_comp.cc_labels(spark, spark.table(pv), cache_key=sf_dir)
    return (
        labels.groupBy("component")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("node").cast("string"))),
                ",",
            ).alias("members"),
        )
        .orderBy("component")
    )


@gate(fn_mm.media_features_oracle_sql())
def q25_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column + Arrow-batched mapInPandas feature extract."""
    return fn_mm.media_features(_t(spark, sf_dir, "documents"))


@gate(
    "SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, "
    "event_type, COUNT(*) AS num_events, "
    "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY 1, 2 ORDER BY window_start, event_type",
    collect=True)
def q26_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregate (batch form of the streaming
    windowed agg; epoch-aligned hourly buckets in both engines)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("num_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "num_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@gate(
    "SELECT p_brand, n_name, "
    "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) "
    "AS DOUBLE) AS revenue, COUNT(*) AS n_lines "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "GROUP BY p_brand, n_name ORDER BY p_brand, n_name",
    collect=True)
def q27_part_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-many-dims star join over the remaining dims (part,
    supplier): lineitem streams, all three dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("p_brand", "n_name")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy("p_brand", "n_name")
    )


@gate(
    "SELECT n_name, s_name, s_acctbal, rn FROM ("
    "  SELECT n_name, s_name, s_acctbal, s_suppkey, "
    "    row_number() OVER (PARTITION BY n_name "
    "      ORDER BY s_acctbal DESC, s_suppkey) AS rn "
    "  FROM supplier JOIN nation ON s_nationkey = n_nationkey"
    ") AS t WHERE rn <= 3 ORDER BY n_name, rn",
    collect=True)
def q28_top_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window (TPC-H Q2's argmin shape)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("n_name", "s_name", "s_acctbal", "rn")
        .orderBy("n_name", "rn")
    )


# Spark session_window semantics: events merge while the gap to
# the previous event is < 6h (strict); session end = last_ts + 6h.
# Gaps-and-islands reproduces exactly that.
@gate(
    "WITH flagged AS ("
    "  SELECT user_id, ts, value, CASE WHEN"
    "    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL"
    "    OR ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)"
    "       + INTERVAL 6 HOUR"
    "    THEN 1 ELSE 0 END AS new_session FROM events"
    "), numbered AS ("
    "  SELECT *, SUM(new_session) OVER (PARTITION BY user_id"
    "    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id"
    "  FROM flagged)"
    "SELECT user_id, MIN(ts) AS session_start, "
    "MAX(ts) + INTERVAL 6 HOUR AS session_end, "
    "COUNT(*) AS n_events, "
    "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value "
    "FROM numbered GROUP BY user_id, session_id "
    "ORDER BY user_id, session_start")
def q29_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch form of the streaming
    session_window op): per-user sessions that extend while consecutive
    events are < 6h apart. Single shuffle on user_id; session-merge is
    native Spark (no UDF)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            _dsum(F.col("value"), "sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


@gate(
    "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) "
    "AS sum_price FROM orders "
    "GROUP BY CUBE(o_orderpriority, o_orderstatus) "
    "ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST",
    collect=True)
def q30_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations in one pass; Spark expands
    to a single Expand + partial agg, not 4 scans)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("o_totalprice"), "sum_price"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


@gate(
    "SELECT p.event_id, p.user_id, p.ts AS purchase_ts, "
    "v.ts AS view_ts "
    "FROM (SELECT event_id, user_id, ts FROM events "
    "      WHERE event_type = 'purchase') p "
    "ASOF LEFT JOIN (SELECT user_id, ts FROM events "
    "      WHERE event_type = 'view') v "
    "ON p.user_id = v.user_id AND p.ts >= v.ts "
    "ORDER BY p.event_id")
def q31_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join: each purchase event matched to the same
    user's most recent prior-or-simultaneous view (union + running-last
    window — one shuffle, no inequality join; see operators/asof.py)."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    return (
        op_asof.asof_join(
            purchases, views, on=["user_id"], carry={"view_ts": "ts"}
        )
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "view_ts",
        )
        .orderBy("event_id")
    )


def _replay(spark: SparkSession, sf_dir: str, table: str,
            **cfg) -> tuple[CuratedTable, list[int]]:
    """``table``'s CDC stream replayed through the real write path into
    a new fixture lake: bulk insert batch 0, upsert the rest. ``cfg`` is
    the TableConfig beyond the recipe's record key. Returns the table
    and each commit's version. Callers memoize it per session with
    ``artifact_time.get``: the lake must outlive the builder, because
    returned DataFrames read it lazily."""
    rec = cdc.RECIPES[table]
    rid = _rid_view(spark, sf_dir, table)
    out = CuratedTable(
        spark, artifact_time.lake(f"{cfg['name']}_") / table,
        TableConfig(record_key=list(rec.key_cols), **cfg))
    versions = []
    for b in range(cdc.N_BATCHES):
        batch = spark.sql(cdc.batch_sql(rec, b, rid_src=rid))
        commit = out.bulk_insert(batch) if b == 0 else out.upsert(batch)
        versions.append(commit.version)
    return out, versions


def _replayed_orders(
    spark: SparkSession, sf_dir: str
) -> tuple[CuratedTable, list[int]]:
    """One CDC-replayed orders table per session and corpus, shared by
    the read-path queries (q33 incremental read, q56 time travel). In
    production those queries hit an EXISTING table — the replay is
    shared fixture setup, not part of either operator's work — and the
    write path itself is still measured by q07/q13/q15."""
    return artifact_time.get(
        spark, "replayed_orders", sf_dir,
        lambda: _replay(spark, sf_dir, "orders", name="replay_orders"))


def _replayed_customer(
    spark: SparkSession, sf_dir: str
) -> tuple[CuratedTable, list[int]]:
    """customer CDC replayed through the real storage path — the join
    partner for the join-view IVM gate (mirrors _replayed_orders)."""
    return artifact_time.get(
        spark, "replayed_customer", sf_dir,
        lambda: _replay(spark, sf_dir, "customer", name="replay_customer"))


_JV_LEFT_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]
_JV_RIGHT_COLS = ["c_mktsegment", "c_acctbal"]


def _maintained_join_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Session-cached (initial, fully-maintained) join-view states
    shared by q162 (the view itself) and q172 (the change feed
    published from it) — the maintained view is a PERSISTENT artifact
    in production (that is the point of incremental view maintenance),
    so building the maintenance chain once per session and letting
    both consumers read the materialized result mirrors the deployment
    exactly (the tokhash/PQ artifact pattern)."""

    def build():
        lt, lv = _replayed_orders(spark, sf_dir)
        rt, rv = _replayed_customer(spark, sf_dir)
        s0 = fn_incr.join_view(
            lt.read(version=lv[0]), rt.read(version=rv[0]),
            "o_custkey", "c_custkey", _JV_LEFT_COLS, _JV_RIGHT_COLS,
        )
        state = s0
        for (lp, lc), (rp, rc) in zip(zip(lv, lv[1:]), zip(rv, rv[1:])):
            state = fn_incr.maintain_join_view(
                lt, rt, state, "o_custkey", _JV_LEFT_COLS, _JV_RIGHT_COLS,
                lp, lc, rp, rc,
            )
        return fn_dedup.materialize(s0), fn_dedup.materialize(state)

    return artifact_time.get(spark, "maintained_join_state", sf_dir, build)


def _join_view_oracle_sql() -> str:
    ro = cdc.replay_sql(cdc.RECIPES["orders"])
    rc = cdc.replay_sql(cdc.RECIPES["customer"])
    return f"""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
       c.c_mktsegment, c.c_acctbal
FROM ({ro}) o JOIN ({rc}) c ON o.o_custkey = c.c_custkey
ORDER BY o.o_orderkey
"""


@gate(_join_view_oracle_sql())
def q162_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (orders ⋈ customer on
    custkey) across both tables' CDC commit rounds — Δ(L⋈R) = ΔL⋈R ∪
    L⋈ΔR via recompute-affected-rows (functions/incremental.py
    maintain_join_view), never a full re-join. Exercises left updates,
    left deletes (rows leave with ΔL), and right-side updates/deletes
    (orders re-join or orphan out when their customer changes). Oracle:
    full join of both DuckDB-replayed final states. The maintained
    state is the session-shared artifact (_maintained_join_state)."""
    _, state = _maintained_join_state(spark, sf_dir)
    return state.orderBy("o_orderkey")


def _join_view_change_feed_oracle_sql() -> str:
    ro0 = cdc.replay_sql(cdc.RECIPES["orders"], 0)
    rc0 = cdc.replay_sql(cdc.RECIPES["customer"], 0)
    ro = cdc.replay_sql(cdc.RECIPES["orders"])
    rc = cdc.replay_sql(cdc.RECIPES["customer"])
    vals = ["o_custkey", "o_totalprice", "c_mktsegment", "c_acctbal"]
    old_cols = ", ".join(f"o.{c} AS old_{c}" for c in vals)
    new_cols = ", ".join(f"n.{c} AS new_{c}" for c in vals)
    changed = " OR ".join(
        f"(o.{c} IS DISTINCT FROM n.{c})" for c in vals
    )
    sel_old = ", ".join(f"old_{c}" for c in vals)
    sel_new = ", ".join(f"new_{c}" for c in vals)
    return f"""
WITH b0o AS (SELECT * FROM ({ro0}) s),
b0c AS (SELECT * FROM ({rc0}) s),
v0 AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
         c.c_mktsegment, c.c_acctbal
  FROM b0o o JOIN b0c c ON o.o_custkey = c.c_custkey
),
vn AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
         c.c_mktsegment, c.c_acctbal
  FROM ({ro}) o JOIN ({rc}) c ON o.o_custkey = c.c_custkey
),
j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              ELSE 'update' END AS change_type,
         {old_cols}, {new_cols},
         (o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR {changed})
           AS is_changed
  FROM v0 o FULL OUTER JOIN vn n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey, change_type, {sel_old}, {sel_new}
FROM j WHERE is_changed ORDER BY o_orderkey
"""


@gate(_join_view_change_feed_oracle_sql())
def q172_join_view_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed for the maintained JOIN view (q162's state) —
    the q104 analog on the join side: the insert/update/delete diff
    between the initial join view and the fully maintained one, keyed
    by the view's row key (o_orderkey), published so downstream
    consumers of the enriched view can themselves be incremental.
    Oracle: full-outer join of the two replay-derived join states.
    At scale both diff inputs are the view states, not base data, and
    the diff is one full-outer hash join on the row key."""
    s0, state = _maintained_join_state(spark, sf_dir)
    return fn_incr.state_diff(
        s0, state, "o_orderkey",
        ["o_custkey", "o_totalprice", "c_mktsegment", "c_acctbal"],
    )


@gate(cdc.replay_sql(_REC_O, from_batch=1))
def q33_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi incremental-query analog through the real storage path: bulk
    insert batch 0, upsert batches 1..N, then read ONLY the keys changed
    since the initial load (per-commit changelogs, not a table diff)."""
    rec = cdc.RECIPES["orders"]
    table, versions = _replayed_orders(spark, sf_dir)
    return table.read_incremental(begin_version=versions[0]).select(
        *rec.columns, "trx_seq"
    )


@gate(
    f"SELECT {fn_sampling.split_expr('doc_id', 'duckdb')} AS split, "
    "COUNT(*) AS n_docs, "
    # CAST: DuckDB SUM(int) widens to HUGEINT (surfaces as double
    # through Arrow); Spark stays bigint — pin both to int64.
    f"CAST(SUM({fn_text.token_count_expr('text', 'duckdb')}) AS BIGINT)"
    " AS sum_tokens "
    "FROM documents GROUP BY 1 ORDER BY split",
    collect=True)
def q32_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by portable hash-mod
    bucketing on doc_id (stable across runs/engines; fuses into the
    scan — no shuffle until the tiny 3-group agg)."""
    d = fn_sampling.assign_split(_t(spark, sf_dir, "documents"), "doc_id")
    return (
        d.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.expr(fn_text.token_count_expr("text", "spark"))
            ).alias("sum_tokens"),
        )
        .orderBy("split")
    )


@gate(fn_analytics.funnel_oracle_sql("events"), collect=True)
def q78_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel view → click → purchase:
    first-touch chaining via per-user min-aggregations and equi-joins
    (every shuffle on user_id; stages shrink monotonically)."""
    return fn_analytics.funnel(_t(spark, sf_dir, "events"))


@gate(fn_analytics.retention_oracle_sql("events"), collect=True)
def q79_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: first-event cohort week × week offset →
    distinct active users (Monday-aligned date_trunc both engines)."""
    return fn_analytics.retention_cohorts(_t(spark, sf_dir, "events"))


@gate(fn_analytics.islands_oracle_sql("events"))
def q86_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (lag-break + running sum — the
    window-composition encoding, vs q29's session_window operator);
    gap compare in int64 epoch micros so boundaries can't drift."""
    return fn_analytics.activity_islands(_t(spark, sf_dir, "events"))


@gate(fn_curation.decontamination_sql("duckdb"), collect=True)
def q80_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep: training docs sharing any
    4-gram shingle with the deterministic benchmark subset
    (doc_id % 23 = 0). Shingles derive from the process-wide cached
    token-hash relation shared with q19/q20/q21/q77 — the corpus is
    hashed once, and this query adds one disjoint-slice window pass
    plus the (small bm side) contamination join."""
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_curation.decontamination_sql("spark", th_table=th))


@gate(fn_curation.canonical_selection_sql("duckdb"), collect=True)
def q81_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-dup-group: fingerprint groups → one row_number
    window ordered by quality (n_chars desc, doc_id) → survivors plus
    drop counts."""
    v = _view(spark, sf_dir, "documents", "q81")
    return spark.sql(fn_curation.canonical_selection_sql("spark", table=v))


@gate(fn_curation.token_budget_sql("duckdb"), collect=True)
def q82_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget mixture sample: deterministic hash
    order + running-sum cutoff (one window per language partition)."""
    v = _view(spark, sf_dir, "documents", "q82")
    return spark.sql(fn_curation.token_budget_sql("spark", table=v))


@gate(fn_curation.packing_sql("duckdb"), collect=True)
def q83_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy context-window packing by running token count; reports
    packs and fill ratio per language."""
    v = _view(spark, sf_dir, "documents", "q83")
    return spark.sql(fn_curation.packing_sql("spark", table=v))


@gate(fn_curation.tfidf_search_sql("duckdb"), collect=True)
def q85_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword relevance top-k: explode is filtered to the query
    terms before any shuffle, idf is ln((N+1)/(df+1)), score summed as
    DECIMAL for order-independence."""
    v = _view(spark, sf_dir, "documents", "q85")
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(
        fn_curation.tfidf_search_sql("spark", table=v, th_table=th)
    )


@gate(fn_curation.bm25_search_sql("duckdb"))
def q177_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k relevance ranking (curation.bm25_search_sql):
    q85's TF-IDF upgraded with the k1/b length normalization behind
    Lucene's default similarity — exact integer tf/df/dl aggregates,
    one fixed IEEE expression tree per term score, DECIMAL-accumulated
    per-doc sum, 6dp round. At 100 TB the token stream is materialized
    once and the idf relation is broadcast-sized."""
    v = _view(spark, sf_dir, "documents", "q177")
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(
        fn_curation.bm25_search_sql("spark", table=v, th_table=th)
    )


@gate(fn_comp.triangle_count_sql("duckdb"))
def q178_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting + global clustering coefficient
    on the parts-sharing-an-order co-purchase graph
    (components.triangle_count_sql, Schank-Wagner orientation): wedges
    enumerate only from each node's out-edges in (degree, id) rank
    order, bounding fan-out by O(sqrt(m)) under power-law skew — the
    reason this survives hub nodes at 100 TB. All-integer output.
    The Spark path (components.triangle_count) closes triangles via
    per-edge sorted-adjacency array_intersect instead of the oracle's
    wedge self-join — no wedge row is ever shuffled (sf0.1 graph has
    148M wedges; measured 8.2s → ~2s, vs DuckDB 15-19s on the same
    one-statement form)."""
    v = _view(spark, sf_dir, "lineitem", "q178")
    return fn_comp.triangle_count(spark, v, cache_key=sf_dir)


@gate(fn_sim.jl_projection_sql("duckdb"))
def q179_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection 64->16 dims with a
    per-vector distortion audit (similarity.jl_projection_sql,
    Achlioptas ±1 matrix synthesized from the Lehmer-mixed hash — never
    materialized). Integer-exact projections/norms/checksums; the
    distortion ratio is the one float op, FLOOR-truncated identically
    on both engines. Map-side combine collapses the explode x K fanout
    to N x K rows before the only shuffle."""
    v = _view(spark, sf_dir, "embeddings", "q179")
    iv = fn_sim.emb_rows_view(spark, v, cache_key=sf_dir)
    return spark.sql(fn_sim.jl_projection_sql("spark", table=v,
                                              iv_table=iv))


def _scd2_oracle_sql() -> str:
    rec = cdc.RECIPES["customer"]
    parts = ",\n".join(
        f"b{b} AS ({cdc.batch_sql(rec, b)})" for b in range(cdc.N_BATCHES)
    )
    union = " UNION ALL ".join(
        f"SELECT c_custkey, c_acctbal, c_mktsegment, trx_seq, "
        f"_hoodie_is_deleted AS del, {b} AS v FROM b{b}"
        for b in range(cdc.N_BATCHES)
    )
    return f"""
WITH {parts},
tagged AS ({union}),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY c_custkey, v ORDER BY trx_seq DESC) AS rn
    FROM tagged) t WHERE rn = 1
),
closed AS (
  SELECT *, lead(v) OVER (PARTITION BY c_custkey ORDER BY v) AS valid_to
  FROM latest
)
SELECT c_custkey, c_acctbal, c_mktsegment,
       CAST(v AS BIGINT) AS valid_from, CAST(valid_to AS BIGINT) AS valid_to,
       valid_to IS NULL AS is_current
FROM closed WHERE NOT del ORDER BY c_custkey, valid_from
"""


@gate(_scd2_oracle_sql())
def q180_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history from the customer CDC stream
    (incremental.scd2_history): one validity interval per (key,
    change) with valid_from/valid_to commit versions and is_current —
    in-batch precombine (max trx_seq, the D4 rule), deletes close
    intervals without opening one, re-inserts open fresh intervals.
    Exercised by the fixture's full event mix: double-update in batch
    1 (%10=3 then %100=3), hard delete in batch 2 (%10=7), reinsert in
    batch 3 (%20=7). Oracle: the same 4 shared-dialect batch
    definitions replayed with window functions in DuckDB. One shuffle
    on the record key; per-key window state is the key's change count,
    never a global sort."""
    rec = cdc.RECIPES["customer"]
    rid = _rid_view(spark, sf_dir, "customer")
    batches = [
        (b, spark.sql(cdc.batch_sql(rec, b, rid_src=rid)))
        for b in range(cdc.N_BATCHES)
    ]
    return fn_incr.scd2_history(
        batches, ["c_custkey"], ["c_acctbal", "c_mktsegment"]
    ).orderBy("c_custkey", "valid_from")


def _pit_oracle_sql() -> str:
    rec_c = cdc.RECIPES["customer"]
    rec_o = cdc.RECIPES["orders"]
    parts = ",\n".join(
        [f"cb{b} AS ({cdc.batch_sql(rec_c, b)})" for b in range(cdc.N_BATCHES)]
        + [f"ob{b} AS ({cdc.batch_sql(rec_o, b)})" for b in range(cdc.N_BATCHES)]
    )
    cunion = " UNION ALL ".join(
        f"SELECT c_custkey, c_acctbal, c_mktsegment, trx_seq, "
        f"_hoodie_is_deleted AS del, {b} AS v FROM cb{b}"
        for b in range(cdc.N_BATCHES)
    )
    ounion = " UNION ALL ".join(
        f"SELECT o_orderkey, o_custkey, trx_seq, {b} AS v FROM ob{b}"
        for b in range(cdc.N_BATCHES)
    )
    return f"""
WITH {parts},
ctag AS ({cunion}),
clatest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY c_custkey, v ORDER BY trx_seq DESC) AS rn
    FROM ctag) t WHERE rn = 1
),
cclosed AS (
  SELECT *, lead(v) OVER (PARTITION BY c_custkey ORDER BY v) AS valid_to
  FROM clatest
),
dim AS (
  SELECT c_custkey, c_acctbal, c_mktsegment, v AS valid_from, valid_to
  FROM cclosed WHERE NOT del
),
otag AS ({ounion}),
olatest AS (
  SELECT o_orderkey, o_custkey, v FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_orderkey, v ORDER BY trx_seq DESC) AS rn
    FROM otag) t WHERE rn = 1
)
SELECT o.o_orderkey, CAST(o.v AS BIGINT) AS v, o.o_custkey,
       d.c_acctbal AS acctbal_asof, d.c_mktsegment AS mktsegment_asof
FROM olatest o LEFT JOIN dim d
  ON d.c_custkey = o.o_custkey AND d.valid_from <= o.v
 AND (d.valid_to IS NULL OR o.v < d.valid_to)
ORDER BY o.o_orderkey, o.v
"""


@gate(_pit_oracle_sql())
def q203_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (feature-store) join: every order event joined to
    the customer dimension state AS OF its own commit version, through
    the SCD2 validity intervals (q180's operator) — the PIT-correct
    feature lookup that prevents future-value leakage into training
    examples. Facts from a deleted-interval window resolve to NULL
    (the customer did not exist then), and a same-version change IS
    visible to that version's facts (valid_from <= v). Plan: one
    custkey-partitioned hash join with the interval predicate as a
    residual filter — per-key intervals are change-count sized.
    Oracle: the SCD2 window replay + the same interval join."""
    rec_c = cdc.RECIPES["customer"]
    rec_o = cdc.RECIPES["orders"]
    rid_c = _rid_view(spark, sf_dir, "customer")
    rid_o = _rid_view(spark, sf_dir, "orders")
    dim = fn_incr.scd2_history(
        [
            (b, spark.sql(cdc.batch_sql(rec_c, b, rid_src=rid_c)))
            for b in range(cdc.N_BATCHES)
        ],
        ["c_custkey"],
        ["c_acctbal", "c_mktsegment"],
    )
    facts = None
    for b in range(cdc.N_BATCHES):
        f = (
            spark.sql(cdc.batch_sql(rec_o, b, rid_src=rid_o))
            .select("o_orderkey", "o_custkey", "trx_seq")
            .withColumn("v", F.lit(b).cast("long"))
        )
        facts = f if facts is None else facts.unionByName(f)
    w = Window.partitionBy("o_orderkey", "v").orderBy(F.col("trx_seq").desc())
    facts = (
        facts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "trx_seq")
    )
    j = facts.join(
        dim,
        (facts.o_custkey == dim.c_custkey)
        & (dim.valid_from <= facts.v)
        & (dim.valid_to.isNull() | (facts.v < dim.valid_to)),
        "left",
    )
    return j.select(
        "o_orderkey",
        "v",
        "o_custkey",
        F.col("c_acctbal").alias("acctbal_asof"),
        F.col("c_mktsegment").alias("mktsegment_asof"),
    ).orderBy("o_orderkey", "v")


@gate(fn_sampling.triplet_mining_sql("duckdb"))
def q204_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-triplet construction (sampling.
    triplet_mining_sql): verified near-dup pairs as positives, the
    rank-(n/2)-away same-language doc as the deterministic negative -
    no RNG, identical mined set on any layout. Reads the session-
    cached MinHash pairs artifact."""
    pv = fn_dedup.minhash_pairs_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    v = _view(spark, sf_dir, "documents", "q204")
    return spark.sql(
        fn_sampling.triplet_mining_sql("spark", table=v, pairs=pv)
    )


@gate(fn_sampling.psi_drift_sql("duckdb"))
def q205_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift audit between the train and val hash-splits
    (sampling.psi_drift_sql): per-language population stability index
    over 100-char length buckets, Laplace-smoothed, each bucket term
    frozen into DECIMAL before the per-language sum."""
    v = _view(spark, sf_dir, "documents", "q205")
    return spark.sql(fn_sampling.psi_drift_sql("spark", table=v))


@gate(fn_sampling.temperature_mixture_sql("duckdb"))
def q206_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual mixture (sampling.
    temperature_mixture_sql, the XLM-R n^alpha rule): language budgets
    from milli-scaled integer weight division (the one pow() rounded to
    1e-6 units BEFORE integer arithmetic, so libm ulps cannot flip an
    allocation), deterministic hash-priority keep per language."""
    v = _view(spark, sf_dir, "documents", "q206")
    return spark.sql(fn_sampling.temperature_mixture_sql("spark", table=v))


@gate(fn_sampling.ensemble_selection_sql("duckdb"))
def q207_ensemble_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal quality-selection ensemble (sampling.
    ensemble_selection_sql): three signals rank-normalized per language
    to integer 0-1000, averaged, top-40 per language kept - pure
    integer blend, no libm anywhere, bit-identical on any layout."""
    v = _view(spark, sf_dir, "documents", "q207")
    return spark.sql(fn_sampling.ensemble_selection_sql("spark", table=v))


def _evo_batch_sqls(src: str | None, rid_src: str | None = None) -> list[str]:
    """Supplier CDC batches with a mid-stream schema evolution, shared
    verbatim by the Spark replay and the DuckDB oracle: batches 0-1
    carry the pre-DDL schema (s_nationkey INT, s_acctbal FLOAT);
    batches 2-3 arrive post-ALTER with a new column (s_tier) and the
    Avro promotions INT->BIGINT, FLOAT->DOUBLE applied upstream."""
    rec = cdc.RECIPES["supplier"]
    outs = []
    for b in range(cdc.N_BATCHES):
        inner = cdc.batch_sql(rec, b, src=src, rid_src=rid_src)
        if b < 2:
            outs.append(
                "SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, "
                "CAST(s_nationkey AS INT) AS s_nationkey, "
                "CAST(s_acctbal AS FLOAT) AS s_acctbal, "
                "trx_seq, _hoodie_is_deleted "
                f"FROM ({inner}) AS evo_b{b}"
            )
        else:
            outs.append(
                "SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, "
                "CAST(s_nationkey AS BIGINT) AS s_nationkey, "
                "CAST(s_acctbal AS DOUBLE) AS s_acctbal, "
                "CAST(s_suppkey % 5 AS BIGINT) AS s_tier, "
                "trx_seq, _hoodie_is_deleted "
                f"FROM ({inner}) AS evo_b{b}"
            )
    return outs


def _evo_oracle_sql() -> str:
    """Naive replay of the evolved stream: pre-DDL batches NULL-fill
    s_tier and cast up to the evolved types, then per-key max trx_seq
    wins and tombstones drop — FIXTURES.md §3 semantics unchanged."""
    branches = []
    for b, sql in enumerate(_evo_batch_sqls("supplier")):
        if b < 2:
            branches.append(
                "SELECT s_suppkey, s_name, "
                "CAST(s_nationkey AS BIGINT) AS s_nationkey, "
                "CAST(s_acctbal AS DOUBLE) AS s_acctbal, "
                "CAST(NULL AS BIGINT) AS s_tier, trx_seq, "
                f"_hoodie_is_deleted FROM ({sql}) AS pre{b}"
            )
        else:
            branches.append(
                "SELECT s_suppkey, s_name, s_nationkey, s_acctbal, "
                f"s_tier, trx_seq, _hoodie_is_deleted FROM ({sql}) AS post{b}"
            )
    stream = " UNION ALL ".join(branches)
    return (
        "SELECT s_suppkey, s_name, s_nationkey, s_acctbal, s_tier, trx_seq "
        "FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY s_suppkey ORDER BY trx_seq DESC) AS rn "
        f" FROM ({stream}) AS evo_stream"
        ") AS ranked WHERE rn = 1 AND NOT _hoodie_is_deleted "
        "ORDER BY s_suppkey"
    )


@gate(_evo_oracle_sql(), write=True)
def q208_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the real write path (operators/
    schema_evolution.py; Hudi deltastreamer reconciliation the
    reference delegates at handler.py:139-152): supplier CDC batches
    0-1 land with the pre-DDL schema, batches 2-3 add s_tier and widen
    s_nationkey INT->BIGINT / s_acctbal FLOAT->DOUBLE. The merge must
    append the new column (pre-DDL winners read NULL), widen the stored
    types, and keep precombine/delete semantics intact across the
    evolution. One table rewrite per batch, casts codegen-folded — the
    evolved merge costs exactly what an un-evolved one does."""
    rec = cdc.RECIPES["supplier"]
    rid = _rid_view(spark, sf_dir, "supplier")
    cfg = TableConfig(name="evo_supplier", record_key=list(rec.key_cols))
    tmp = artifact_time.lake("evo_supplier_")
    table = CuratedTable(spark, tmp / "supplier", cfg)
    for b, sql in enumerate(_evo_batch_sqls(None, rid_src=rid)):
        batch = spark.sql(sql)
        table.bulk_insert(batch) if b == 0 else table.upsert(batch)
    return (
        table.read()
        .select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal", "s_tier",
            "trx_seq",
        )
        .orderBy("s_suppkey")
    )


@gate(fn_text.naive_bayes_confusion_sql("duckdb"))
def q209_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained AND applied
    relationally (text.naive_bayes_confusion_sql): add-one-smoothed
    per-(lang, token) log-likelihoods + doc priors, join-sparse scoring
    via the unseen-token correction, per-doc argmax, lang x lang
    confusion matrix. Every ln frozen once per (lang, token) TYPE into
    DECIMAL; per-doc sums are exact decimal arithmetic (q200 rules).
    Shares the tokenize-once token-hash artifact."""
    v = _view(spark, sf_dir, "documents", "q209")
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    model = fn_text.naive_bayes_model_views(spark, v, th, cache_key=sf_dir)
    return spark.sql(
        fn_text.naive_bayes_confusion_sql("spark", table=v, model=model)
    )


@gate(fn_comp.label_propagation_sql("duckdb"))
def q210_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (components.
    label_propagation_sql) on the co-purchase graph — plurality label
    among neighbors, MIN-label tie-break, exactly LPA_ROUNDS rounds;
    the plurality argmax is an integer-encoded MAX aggregate, zero
    windows. Shares the cached copurchase_edges build with triangle
    counting and k-core."""
    li = _view(spark, sf_dir, "lineitem", "q210")
    labels = fn_comp.lpa_labels(spark, li, cache_key=sf_dir)
    return (labels.groupBy("lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
            .select(F.col("lbl").alias("community"), "n_members")
            .orderBy("community"))


@gate(fn_spatial.grid_neighbors_sql("duckdb"))
def q211_grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial neighbor join (spatial.grid_neighbors_sql):
    per-point in-radius neighbor count + deterministic nearest via 3x3
    cell-neighborhood candidates — ONE equi-join on the cell key, exact
    int64 squared distances, no cross product anywhere. Runs with the
    default per-cell participant cap (CELL_CAP=8, lowest-id sample,
    both join sides): candidate pairs are bounded by 9*cells*cap^2 —
    constant under densification — and thinned points surface with
    profiled = FALSE. The cap is deterministic, so the capped answer
    is itself exact cross-engine semantics.

    The participant relation (per-cell cap rank) is materialized once
    per (session, corpus) and referenced three times by the join text —
    Spark's CTE inlining otherwise re-ran the rank window per reference
    (r8, guide §2.4). r9: session-cached under a per-key view name —
    the per-call form accumulated unreleased checkpoint blocks across
    bench runs and its fixed temp-view name was unsafe under concurrent
    queries in one session (r8 ADVICE); the participant grid is a pure
    index of the immutable customer table, the same lifetime as
    tokhash_view."""
    c = _view(spark, sf_dir, "customer", "q211")
    vname = artifact_time.view(
        spark, "q211_grid_parts", sf_dir, lambda: fn_dedup.materialize(
            spark.sql(fn_spatial.grid_parts_sql("spark", customer=c))))
    return spark.sql(fn_spatial.grid_neighbors_sql(
        "spark", customer=c, parts_table=vname
    ))


# sparse-patch replay must converge to the FULL-row replay state
@gate(cdc.replay_sql(cdc.RECIPES["supplier"]), write=True)
def q212_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update payload semantics through the real write path
    (storage.patch_upsert / operators.merge.apply_patches — Hudi's
    OverwriteNonDefaultsWithLatestAvroPayload analog): the update and
    delete batches arrive SPARSE (key + envelope + only the touched
    column; everything else NULL), stacked same-key patches resolve
    per column in trx_seq order, unset columns keep stored values.
    The contract: sparse replay converges to EXACTLY the state the
    reference's full-row replay produces — so the oracle is the
    standard naive replay, and any column the patch path forgets to
    carry forward hash-fails."""
    rec = cdc.RECIPES["supplier"]
    rid = _rid_view(spark, sf_dir, "supplier")
    cfg = TableConfig(name="patch_supplier", record_key=list(rec.key_cols))
    tmp = artifact_time.lake("patch_supplier_")
    table = CuratedTable(spark, tmp / "supplier", cfg)
    sparse = (
        "SELECT s_suppkey, CAST(NULL AS STRING) AS s_name, "
        "CAST(NULL AS BIGINT) AS s_nationkey, {bal} AS s_acctbal, "
        "trx_seq, _hoodie_is_deleted FROM ({inner}) AS sp"
    )
    for b in range(cdc.N_BATCHES):
        inner = cdc.batch_sql(rec, b, rid_src=rid)
        if b == 0:
            table.bulk_insert(spark.sql(inner))
        elif b in (1, 2):
            # updates arrive as single-column patches; deletes carry
            # only the key + tombstone
            bal = "s_acctbal" if b == 1 else "CAST(NULL AS DOUBLE)"
            table.patch_upsert(
                spark.sql(sparse.format(bal=bal, inner=inner))
            )
        else:
            table.patch_upsert(spark.sql(inner))  # full rows still legal
    return (
        table.read().select(*rec.columns, "trx_seq").orderBy("s_suppkey")
    )


@gate(fn_feat.woe_iv_sql("duckdb"))
def q213_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information Value feature screening
    (features.woe_iv_sql): Haldane-smoothed per-bin WOE with one ln per
    bin frozen to DECIMAL, IV as an exact decimal sum — one scan, one
    bin aggregate, scalar totals broadcast back."""
    o = _view(spark, sf_dir, "orders", "q213")
    return spark.sql(fn_feat.woe_iv_sql("spark", orders=o))


@gate(fn_feat.target_encoding_sql("duckdb"))
def q214_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free leave-one-out target encoding (features.
    target_encoding_sql): enc = (sum_cat - own) / (n_cat - 1), global
    fallback for singletons — one category aggregate + one broadcast
    join back; exact decimal sums, one double division per row."""
    o = _view(spark, sf_dir, "orders", "q214")
    return spark.sql(fn_feat.target_encoding_sql("spark", orders=o))


@gate(fn_feat.chi2_tokens_sql("duckdb"))
def q215_chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square token selection per language (features.
    chi2_tokens_sql): all-integer 2x2 presence statistic in exact
    DECIMAL(38,0), top-20 per language with (chi2, hash) tie-break;
    shares the tokenize-once token-hash artifact."""
    v = _view(spark, sf_dir, "documents", "q215")
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(
        fn_feat.chi2_tokens_sql("spark", table=v, th_table=th)
    )


@gate(fn_analytics.seasonal_anomaly_sql("duckdb"))
def q216_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive hourly anomaly detection (analytics.
    seasonal_anomaly_sql): expected = same hour last week over a dense
    NULL-to-0 hour grid (a dead pipeline is the loudest anomaly), flag
    |residual - median| > 3*MAD per type. Week-lag is an equi-join on
    (type, hour-168), never a lag window; all outputs integer/0.5-grid
    doubled into BIGINTs. The tiny residual grid (|types|·|hours| rows)
    is materialized once — Spark's CTE inlining otherwise re-derives
    the events scan for every med/dev/mad reference (r7 bench
    regression postmortem: 0.66→1.82 s was exactly this fan-out
    interacting with the cache-tier change; ~1.1 s steady-state
    materialized, measured min-of-3 idle). r9: session-cached under a
    per-key view name for the same reasons as q211's participant grid
    (checkpoint-block accumulation + fixed-name collision risk)."""
    e = _view(spark, sf_dir, "events", "q216")
    vname = artifact_time.view(
        spark, "q216_resid_grid", sf_dir, lambda: fn_dedup.materialize(
            spark.sql(fn_analytics.seasonal_resid_sql("spark", events=e))))
    return spark.sql(
        fn_analytics.seasonal_anomaly_sql("spark", resid_table=vname)
    )


@gate(
    "WITH g AS ("
    "  SELECT doc_id, source, n_chars,"
    "         row_number() OVER ("
    "           PARTITION BY source ORDER BY n_chars, doc_id) AS r,"
    "         COUNT(*) OVER (PARTITION BY source) AS ns"
    "  FROM documents"
    "), gq AS ("
    "  SELECT n_chars AS norm_chars, row_number() OVER ("
    "    ORDER BY n_chars, doc_id) AS p"
    "  FROM documents"
    "), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM documents) "
    "SELECT g.doc_id, g.source, g.n_chars, gl.norm_chars "
    "FROM g CROSS JOIN nn "
    "JOIN gq gl ON gl.p = (2 * g.r - 1) * nn.N // (2 * g.ns) + 1 "
    "ORDER BY g.doc_id")
def q217_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (the bioinformatics-classic
    distribution harmonizer, Bolstad et al. 2003, applied to corpus
    length stats): each source's n_chars distribution maps onto the
    GLOBAL distribution — a doc at within-source rank r of n_s takes
    the global value at midpoint position floor((2r−1)·N/(2·n_s)) + 1.
    All-integer ranks and positions; int64 floor-div is truncation on
    both engines (positive operands), so the mapping is bit-exact.

    Scale shape: BOTH rank sides run the two-pass range-bucketed rank
    (operators/rank.py) — the global side via global_row_number, the
    per-source side via grouped_row_number, so neither a whole corpus
    NOR a whole source ever sits in one window task (the oracle's
    PARTITION BY source window would); the position lookup is one
    equi-join on the global rank."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    g = rank_ops.grouped_row_number(
        docs, ["source"], ["n_chars", "doc_id"],
        out_col="r", group_total_col="ns",
    )
    glob = rank_ops.global_row_number(
        docs, ["n_chars", "doc_id"], out_col="p",
    ).select("p", F.col("n_chars").alias("norm_chars"))
    # N inlined as a literal (the rank passes already counted the
    # corpus driver-side; a scalar cross join would recompute glob's
    # lineage a second time). Integer floor-div, never a double
    # division + cast (exactness past 2^53); (2r−1)·N stays in int64
    # to ~3e9 rows — ANSI mode errors loudly beyond, where the mapping
    # would shard per group.
    n_total = docs.count()
    pos = f"CAST((2 * r - 1) * {n_total} div (2 * ns) AS BIGINT) + 1"
    return (
        g.withColumn("pos", F.expr(pos))
        .join(glob, F.col("pos") == F.col("p"))
        .select("doc_id", "source", "n_chars", "norm_chars")
        .orderBy("doc_id")
    )


@gate(fn_feat.feature_snapshot_sql("duckdb"))
def q218_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-horizon trailing feature snapshot (features.
    feature_snapshot_sql): 30/90/365-day order counts + exact decimal
    spend per customer, all horizons from ONE scan via conditional
    aggregates — the feature-store materialization pattern."""
    o = _view(spark, sf_dir, "orders", "q218")
    return spark.sql(fn_feat.feature_snapshot_sql("spark", orders=o))


@gate(fn_analytics.sequence_examples_sql("duckdb"))
def q219_sequence_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event training-example construction (analytics.
    sequence_examples_sql): per-user (context = last 3 event types,
    label = next event) rows from one user-partitioned window, capped
    at 20 positions per user so no user dominates the training set."""
    e = _view(spark, sf_dir, "events", "q219")
    return spark.sql(fn_analytics.sequence_examples_sql("spark", events=e))


@gate(fn_curation.k_anonymity_sql("duckdb"))
def q220_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity re-identification audit (curation.
    k_anonymity_sql): equivalence classes over (nation, integer
    balance band), per-class k and l, (k-band, l-band) histogram plus
    the row cost of a k=5 suppression — the governance counterpart to
    q121's PII detector. All-integer banding, two map-side aggregates."""
    c = _view(spark, sf_dir, "customer", "q220")
    return spark.sql(fn_curation.k_anonymity_sql("spark", customer=c))


@gate(fn_sampling.leakage_safe_split_sql("duckdb"))
def q221_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (sampling.
    leakage_safe_split_sql) — the FIX for q198's audit: split keys are
    dup-GROUP representatives (star-closure components over the cached
    MinHash pairs), so near-dups can never straddle splits; the gate
    recomputes the cross-split pair count and hash-checks the zero."""
    docs = _t(spark, sf_dir, "documents")
    pv = fn_dedup.minhash_pairs_view(spark, docs, cache_key=sf_dir)
    labels = fn_comp.cc_labels(spark, spark.table(pv), cache_key=sf_dir)
    labels.createOrReplaceTempView("__q221_labels")
    v = _view(spark, sf_dir, "documents", "q221")
    return spark.sql(
        fn_sampling.leakage_safe_split_sql(
            "spark", table=v, pairs=pv, labels="__q221_labels"
        )
    )


_OW_PRED = "s_nationkey IN (0, 1, 2, 3, 4)"


def _ow_oracle_sql() -> str:
    rec = cdc.RECIPES["supplier"]
    b0 = cdc.batch_sql(rec, 0)
    cols = ", ".join(rec.columns)
    return f"""
WITH b0 AS ({b0})
SELECT {cols}, trx_seq FROM b0 WHERE NOT ({_OW_PRED})
UNION ALL
SELECT s_suppkey, s_name, s_nationkey,
       s_acctbal + 777.0 AS s_acctbal, trx_seq
FROM b0 WHERE {_OW_PRED} AND s_suppkey % 2 = 0
ORDER BY s_suppkey"""


@gate(_ow_oracle_sql(), write=True)
def q222_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi insert_overwrite through the real write path (storage.
    insert_overwrite, the replacecommit analog): a restatement batch
    REPLACES the partitions it touches with exactly its rows — stored
    keys the batch doesn't carry disappear (the backfill operation an
    upsert cannot express). Touched partitions get only the even-key
    half with restated prices; untouched partitions carry forward by
    reference. Oracle: originals outside the predicate UNION the
    restatement rows."""
    rec = cdc.RECIPES["supplier"]
    rid = _rid_view(spark, sf_dir, "supplier")
    cfg = TableConfig(
        name="ow_supplier",
        record_key=list(rec.key_cols),
        is_partitioned=True,
        partition_path="s_nationkey",
    )
    tmp = artifact_time.lake("ow_supplier_")
    table = CuratedTable(spark, tmp / "supplier", cfg)
    b0 = cdc.batch_sql(rec, 0, rid_src=rid)
    table.bulk_insert(spark.sql(b0))
    # odd keys ride along as tombstones, so a partition whose only
    # suppliers have odd keys is still touched (and so replaced)
    table.insert_overwrite(spark.sql(
        f"SELECT s_suppkey, s_name, s_nationkey, "
        f"s_acctbal + 777.0 AS s_acctbal, trx_seq, "
        f"_hoodie_is_deleted OR s_suppkey % 2 = 1 AS _hoodie_is_deleted "
        f"FROM ({b0}) AS ow WHERE {_OW_PRED}"
    ))
    return (
        table.read().select(*rec.columns, "trx_seq").orderBy("s_suppkey")
    )


def _fk_oracle_sql() -> str:
    rec_o, rec_c = cdc.RECIPES["orders"], cdc.RECIPES["customer"]
    parts = []
    for b in range(cdc.N_BATCHES):
        osql = cdc.replay_sql(rec_o, upto_batch=b)
        csql = cdc.replay_sql(rec_c, upto_batch=b)
        parts.append(f"""
SELECT {b} AS batch,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ({osql}) AS o{b}) AS n_orders,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ({osql}) AS oo{b}
        WHERE oo{b}.o_custkey NOT IN (
          SELECT c_custkey FROM ({csql}) AS c{b})) AS n_orphans""")
    return " UNION ALL ".join(parts) + " ORDER BY batch"


@gate(_fk_oracle_sql())
def q223_consistent_snapshot_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table CONSISTENT time travel: read orders and customer AS
    OF the same logical batch (their commit timelines advance in
    lockstep under the shared CDC replay) and audit referential
    integrity at each aligned snapshot — the cross-table guarantee a
    lake needs before joining dimensions to facts as-of a point in
    time. Customer deletes (batch 2) orphan the orders that reference
    them; reinserts (batch 3) heal half. Output per batch: order count
    and orphan count — a LEFT ANTI join per snapshot, both sides
    version-pruned reads from the cached replay fixtures."""
    ot, over = _replayed_orders(spark, sf_dir)
    ct, cver = _replayed_customer(spark, sf_dir)
    out = None
    for b in range(cdc.N_BATCHES):
        o = ot.read(version=over[b]).select("o_orderkey", "o_custkey")
        c = ct.read(version=cver[b]).select("c_custkey")
        orphans = o.join(
            c, o["o_custkey"] == c["c_custkey"], "left_anti"
        )
        row = o.agg(
            F.lit(b).alias("batch"),
            F.count("*").cast("long").alias("n_orders"),
        ).crossJoin(
            orphans.agg(F.count("*").cast("long").alias("n_orphans"))
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("batch")


@gate(fn_analytics.ab_test_sql("duckdb"))
def q224_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout (analytics.ab_test_sql): deterministic
    hash-parity variant assignment (the q32 split hash), per-variant
    conversion counts, floor-pinned ppm rates, and the two-proportion
    pooled z as one fixed IEEE expression tree over exact integer
    counts."""
    e = _view(spark, sf_dir, "events", "q224")
    return spark.sql(fn_analytics.ab_test_sql("spark", events=e))


@gate(fn_text.naive_bayes_calibration_sql("duckdb"))
def q225_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based confidence calibration of the NB classifier (text.
    naive_bayes_calibration_sql): per-doc top1-minus-top2 log-likelihood
    margin (exact DECIMAL, no softmax/libm), fixed nat-bands, per-band
    accuracy floor-pinned to ppm. Shares q209's materialized model
    artifacts, so the readout costs one scoring pass + one window."""
    v = _view(spark, sf_dir, "documents", "q225")
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    model = fn_text.naive_bayes_model_views(spark, v, th, cache_key=sf_dir)
    return spark.sql(
        fn_text.naive_bayes_calibration_sql("spark", table=v, model=model)
    )


def _stream_pattern_oracle_sql() -> str:
    return """
WITH seq AS (
  SELECT user_id, event_id, event_type,
         lag(event_type, 1) OVER w AS l1,
         lag(event_type, 2) OVER w AS l2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(event_id AS BIGINT) AS hit_event_id
FROM seq
WHERE l2 = 'view' AND l1 = 'click' AND event_type = 'purchase'
ORDER BY user_id, hit_event_id"""


@gate(_stream_pattern_oracle_sql(), write=True)
def q226_stream_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch CEP pattern detection through the driver gate
    (streaming/windows.pattern_hits): view>click>purchase triggers per
    user, fed as FOUR TIME-ORDERED micro-batches so matches genuinely
    span batch boundaries; per-user state is two strings, never the
    history. Streamed hits must equal the relational lag() oracle
    row-for-row."""
    from aws_dms_to_hudi_spark.streaming.windows import pattern_hits

    def build():
        ev = _t(spark, sf_dir, "events").select(
            "user_id", "event_id", "ts", "event_type"
        )
        cuts = ev.agg(
            F.percentile_approx("ts", [0.25, 0.5, 0.75], 1000)
        ).collect()[0][0]
        tmp = artifact_time.lake("pattern_")
        src = tmp / "stream"
        conds = [
            F.col("ts") <= cuts[0],
            (F.col("ts") > cuts[0]) & (F.col("ts") <= cuts[1]),
            (F.col("ts") > cuts[1]) & (F.col("ts") <= cuts[2]),
            F.col("ts") > cuts[2],
        ]
        for i, c in enumerate(conds):
            ev.filter(c).coalesce(1).write.parquet(
                str(src / f"batch-{i}")
            )
        stream = (
            spark.readStream.schema(
                "user_id long, event_id long, ts timestamp, "
                "event_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "batch-*"))
        )
        out = str(tmp / "hits")

        def _sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            pattern_hits(stream)
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return out

    out = artifact_time.get(spark, "q226_stream_pattern", sf_dir, build)
    return (
        spark.read.schema("user_id long, hit_event_id long")
        .parquet(out)
        .orderBy("user_id", "hit_event_id")
    )


_LATE_BANDS = (
    ("0_ontime", "lateness = 0"),
    ("1_le60s", "lateness <= 60"),
    ("2_le300s", "lateness <= 300"),
    ("3_le1800s", "lateness <= 1800"),
    ("4_gt1800s", "TRUE"),
)


def _late_band_case() -> str:
    arms = " ".join(
        f"WHEN {cond} THEN '{label}'" for label, cond in _LATE_BANDS[:-1]
    )
    return f"CASE {arms} ELSE '{_LATE_BANDS[-1][0]}' END"


def _lateness_oracle_sql() -> str:
    return f"""
WITH ev AS (
  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch FROM events
),
run AS (
  SELECT event_id, epoch,
         MAX(epoch) OVER (ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmax
  FROM ev
),
late AS (SELECT rmax - epoch AS lateness FROM run)
SELECT {_late_band_case()} AS band,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(lateness) AS BIGINT) AS max_lateness_s
FROM late
GROUP BY 1
ORDER BY band"""


@gate(_lateness_oracle_sql())
def q227_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness profile — the measurement that JUSTIFIES a
    withWatermark delay: per event, lateness = (max event-time seen so
    far in arrival order) − own event-time, banded into the candidate
    delay buckets; the band histogram reads directly as "a 5-minute
    watermark would drop X events". Arrival order is event_id (the
    fixture's arrival proxy; production uses the ingest offset).

    The running max is the two-pass range-bucketed prefix max
    (operators/rank.global_running_max) — never a single-partition
    window; the oracle states the same prefix max as one window."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("long").alias("epoch")
    )
    r = rank_ops.global_running_max(
        ev, "event_id", "epoch", out_col="rmax"
    )
    late = r.withColumn("lateness", F.col("rmax") - F.col("epoch"))
    return (
        late.select(F.expr(_late_band_case()).alias("band"), "lateness")
        .groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("lateness").cast("long").alias("max_lateness_s"),
        )
        .orderBy("band")
    )


@gate(fn_curation.ppmi_pairs_sql("duckdb"))
def q181_ppmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive PMI token co-occurrence (curation.ppmi_pairs_sql,
    Church & Hanks association): window-2 position self-join (fan-out
    ≤ 2 per token, co-partitioned on doc_id with the explode — never
    token × token), exact integer pair/unigram/total counts, one ln
    per reported pair. The phrase-detection / embedding-prep step.
    Token rows come off the session-cached token-string artifact —
    the text references them three times (r8, guide §2.4)."""
    v = _view(spark, sf_dir, "documents", "q181")
    tr = fn_dedup.token_rows_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(
        fn_curation.ppmi_pairs_sql("spark", table=v, tok_table=tr)
    )


@gate(fn_curation.canonical_url_sql("duckdb"))
def q182_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL crawl dedup (curation.canonical_url_sql): messy
    fixture URLs (case noise, www., explicit :443, utm_* tracking
    params, unsorted query, fragments) REALLY parsed and normalized
    with regexp component extraction + split/filter/sort/join — no
    UDFs, whole-stage codegen. The fixture's moduli make doc d and
    d+420 true refetches, so dup groups are exercised. One map pass +
    one hash-agg on the canonical string."""
    v = _view(spark, sf_dir, "documents", "q182")
    return spark.sql(fn_curation.canonical_url_sql("spark", table=v))


@gate(fn_curation.dq_audit_sql("duckdb"))
def q183_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (curation.dq_audit_sql,
    the dbt-test/Deequ analog): referential, key, domain, and temporal
    rules fused as conditional aggregates into ONE pass per fact table
    — 3 scans instead of rules × scans at 100 TB; dimensions ride the
    join build side. Zero-violation rows prove constraints held over
    n_checked rows; the ships-within-90d rule is genuinely violated,
    proving the counting path is live."""
    return spark.sql(fn_curation.dq_audit_sql(
        "spark",
        orders=_view(spark, sf_dir, "orders", "q183"),
        customer=_view(spark, sf_dir, "customer", "q183"),
        lineitem=_view(spark, sf_dir, "lineitem", "q183"),
        nation=_view(spark, sf_dir, "nation", "q183"),
        part=_view(spark, sf_dir, "part", "q183"),
    ))


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """q184's trained merge table, trained once per session and corpus
    and shared by every tokenizer gate."""
    return artifact_time.get(
        spark, "bpe_merges", sf_dir, lambda: fn_bpe.bpe_train(
            spark, _view(spark, sf_dir, "documents", "q184")).collect())


@gate(fn_bpe.bpe_oracle_sql())
def q184_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (functions/bpe.py, Sennrich
    et al. 2015): BPE_ROUNDS merge rounds over a deterministic 20%
    document sample, each round = lead()-pair hash-agg + greedy-leftmost
    corpus-wide merge via run-key/parity windows, all sharing ONE
    (doc_id, wid) shuffle; the symbol table is materialized per round so
    training is O(rounds) passes. Output: the ordered merge table — the
    trained tokenizer artifact (one collected row per round). Oracle:
    the same rounds unrolled in DuckDB with scalar best-pair relations.
    Merges cache per (session, corpus): contract + bench retrain once."""
    return spark.createDataFrame(_bpe_merges(spark, sf_dir),
                                 fn_bpe.MERGES_SCHEMA)


@gate(fn_bpe.bpe_encode_oracle_sql())
def q192_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer inference (functions/bpe.py bpe_encode): replay
    q184's trained merge table over the FULL corpus with the same
    greedy-leftmost relational merge — O(rounds) document-partitioned
    passes, symbol table materialized per round — and profile each
    doc's encoding (token count, merged-symbol count, conserved char
    total). Oracle: training + application unrolled in one DuckDB
    statement, so both engines derive the merges independently."""
    v = _view(spark, sf_dir, "documents", "q192")
    return fn_bpe.bpe_encode(spark, v, _bpe_merges(spark, sf_dir),
                             cache_key=sf_dir)


@gate(fn_curation.chunk_documents_sql("duckdb"))
def q185_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap
    (curation.chunk_documents_sql): token windows of CHUNK_SIZE every
    CHUNK_STRIDE positions — constant 2× fan-out via a per-token
    chunk-id range explode (never token × chunk), token hashes computed
    once before the fan-out, (doc_id, chunk) agg co-partitioned with
    the tokenize explode. The RAG/long-context prep step."""
    v = _view(spark, sf_dir, "documents", "q185")
    return spark.sql(fn_curation.chunk_documents_sql("spark", table=v))


@gate(fn_dedup.snm_pairs_sql("duckdb"))
def q186_snm_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass sorted-neighborhood ER (dedup.snm_pairs_sql,
    Hernández–Stolfo merge/purge): O(N·w) candidates from lead()
    windows partitioned by the blocking char — never a global sort,
    never a self-join; forward + reversed-key passes union to cover
    block-boundary misses; exact levenshtein on neighbors only. The
    sort-order counterpart of q130's deletion-neighborhood ER."""
    v = _view(spark, sf_dir, "part", "q186")
    return spark.sql(fn_dedup.snm_pairs_sql("spark", table=v))


@gate(fn_dedup.dup_span_sql("duckdb"))
def q188_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup cut list (dedup.dup_span_sql, Lee et al.
    arXiv:2107.06499): maximal per-doc token ranges covered by 5-gram
    shingles with corpus doc-frequency ≥ 2 — the spans a pipeline
    subtracts from training text. Positional shingles + docfreq
    self-aggregate + per-doc gaps-and-islands merge; linear in corpus
    tokens, documents never pair up. Engine side reuses the cached
    tokenize-once token-hash view (q19/q20/q21/q77/q155 artifact)."""
    sp = fn_dedup.shingle_pos_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_dedup.dup_span_sql("spark", shpos_table=sp))


@gate(fn_dedup.paragraph_dedup_sql("duckdb"))
def q189_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph-granularity dedup profile
    (dedup.paragraph_dedup_sql, Wenzek et al. arXiv:1911.00359):
    non-overlapping 8-token blocks, each block hash kept only at its
    first corpus occurrence (min doc, then min block — deterministic
    keeper). Keeper selection is two MIN aggregates, map-side
    combinable — a hot boilerplate block never funnels a fat window
    partition. Shares the tokenize-once token-hash artifact."""
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_dedup.paragraph_dedup_sql("spark", th_table=th))


@gate(
    fn_dedup.golden_record_sql(
        "duckdb",
        labels="(" + fn_comp.components_oracle_sql(
            "SELECT name_a AS doc_a, name_b AS doc_b FROM ("
            + fn_dedup.snm_pairs_sql("duckdb") + ")") + ")",
    ))
def q190_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship after entity resolution (dedup.golden_record_sql):
    q186's SNM matched-name pairs close into clusters via large-star/
    small-star components (O(log n) rounds), then each cluster merges
    to one golden record under per-attribute rules (longest name,
    mode brand, MIN size, MAX price). Oracle recomputes the labels
    with the recursive-CTE reachability closure over the same pair
    SQL."""
    v = _view(spark, sf_dir, "part", "q190")
    pairs = spark.sql(
        "SELECT name_a AS doc_a, name_b AS doc_b FROM ("
        + fn_dedup.snm_pairs_sql("spark", table=v) + ")"
    )
    labels = fn_comp.cc_labels(spark, pairs, cache_key=sf_dir, tag="snm")
    labels.createOrReplaceTempView("__q190_lbl")
    return spark.sql(
        fn_dedup.golden_record_sql("spark", part=v, labels="__q190_lbl")
    )


@gate(fn_comp.kcore_oracle_sql())
def q191_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling on the co-purchase graph (components.kcore):
    5 rounds of drop-degree-<80 + survivor semi-joins, edge set
    materialized per round (truncated lineage, monotonically
    shrinking). Contract = state after exactly 5 peels, so both
    engines agree without a convergence test; oracle unrolls the same
    rounds as MATERIALIZED CTEs. The density-subgraph counterpart of
    q178's triangle counting (shared copurchase_edges build)."""
    v = _view(spark, sf_dir, "lineitem", "q191")
    return fn_comp.kcore(spark, v, cache_key=sf_dir)


@gate(
    "WITH v_old AS (SELECT o_orderkey, trx_seq AS old_seq FROM ("
    + cdc.replay_sql(_REC_O, upto_batch=1)
    + ")), v_new AS (SELECT o_orderkey, trx_seq AS new_seq FROM ("
    + cdc.replay_sql(_REC_O, upto_batch=cdc.N_BATCHES - 1)
    + ")) SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey, "
    "CASE WHEN o.old_seq IS NULL THEN 'ADDED' "
    "WHEN n.new_seq IS NULL THEN 'DELETED' "
    "ELSE 'CHANGED' END AS change_type, o.old_seq, n.new_seq "
    "FROM v_old o FULL OUTER JOIN v_new n "
    "ON o.o_orderkey = n.o_orderkey "
    "WHERE o.old_seq IS NULL OR n.new_seq IS NULL "
    "OR o.old_seq <> n.new_seq ORDER BY 1")
def q193_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff between two table versions (Delta CDF
    "table_changes" / Hudi incremental-query analog, but as a
    symmetric set diff of SNAPSHOTS rather than a log scan): read the
    replayed orders table AS OF the version after batch 1 and the
    final version, full-outer join on the record key, classify
    ADDED / DELETED / CHANGED (trx_seq moved), drop unchanged rows.
    One key-partitioned shuffle; at 100 TB both sides prune to the
    compared key ranges via the key-range file groups (D15c). Oracle:
    the same classification over the two CDC replay states."""
    table, versions = _replayed_orders(spark, sf_dir)
    old = table.read(version=versions[1]).select(
        "o_orderkey", F.col("trx_seq").alias("old_seq")
    )
    new = table.read(version=versions[-1]).select(
        "o_orderkey", F.col("trx_seq").alias("new_seq")
    )
    j = old.join(new, "o_orderkey", "full_outer")
    return (
        j.select(
            "o_orderkey",
            F.when(F.col("old_seq").isNull(), F.lit("ADDED"))
            .when(F.col("new_seq").isNull(), F.lit("DELETED"))
            .otherwise(F.lit("CHANGED"))
            .alias("change_type"),
            "old_seq",
            "new_seq",
        )
        .filter(
            F.col("old_seq").isNull()
            | F.col("new_seq").isNull()
            | (F.col("old_seq") != F.col("new_seq"))
        )
        .orderBy("o_orderkey")
    )


@gate(fn_analytics.peak_concurrency_oracle_sql())
def q194_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-sweep max concurrency (analytics.peak_concurrency):
    peak number of simultaneously-open 30-min event intervals and the
    earliest peak instant. The global prefix sum runs through
    operators.rank.global_running_sum (range-bucketed two-pass), never
    a single-partition window; deltas pre-aggregate to one net change
    per distinct instant first."""
    return fn_analytics.peak_concurrency(_t(spark, sf_dir, "events"))


@gate(fn_dedup.phrase_search_sql("duckdb"))
def q195_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over the positional shingle index
    (dedup.phrase_search_sql): all (doc_id, pos) occurrences of
    'fast scan'. The query hash derives in-SQL from a 1-row literal
    relation through the same tokenizer/rolling-hash/Horner chain as
    the corpus, then broadcast-joins the positional shingle relation —
    an index lookup against the shared tokenize-once artifact (the
    2-word corpus side is a projection of the cached bigram rows —
    no window; r8, guide §2.4)."""
    bg = fn_dedup.bigram_rows_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_dedup.phrase_search_sql("spark", bg_table=bg))


@gate(
    "WITH w AS (SELECT o_orderpriority, "
    "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)"
    " AS BIGINT) AS cnt_f, "
    "CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)"
    " AS BIGINT) AS cnt_o, "
    "CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)"
    " AS BIGINT) AS cnt_p "
    "FROM orders GROUP BY o_orderpriority) "
    "SELECT o_orderpriority, 'F' AS status, cnt_f AS cnt FROM w "
    "UNION ALL "
    "SELECT o_orderpriority, 'O' AS status, cnt_o AS cnt FROM w "
    "UNION ALL "
    "SELECT o_orderpriority, 'P' AS status, cnt_p AS cnt FROM w "
    "ORDER BY o_orderpriority, status",
    collect=True)
def q84_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): status-conditional counts widened per priority,
    then unpivoted back to (priority, status, cnt) rows — the inverse
    surface of q43's PIVOT, via the DataFrame unpivot operator."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        *[
            F.sum(
                F.when(F.col("o_orderstatus") == s, 1).otherwise(0)
            ).alias(f"cnt_{s.lower()}")
            for s in ("F", "O", "P")
        ]
    )
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=["cnt_f", "cnt_o", "cnt_p"],
            variableColumnName="status_col",
            valueColumnName="cnt",
        )
        .select(
            "o_orderpriority",
            F.upper(F.substring("status_col", 5, 1)).alias("status"),
            "cnt",
        )
        .orderBy("o_orderpriority", "status")
    )


# q87 gate mirrors q12: exact counts + the sketch accuracy band.
@gate(
    "SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, "
    "TRUE AS within_5pct FROM events GROUP BY event_type "
    "UNION ALL "
    "SELECT 'ALL' AS event_type, COUNT(DISTINCT user_id) AS n_exact, "
    "TRUE AS within_5pct FROM events "
    "ORDER BY event_type",
    collect=True)
def q87_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (DataSketches HLL): per-group
    sketches union-merged into a rollup total WITHOUT re-scanning the
    base data — the 100 TB pattern for distinct-user counts across
    report levels (sketches are tiny, mergeable, and order-independent;
    an exact rollup would need a second full shuffle of raw ids).
    Estimates are implementation-specific, so the GATED output is the
    exact count per level plus the sketch's accuracy band (default lgK
    realizes < 1% here; band pinned at 5%) — the oracle computes the
    exact rollup and asserts the band, like q12."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").cast("long").alias("n_exact"),
    )
    per_level = per.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_5pct"),
    )
    total_exact = e.agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    total = (
        per.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
        .crossJoin(total_exact)
        .select(
            F.lit("ALL").alias("event_type"),
            "n_exact",
            (F.abs(F.col("est") - F.col("n_exact"))
             <= 0.05 * F.col("n_exact")).alias("within_5pct"),
        )
    )
    return per_level.unionByName(total).orderBy("event_type")


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC merge replay of orders on sf0.001."""
    return q07_cdc_merge_replay(spark, "/root/testdata/sf0.001")


def _waiting_suppliers_sql(
    lineitem: str = "lineitem",
    orders: str = "orders",
    supplier: str = "supplier",
    late_days: int = 60,
) -> str:
    """TPC-H Q21 shape (adapted to this schema: 'late' = shipped more
    than ``late_days`` after the order date): suppliers who were the
    ONLY late shipper in a finished multi-supplier order — a doubly
    correlated EXISTS / NOT EXISTS pair, where the anti subquery
    references BOTH the sibling lineitem and the outer order's date.
    Catalyst decorrelates both into joins; identical text runs on
    DuckDB."""
    late = f"+ INTERVAL '{late_days}' DAY"
    return f"""
SELECT s.s_name, COUNT(*) AS numwait
FROM {supplier} s
JOIN {lineitem} l1 ON s.s_suppkey = l1.l_suppkey
JOIN {orders} o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate {late}
  AND EXISTS (
    SELECT 1 FROM {lineitem} l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM {lineitem} l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate {late})
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def _dormant_customers_sql(
    customer: str = "customer", orders: str = "orders"
) -> str:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no OPEN orders (every customer has some order in this dataset,
    so the anti condition is status-scoped to keep the result
    non-trivial), grouped by market segment. The average comes from an
    exact decimal SUM divided by COUNT (both engines produce the
    identical double), so the threshold can't flip rows on
    accumulation order."""
    avg = (
        f"SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)"
        f" / COUNT(*) FROM {customer} c2 WHERE c2.c_acctbal > 0.0"
    )
    return f"""
SELECT c.c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
         AS totacctbal
FROM {customer} c
WHERE c.c_acctbal > ({avg})
  AND NOT EXISTS (
    SELECT 1 FROM {orders} o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@gate(_waiting_suppliers_sql(), collect=True)
def q97_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape through the engine's SQL surface (D10)."""
    li = _view(spark, sf_dir, "lineitem", "q97")
    o = _view(spark, sf_dir, "orders", "q97")
    s = _view(spark, sf_dir, "supplier", "q97")
    return spark.sql(_waiting_suppliers_sql(li, o, s))


@gate(_dormant_customers_sql(), collect=True)
def q98_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape through the engine's SQL surface (D10)."""
    c = _view(spark, sf_dir, "customer", "q98")
    o = _view(spark, sf_dir, "orders", "q98")
    return spark.sql(_dormant_customers_sql(c, o))


def _envelope_customer(
    spark: SparkSession, sf_dir: str, fmt: str
) -> CuratedTable:
    """Shared fixture: the customer CDC stream landed as stock-DMS
    ``Op``-envelope CSV, JSON lines, or ORC (not parquet), ingested
    through the matching source with its watermark checkpoint: batch 0
    via the initial full load, batches 1..N discovered incrementally and
    upsert-merged."""
    from aws_dms_to_hudi_spark.sources.csv_dfs import CsvDFSSource
    from aws_dms_to_hudi_spark.sources.json_dfs import JsonDFSSource
    from aws_dms_to_hudi_spark.sources.orc_dfs import OrcDFSSource

    def build():
        rec = cdc.RECIPES["customer"]
        view = f"__env_customer_{fmt}"
        _t(spark, sf_dir, "customer").createOrReplaceTempView(view)
        tmp = artifact_time.lake(f"env_{fmt}_")
        raw = tmp / "raw"

        def land(b: int) -> None:
            env = (
                spark.sql(cdc.batch_sql(rec, b, src=view))
                .withColumn(
                    "Op",
                    F.when(F.col("_hoodie_is_deleted"), F.lit("D"))
                    .otherwise(F.lit("I" if b == 0 else "U")),
                )
                .drop("_hoodie_is_deleted")
            )
            # real DMS CSV/JSON output leads with the Op column
            env = env.select("Op", *[c for c in env.columns if c != "Op"])
            w = env.coalesce(1).write.mode("overwrite")
            out = str(raw / f"batch-{b:05d}")
            if fmt == "csv":
                w.option("header", "true").csv(out)
            elif fmt == "orc":
                w.orc(out)
            else:
                w.json(out)

        land(0)
        if fmt == "orc":
            # ORC embeds its schema — no caller DDL, like the parquet path
            src = OrcDFSSource(spark, raw)
        else:
            ddl = "Op string, " + ", ".join(
                f"{c} {t}"
                for c, t in spark.sql(
                    cdc.batch_sql(rec, 0, src=view)
                ).drop("_hoodie_is_deleted").dtypes
            )
            src_cls = CsvDFSSource if fmt == "csv" else JsonDFSSource
            src = src_cls(spark, raw, schema=ddl)
        cfg = TableConfig(name=f"env_customer_{fmt}",
                          record_key=list(rec.key_cols))
        table = CuratedTable(spark, tmp / "customer", cfg)
        batch, ckpt = src.read_new(None)
        table.bulk_insert(batch)
        for b in range(1, cdc.N_BATCHES):
            land(b)
        batch, ckpt = src.read_new(ckpt)
        table.upsert(batch)
        assert src.read_new(ckpt)[0] is None  # watermark is caught up
        return table

    return artifact_time.get(spark, "envelope_customer", (sf_dir, fmt), build)


@gate(cdc.replay_sql(cdc.RECIPES["customer"]))
def q101_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock-DMS CSV landing format (leading Op column, I/U/D) through
    the CSV source's envelope normalization + watermark incremental
    scan + the same merge path — must converge to the replay oracle.
    (CSV doubles round-trip exactly: Spark writes shortest-repr.)"""
    rec = cdc.RECIPES["customer"]
    table = _envelope_customer(spark, sf_dir, "csv")
    return table.read().select(*rec.columns, "trx_seq")


@gate(cdc.replay_sql(cdc.RECIPES["customer"]))
def q102_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DMS JSON-lines landing format through the JSON source — same
    envelope/watermark/merge contract as q101, weakly-typed input
    pinned by the explicit schema."""
    rec = cdc.RECIPES["customer"]
    table = _envelope_customer(spark, sf_dir, "json")
    return table.read().select(*rec.columns, "trx_seq")


def _jdbc_customer(spark: SparkSession, sf_dir: str) -> CuratedTable:
    """Shared fixture: the customer CDC stream written into a live RDBMS
    change journal (Apache Derby embedded — the one JDBC engine in the
    Spark distribution), then ingested back through ``JdbcSource``:
    batch 0 via the full load, batches 1..N via the high-watermark
    incremental poll, each upsert-merged. Mirrors the reference's actual
    entry point (RDBMS -> DMS `full-load-and-cdc`, ``README.md:11``,
    ``templates/aws-dms-to-hudi.yaml:295``)."""
    from aws_dms_to_hudi_spark.sources.jdbc import JdbcSource

    def build():
        rec = cdc.RECIPES["customer"]
        view = "__jdbc_customer_base"
        _t(spark, sf_dir, "customer").createOrReplaceTempView(view)
        tmp = artifact_time.lake("jdbc_src_")
        url = f"jdbc:derby:{tmp}/journal_db;create=true"
        drv = "org.apache.derby.jdbc.EmbeddedDriver"

        def land(b: int) -> None:
            env = (
                spark.sql(cdc.batch_sql(rec, b, src=view))
                .withColumn(
                    "op",
                    F.when(F.col("_hoodie_is_deleted"), F.lit("D"))
                    .otherwise(F.lit("I" if b == 0 else "U")),
                )
                .drop("_hoodie_is_deleted")
            )
            (
                env.write.format("jdbc")
                .option("url", url)
                .option("driver", drv)
                .option("dbtable", "journal")
                .option(
                    "createTableColumnTypes",
                    "c_name VARCHAR(128), c_mktsegment VARCHAR(64), "
                    "trx_seq VARCHAR(50), op CHAR(1)",
                )
                .mode("overwrite" if b == 0 else "append")
                .save()
            )

        src = JdbcSource(
            spark, url, "journal",
            ordering_column="trx_seq", driver=drv, op_column="op",
            partition_column="c_custkey", num_partitions=8,
        )
        cfg = TableConfig(name="jdbc_customer",
                          record_key=list(rec.key_cols))
        table = CuratedTable(spark, tmp / "customer", cfg)
        land(0)
        batch, ckpt = src.read_new(None)  # full load
        table.bulk_insert(batch)
        for b in range(1, cdc.N_BATCHES):
            land(b)
        batch, ckpt = src.read_new(ckpt)  # one poll drains all pending
        table.upsert(batch)
        assert src.read_new(ckpt)[0] is None  # watermark is caught up
        return table

    return artifact_time.get(spark, "jdbc_customer", sf_dir, build)


def _large_volume_customers_sql(
    customer: str = "customer",
    orders: str = "orders",
    lineitem: str = "lineitem",
    min_qty: int = 150,
) -> str:
    """TPC-H Q18 shape: orders whose total line quantity exceeds
    ``min_qty`` (HAVING over a per-order aggregate feeding an IN
    semi-join), joined back to the customer. Identical text on both
    engines; Spark plans the IN as a left-semi hash join with the
    aggregate on the build side."""
    return f"""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
FROM {customer} c
JOIN {orders} o ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM {lineitem}
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > {min_qty})
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


def _order_priority_sql(
    orders: str = "orders",
    lineitem: str = "lineitem",
    late_days: int = 90,
) -> str:
    """TPC-H Q4 shape (adapted: 'late' = any lineitem shipped more than
    ``late_days`` after the order date): order counts per priority over
    a quarter, EXISTS-gated — the classic decorrelated-EXISTS plan."""
    return f"""
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM {orders} o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM {lineitem} l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL '{late_days}' DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def _promo_revenue_sql(
    lineitem: str = "lineitem",
    part: str = "part",
) -> str:
    """TPC-H Q14 shape: monthly promo-revenue share — a CASE'd decimal
    sum over lineitem ⋈ part divided by the total, per month. Exact
    DECIMAL accumulation on both engines, one broadcast-able dim join."""
    rev = "CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))"
    return f"""
SELECT YEAR(l.l_shipdate) AS ship_year, MONTH(l.l_shipdate) AS ship_month,
       CAST(100.0 * SUM(CASE WHEN p.p_type = 'PROMO' THEN {rev}
                             ELSE CAST(0 AS DECIMAL(18,4)) END)
            / SUM({rev}) AS DOUBLE) AS promo_share,
       CAST(SUM({rev}) AS DOUBLE) AS total_revenue
FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY YEAR(l.l_shipdate), MONTH(l.l_shipdate)
ORDER BY ship_year, ship_month
"""


@gate(_large_volume_customers_sql(), collect=True)
def q111_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape through the engine's SQL surface (D10)."""
    c = _view(spark, sf_dir, "customer", "q111")
    o = _view(spark, sf_dir, "orders", "q111")
    li = _view(spark, sf_dir, "lineitem", "q111")
    return spark.sql(_large_volume_customers_sql(c, o, li))


@gate(_order_priority_sql(), collect=True)
def q112_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape through the engine's SQL surface (D10)."""
    o = _view(spark, sf_dir, "orders", "q112")
    li = _view(spark, sf_dir, "lineitem", "q112")
    return spark.sql(_order_priority_sql(o, li))


@gate(_promo_revenue_sql(), collect=True)
def q113_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape through the engine's SQL surface (D10)."""
    li = _view(spark, sf_dir, "lineitem", "q113")
    p = _view(spark, sf_dir, "part", "q113")
    return spark.sql(_promo_revenue_sql(li, p))


@gate(fn_curation.repetition_sql("duckdb"))
def q114_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (Gopher duplicate-3-gram
    heuristic) over the shared cached token-hash relation: per-doc
    duplicate-shingle fraction + keep/drop verdict. One window + one
    per-doc aggregate — linear, no joins."""
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_curation.repetition_sql("spark", th_table=th))


def _disjunctive_pred_sql(
    lineitem: str = "lineitem",
    part: str = "part",
) -> str:
    """TPC-H Q19 shape: revenue under an OR of three conjunctive
    brand/size/quantity arms — the disjunctive-predicate join Catalyst
    must keep as one equi-join with a residual OR filter (not a union of
    three scans). Identical text on both engines."""
    rev = "CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))"
    return f"""
SELECT CAST(SUM({rev}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 5 AND 25)
   OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 15 AND 40)
   OR (p.p_type = 'PROMO' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity >= 30)
"""


def _order_count_distribution_sql(
    customer: str = "customer",
    orders: str = "orders",
) -> str:
    """TPC-H Q13 shape: distribution of per-customer order counts
    INCLUDING zero-order customers — left outer join with a compound
    (equi + residual) condition, COUNT(col) null semantics, then a
    second aggregate over the first."""
    return f"""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM {customer} c LEFT JOIN {orders} o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def _top_supplier_sql(
    supplier: str = "supplier",
    lineitem: str = "lineitem",
) -> str:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue — an aggregate CTE consumed twice (join side + scalar MAX
    subquery). The equality predicate compares exact DECIMALs, so the
    argmax set is identical on both engines."""
    rev = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"
    return f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({rev}) AS total_revenue
  FROM {lineitem}
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM {supplier} s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


def _above_avg_part_suppliers_sql(
    supplier: str = "supplier",
    lineitem: str = "lineitem",
    part: str = "part",
) -> str:
    """TPC-H Q20 shape (adapted to this schema): suppliers whose shipped
    quantity of 'b*'-named parts since 1997 is above the mean across
    qualifying suppliers — nested IN over a part-name subquery, a
    HAVING-style aggregate, and a scale-free threshold expressed as the
    exact cross-multiplication qty * n > total (no division, so the
    boundary can't float-flip)."""
    return f"""
WITH eligible AS (
  SELECT l.l_suppkey AS suppkey,
         SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS qty
  FROM {lineitem} l
  WHERE l.l_partkey IN (SELECT p_partkey FROM {part} WHERE p_name LIKE 'b%')
    AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l.l_suppkey),
stats AS (SELECT SUM(qty) AS total, COUNT(*) AS n FROM eligible)
SELECT s.s_suppkey, s.s_name, CAST(e.qty AS DOUBLE) AS part_qty
FROM {supplier} s
JOIN eligible e ON s.s_suppkey = e.suppkey
CROSS JOIN stats
WHERE e.qty * stats.n > stats.total
ORDER BY s.s_suppkey
"""


@gate(fn_sim.semdedup_sql("duckdb"))
def q123_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-dedup semantic deduplication (within-cluster
    exact cosine, min-id canonical keep — functions/similarity.py)."""
    e = _view(spark, sf_dir, "embeddings", "q123")
    return fn_sim.semdedup(spark, e)


@gate(cdc.replay_sql(cdc.RECIPES["customer"]))
def q124_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC Op-envelope landing format through the ORC source's
    schema-embedded watermark incremental scan + the same merge path —
    must converge to the replay oracle like q101/q102."""
    rec = cdc.RECIPES["customer"]
    table = _envelope_customer(spark, sf_dir, "orc")
    return table.read().select(*rec.columns, "trx_seq")


@gate(fn_sim.quantization_sql("duckdb"))
def q125_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus with per-label
    reconstruction audit (functions/similarity.py:quantization_sql)."""
    e = _view(spark, sf_dir, "embeddings", "q125")
    return spark.sql(fn_sim.quantization_sql("spark", table=e))


@gate(fn_curation.gopher_quality_sql("duckdb"))
def q119_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText document quality ruleset (exact-integer rule
    boundaries; see functions/curation.py:gopher_quality_sql)."""
    d = _view(spark, sf_dir, "documents", "q119")
    return spark.sql(fn_curation.gopher_quality_sql("spark", table=d))


@gate(fn_curation.rare_bigram_sql("duckdb"))
def q120_rare_bigram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM rarity filter (the perplexity-filter decision as an
    integer rank statistic) over the shared cached token-hash
    relation."""
    bg = fn_dedup.bigram_rows_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_curation.rare_bigram_sql("spark", bg_table=bg))


@gate(fn_curation.pii_redaction_sql("duckdb"))
def q121_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII detect-and-mask sweep with per-corpus redaction audit
    (map-only projection; identical literals under Java regex / RE2)."""
    c = _view(spark, sf_dir, "customer", "q121")
    return spark.sql(fn_curation.pii_redaction_sql("spark", table=c))


@gate(fn_sampling.mixture_balance_sql("duckdb"))
def q122_mixture_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture balancing: largest corpus realizing the target
    language proportions exactly, deterministic hash-priority keep set."""
    d = _view(spark, sf_dir, "documents", "q122")
    return spark.sql(fn_sampling.mixture_balance_sql("spark", table=d))


def _stream_stateful_oracle_sql() -> str:
    return """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS num_events,
       CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_scaled
FROM events GROUP BY event_type ORDER BY event_type
"""


@gate(_stream_stateful_oracle_sql(), write=True)
def q127_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator through the driver gate:
    ``applyInPandasWithState`` running per-key totals over the events
    stream, fed as FOUR separate micro-batches (maxFilesPerTrigger=1) —
    cross-batch state semantics no windowed agg expresses. The operator
    accumulates half-up-rounded scaled int64 (streaming/windows.py
    ``running_totals_exact``), so the final state hash-matches the
    relational aggregate no matter how the stream was micro-batched;
    the oracle evaluates the same formula in one pass."""
    from aws_dms_to_hudi_spark.streaming.windows import running_totals_exact

    def build():
        ev = _t(spark, sf_dir, "events").select(
            "event_type", "value", F.pmod("event_id", F.lit(4)).alias("b")
        )
        tmp = artifact_time.lake("stateful_")
        src = tmp / "stream"
        # four landed files -> four micro-batches in path order
        for p in range(4):
            ev.filter(F.col("b") == p).drop("b").coalesce(1).write.parquet(
                str(src / f"batch-{p}")
            )
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "batch-*"))
        )
        # update-mode state can't use the append-only file sink, so
        # each micro-batch's updates land as parquet via
        # foreachBatch — executor-side writes, no driver-side row
        # materialization; the final per-key state is reduced back
        # DataFrame-side below (the pattern transfers to
        # production-size streams, unlike a memory sink).
        out = str(tmp / "updates")

        def _sink(batch_df, batch_id):
            batch_df.withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("append").parquet(out)

        q = (
            running_totals_exact(stream)
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return out

    out = artifact_time.get(spark, "q127_stream_stateful", sf_dir, build)
    w = Window.partitionBy("event_type").orderBy(F.col("num_events").desc())
    return (
        spark.read.schema(
            "event_type string, num_events long, total_scaled long, "
            "batch_id long"
        )
        .parquet(out)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("event_type", "num_events", "total_scaled")
        .orderBy("event_type")
    )


def _hierarchy_rollup_sql(dialect: str, customer: str = "customer") -> str:
    """Recursive-CTE hierarchy rollup (the org-chart/BOM shape, newly
    SQL-expressible in Spark 4's WITH RECURSIVE): each customer's
    ancestor chain in the implicit binary tree anc -> anc/2, rolled up
    into per-ancestor descendant counts, subtree depth, and a
    decimal-exact subtree balance. UNION ALL recursion over a strictly
    shrinking key terminates in ~log2(max key) rounds on both engines
    (Spark's recursive CTE supports UNION ALL only — reachability-style
    UNION-dedup closures stay with the iterative operator, q77).

    DIALECT SPLIT (r9, guide §8 "use what you know the optimizer does
    not"): the oracle keeps the recursive text; the Spark side computes
    the chain in CLOSED FORM. The recursion's state is a pure function
    of the key — after d halvings anc = floor(k / 2^d) = shiftright(k,
    d) (integer halving composes: floor(floor(k/2)/2) = floor(k/4)) —
    so the ancestor rows surviving the anc BETWEEN 2 AND 63 filter are
    exactly {(k, shiftright(k, d), d) : 2 <= shiftright(k, d) <= 63}.
    Generation condition: the recursion emits the depth-d row iff
    anc_{d-1} = shiftright(k, d-1) > 1, and shiftright(k, d) >= 2
    implies shiftright(k, d-1) >= 4 > 1, so every filtered row is
    generated and (strict halving while >= 2) each (k, anc) pair at
    most once — identical multiset, proven by the oracle hash at every
    SF. The recursion's join back to {customer} is dropped with it:
    chain seeds one row per customer row, so carrying c_acctbal
    through the explode is the same multiset (no key-uniqueness
    assumption needed). N x depth working rows (the recursion's
    inherent 3.4x-at-10x bound, r8) collapse to ~6 filtered explode
    rows per customer, one scan, one aggregate, zero joins, zero
    per-level rounds. d <= 62 covers any BIGINT key; the WHERE bounds
    correctness regardless."""
    if dialect == "spark":
        return f"""
SELECT CAST(shiftright(c_custkey, d) AS BIGINT) AS ancestor,
       CAST(COUNT(*) AS BIGINT) AS n_desc,
       CAST(MAX(d) AS BIGINT) AS max_depth,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS subtree_bal
FROM {customer}
LATERAL VIEW explode(sequence(0, 62)) t AS d
WHERE shiftright(c_custkey, d) BETWEEN 2 AND 63
GROUP BY CAST(shiftright(c_custkey, d) AS BIGINT) ORDER BY ancestor
"""
    div = "(anc // 2)"
    return f"""
WITH RECURSIVE chain(custkey, anc, depth) AS (
  SELECT c_custkey AS custkey, c_custkey AS anc, 0 AS depth FROM {customer}
  UNION ALL
  SELECT custkey, {div}, depth + 1 FROM chain WHERE anc > 1
)
SELECT c.anc AS ancestor,
       CAST(COUNT(*) AS BIGINT) AS n_desc,
       CAST(MAX(depth) AS BIGINT) AS max_depth,
       CAST(SUM(CAST(cu.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS subtree_bal
FROM chain c JOIN {customer} cu ON cu.c_custkey = c.custkey
WHERE c.anc BETWEEN 2 AND 63
GROUP BY c.anc ORDER BY c.anc
"""


@gate(_hierarchy_rollup_sql("duckdb"))
def q126_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE hierarchy rollup through the SQL surface (D10).

    Probe bound (r8, 3.4x at 10x): the recursion materializes
    N x depth ancestor rows with depth = log2(max key), so 10x keys
    means ~12x working rows (10x N, +3 levels) — the measured 3.4x is
    SUBLINEAR in that inherent working set, not a compounding shape.
    The per-round cost is one shrinking-frontier scan; rounds grow
    only logarithmically with the key domain."""
    c = _view(spark, sf_dir, "customer", "q126")
    return spark.sql(_hierarchy_rollup_sql("spark", customer=c))


@gate(fn_sk.heavy_hitters_oracle_sql())
def q129_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass Misra-Gries heavy hitters over the token stream: per-
    partition mergeable sketches whose union provably covers every
    global item with freq·k > n, then one exact verification pass — the
    gated output is the TRUE heavy-hitter set on any cluster layout
    (functions/sketches.py)."""
    # token occurrences off the session-cached token-string artifact
    # (sketch + verify each scan it in memory instead of re-running
    # the regex tokenize per pass); n_total from the SAME relation —
    # counting the token-hash twin instead assumed the pandas-UDF and
    # SQL tokenizers always agree on token counts (r9 ADVICE; cost is
    # identical, both are materialized one-row-per-occurrence views).
    tr = fn_dedup.token_rows_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    toks = spark.table(tr).select(F.col("t").alias("token"))
    total = spark.table(tr).agg(F.count(F.lit(1)).alias("n_total"))
    return fn_sk.heavy_hitters(toks, total=total)


@gate(fn_dedup.fuzzy_join_sql("duckdb"))
def q130_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity-resolution join (FastSS deletion-
    neighborhood blocking + exact levenshtein verify — never a cross
    product; functions/dedup.py:fuzzy_join_sql)."""
    c = _view(spark, sf_dir, "customer", "q130")
    return spark.sql(fn_dedup.fuzzy_join_sql("spark", customer=c))


def _grouping_marker_sql(orders: str = "orders") -> str:
    """GROUPING() marker functions over a ROLLUP — how consumers tell a
    real NULL group from a subtotal row (the gap q10/q30/q51 leave
    open). The composite id is built portably as 2·GROUPING(a) +
    GROUPING(b) from the single-argument form both engines share.
    Identical text on both engines."""
    return f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(2 * GROUPING(o_orderpriority) + GROUPING(o_orderstatus)
            AS BIGINT) AS g_id,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM {orders}
GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
ORDER BY g_id DESC, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
"""


@gate(_grouping_marker_sql())
def q136_grouping_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/grouping-id markers through the SQL surface (D10)."""
    o = _view(spark, sf_dir, "orders", "q136")
    return spark.sql(_grouping_marker_sql(o))


@gate(fn_mm.jpeg_gate_oracle_sql())
def q137_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode, oracle-gated (multimodal.py
    decode_jpeg/encode_jpeg): a genuine entropy-coded grayscale JPEG is
    built per document and run through the full decoder — marker walk,
    canonical Huffman with byte unstuffing, dequant, IDCT — inside
    Arrow-batched mapInPandas. The fixture's blockwise-constant even
    gray levels survive Annex-K quantization bit-exactly, so the DuckDB
    oracle replays the DECODED pixel checksum + sum arithmetically;
    any codec regression breaks the value hash. Gated over a
    deterministic 1-in-4 document subset: the per-row pure-python
    encode+decode is the gate harness, not a production op (production
    decodes existing payloads), so the gate costs a bounded slice of
    the corpus while still exercising the full codec. Beyond-reference
    extension (the reference's RDBMS rows cap LOBs at 32KB and carry no
    media — templates/aws-dms-to-hudi.yaml:437)."""
    return fn_mm.ordered_rows(fn_mm.jpeg_roundtrip_features(
        _t(spark, sf_dir, "documents").filter(F.pmod("doc_id", F.lit(4)) == 1)
    ), "doc_id")


@gate(
    "SELECT v.event_id, v.user_id, v.ts AS view_ts, "
    "CASE WHEN p.ts > v.ts + INTERVAL 7200 SECOND THEN NULL "
    "     ELSE p.ts END AS purchase_ts "
    "FROM (SELECT event_id, user_id, ts FROM events "
    "      WHERE event_type = 'view') v "
    "ASOF LEFT JOIN (SELECT user_id, ts FROM events "
    "      WHERE event_type = 'purchase') p "
    "ON v.user_id = p.user_id AND v.ts <= p.ts "
    "ORDER BY v.event_id")
def q138_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, FORWARD direction with a tolerance window: each view
    matched to the same user's next purchase, nulled when it falls more
    than 2h later (operators/asof.py — union + running-first window,
    one shuffle, no inequality join; the pandas merge_asof
    direction='forward'/tolerance contract). q31 gates backward; this
    gates the forward + tolerance paths the operator also ships."""
    e = _t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    return (
        op_asof.asof_join(
            views,
            purchases,
            on=["user_id"],
            carry={"purchase_ts": "ts"},
            direction="forward",
            tolerance_seconds=7200,
        )
        .select(
            "event_id", "user_id", F.col("ts").alias("view_ts"),
            "purchase_ts",
        )
        .orderBy("event_id")
    )


def _regr_family_sql(lineitem: str = "lineitem") -> str:
    """Linear-regression aggregates (regr_slope/intercept/r2/count) —
    the bivariate-fit family q39's percentile/stddev/corr set leaves
    out. One hash aggregate, map-side combinable; rounding absorbs
    accumulation-order noise (~1e-11 relative on 6e4 rows)."""
    x = "l_quantity"
    y = "l_extendedprice"
    return f"""
SELECT l_returnflag,
       CAST(regr_count({y}, {x}) AS BIGINT) AS n_pairs,
       round(regr_slope({y}, {x}), 4) AS slope,
       round(regr_intercept({y}, {x}), 3) AS intercept,
       round(regr_r2({y}, {x}), 6) AS r2
FROM {lineitem}
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@gate(_regr_family_sql(), collect=True)
def q139_regr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family through the SQL surface."""
    li = _view(spark, sf_dir, "lineitem", "q139")
    return spark.sql(_regr_family_sql(li))


def _bitwise_agg_sql(events: str = "events") -> str:
    """Bitwise aggregates (bit_and/bit_or/bit_xor) — exact, order-free,
    mergeable per partition (the same sketch-merge shape as Misra-Gries
    but for bit masks: feature-flag rollups, id-space audits)."""
    return f"""
SELECT event_type,
       CAST(bit_and(event_id) AS BIGINT) AS id_and,
       CAST(bit_or(event_id) AS BIGINT) AS id_or,
       CAST(bit_xor(event_id) AS BIGINT) AS id_xor,
       CAST(COUNT(*) AS BIGINT) AS n
FROM {events}
GROUP BY event_type
ORDER BY event_type
"""


@gate(_bitwise_agg_sql(), collect=True)
def q140_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family through the SQL surface."""
    e = _view(spark, sf_dir, "events", "q140")
    return spark.sql(_bitwise_agg_sql(e))


def _median_mode_sql(customer: str = "customer") -> str:
    """Exact median (interpolated, identical in both engines) plus a
    DETERMINISTIC mode: the builtin mode() breaks frequency ties in
    engine-specific order, so the mode here is computed as min value
    among the max-frequency group — reproducible on any layout."""
    return f"""
WITH cnt AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nk, COUNT(*) AS n
  FROM {customer} GROUP BY c_mktsegment, c_nationkey
),
mx AS (SELECT seg, MAX(n) AS mn FROM cnt GROUP BY seg),
md AS (
  SELECT c.seg, MIN(c.nk) AS mode_nk
  FROM cnt c JOIN mx ON c.seg = mx.seg AND c.n = mx.mn
  GROUP BY c.seg
),
me AS (
  SELECT c_mktsegment AS seg, round(median(c_acctbal), 4) AS median_bal,
         CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM {customer} GROUP BY c_mktsegment
)
SELECT me.seg AS segment, me.median_bal,
       CAST(md.mode_nk AS BIGINT) AS mode_nation, me.n_customers
FROM me JOIN md ON me.seg = md.seg
ORDER BY me.seg
"""


@gate(_median_mode_sql(), collect=True)
def q141_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + deterministic mode through the SQL surface."""
    c = _view(spark, sf_dir, "customer", "q141")
    return spark.sql(_median_mode_sql(c))


@gate(
    "SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs "
    "FROM documents GROUP BY source, lang "
    "HAVING COUNT(*) >= 5 ORDER BY source, lang",
    collect=True)
def q142_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: per-source language histograms built
    as real MapType columns (map_from_entries over collect_list),
    filtered with a map lambda (map_filter), then exploded back to
    rows for the cross-engine compare — the map round-trip is the
    operator under test; the oracle states the equivalent relational
    HAVING. Maps stay per-group small (language cardinality), never
    holding unbounded data."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    m = per.groupBy("source").agg(
        F.map_from_entries(
            F.collect_list(F.struct("lang", "n"))
        ).alias("lang_counts")
    )
    f = m.select(
        "source",
        F.map_filter("lang_counts", lambda k, v: v >= F.lit(5)).alias("kept"),
    )
    return (
        f.select("source", F.explode("kept").alias("lang", "n_docs"))
        .select("source", "lang", F.col("n_docs").cast("long").alias("n_docs"))
        .orderBy("source", "lang")
    )


def _resample_interpolate_sql(dialect: str, events: str = "events") -> str:
    """Time-grid resampling with linear interpolation — the sensor/
    metric alignment op of a training-data timeseries pipeline: an
    hourly epoch grid per event type, each grid instant valued by
    linearly interpolating between the surrounding events.

    Shape: grid rows union event rows, then two windows per type
    (prev = last event at-or-before via ASC ordering, next = first
    event at-or-after via DESC-tag ordering) — one shuffle keyed on
    event type, no inequality join; epochs are integer seconds so the
    interpolation weights are exact ratios. Scale caveat, stated
    honestly: event_type is low-cardinality, so each window partition
    holds a whole series — fine for per-entity series (key on the
    entity), but a 100 TB single-series resample needs the segmented
    two-pass form (per-time-bucket first/last aggregates + a prefix
    scan over bucket summaries) in place of one window; the algebra is
    unchanged. IGNORE NULLS window syntax differs per engine (after
    the call in Spark, inside it in DuckDB)."""
    if dialect == "spark":
        epoch = "CAST(ts AS BIGINT)"
        grid = (
            "SELECT event_type, lo + 3600 * k AS t FROM bounds "
            "LATERAL VIEW explode(sequence(0, CAST((hi - lo) div 3600 AS INT))) s AS k"
        )
        # Spark puts IGNORE NULLS after the call, DuckDB inside it
        def lastnn(expr):
            return f"last_value({expr}) IGNORE NULLS"
    else:
        # floor(): duckdb CAST rounds, spark CAST truncates
        epoch = "CAST(floor(epoch(ts)) AS BIGINT)"
        grid = (
            "SELECT event_type, lo + 3600 * unnest(range(0, (hi - lo) // 3600 + 1)) AS t "
            "FROM bounds"
        )

        def lastnn(expr):
            return f"last_value({expr} IGNORE NULLS)"
    tq = "CASE WHEN value IS NOT NULL THEN t END"
    # Both brackets are RUNNING frames (UNBOUNDED PRECEDING..CURRENT):
    # "next" uses the REVERSED ordering (t DESC) instead of an
    # UNBOUNDED FOLLOWING frame, which Spark's WindowExec evaluates by
    # re-scanning the partition tail per row — O(n^2) per partition
    # (measured 94s vs <1s at sf0.1). At equal t the event row (isgrid
    # 0) sorts before the grid row in BOTH orderings, keeping the
    # bracket bounds inclusive on each side.
    return f"""
WITH ev AS (SELECT event_type, {epoch} AS t, value FROM {events}),
bounds AS (SELECT event_type, MIN(t) AS lo, MAX(t) AS hi
           FROM ev GROUP BY event_type),
grid AS ({grid}),
allpts AS (
  SELECT event_type, t, value, 0 AS isgrid FROM ev
  UNION ALL
  SELECT event_type, t, CAST(NULL AS DOUBLE), 1 FROM grid
),
braced AS (
  -- ORDER BY includes value as the final tiebreak: events can share a
  -- timestamp, and (t, isgrid) alone leaves last_value's pick among
  -- tied event rows to partition layout (caught when the cached base
  -- tables changed scan order). With value in the key the ordering
  -- is total over distinct rows, so pv/nv are layout-independent and
  -- engine-identical: at a tied instant the max value brackets both
  -- sides.
  SELECT event_type, t, isgrid,
         {lastnn('value')} OVER (
           PARTITION BY event_type ORDER BY t, isgrid, value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         {lastnn(tq)} OVER (
           PARTITION BY event_type ORDER BY t, isgrid, value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         {lastnn('value')} OVER (
           PARTITION BY event_type ORDER BY t DESC, isgrid, value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
         {lastnn(tq)} OVER (
           PARTITION BY event_type ORDER BY t DESC, isgrid, value
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt
  FROM allpts
)
SELECT event_type, CAST(t AS BIGINT) AS grid_epoch,
       round(CASE WHEN nt = pt THEN pv
                  ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END, 6)
         AS interp_value
FROM braced WHERE isgrid = 1
ORDER BY event_type, grid_epoch
"""


@gate(_resample_interpolate_sql("duckdb"))
def q143_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-grid linear interpolation per event type."""
    e = _view(spark, sf_dir, "events", "q143")
    return spark.sql(_resample_interpolate_sql("spark", e))


def _entropy_gini_sql(documents: str = "documents") -> str:
    """Per-source language-distribution metrics: Shannon entropy, Gini
    impurity — the category-balance diagnostics of corpus curation.
    Two tiny aggregates; the per-source term count is language
    cardinality, so round(6) absorbs order noise."""
    return f"""
WITH c AS (SELECT source, lang, COUNT(*) AS n
           FROM {documents} GROUP BY source, lang),
tot AS (SELECT source, SUM(n) AS tn FROM c GROUP BY source)
SELECT c.source, CAST(tot.tn AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       round(-SUM((CAST(c.n AS DOUBLE) / tot.tn)
                  * ln(CAST(c.n AS DOUBLE) / tot.tn)), 6) AS lang_entropy,
       round(1 - SUM((CAST(c.n AS DOUBLE) / tot.tn)
                     * (CAST(c.n AS DOUBLE) / tot.tn)), 6) AS gini
FROM c JOIN tot ON c.source = tot.source
GROUP BY c.source, tot.tn
ORDER BY c.source
"""


@gate(_entropy_gini_sql(), collect=True)
def q144_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy + Gini impurity of language mix per source."""
    d = _view(spark, sf_dir, "documents", "q144")
    return spark.sql(_entropy_gini_sql(d))


def _null_safe_join_sql(customer: str = "customer",
                        nation: str = "nation") -> str:
    """Null-safe equi-join (IS NOT DISTINCT FROM): NULL keys match each
    other — the SCD/dimension-reconcile join CDC pipelines need when a
    key column is nullable. Spark compiles null-safe equality to a
    HASH-joinable EqualNullSafe (not a nested loop), so the plan is the
    same shuffled hash join as a plain equi-join. Decimal-cast balance
    sum keeps the aggregate order-free exact."""
    return f"""
WITH l AS (SELECT NULLIF(c_nationkey, 3) AS nk, c_acctbal FROM {customer}),
r AS (SELECT NULLIF(n_nationkey, 3) AS nk, n_name FROM {nation})
SELECT r.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       round(CAST(SUM(CAST(l.c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_bal
FROM r JOIN l ON l.nk IS NOT DISTINCT FROM r.nk
GROUP BY r.n_name
ORDER BY r.n_name
"""


@gate(_null_safe_join_sql(), collect=True)
def q145_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join through the SQL surface."""
    c = _view(spark, sf_dir, "customer", "q145")
    n = _view(spark, sf_dir, "nation", "q145")
    return spark.sql(_null_safe_join_sql(c, n))


def _weighted_percentile_sql(lineitem: str = "lineitem",
                             n_buckets: int = 1024) -> str:
    """Weighted percentiles (lower weighted median / p90): smallest
    value whose cumulative weight reaches the target share. Weights are
    integer quantities, so every cumulative sum is exact and every
    threshold test is an INTEGER comparison (den*cw >= num*tw) — no
    float cumsum at a boundary, deterministic on any layout.

    SEGMENTED two-phase form (the naive one-window version probed 8.2x
    at 10x data — a 3-value partition key means each window partition
    holds a whole group): values hash into {n_buckets} equi-width
    buckets (a parallel aggregate), a prefix sum over the TINY
    per-(group, bucket) summary finds the bucket where each threshold
    crosses, and the exact within-bucket scan — the only row-level
    window — touches ~n/{n_buckets} rows. Work is one extra aggregate;
    the unbounded per-group sort is gone."""
    return (
        f"WITH wb AS ({_weighted_percentile_prep_sql(lineitem, n_buckets)}),"
        + _weighted_percentile_main_sql("wb")
    )


def _weighted_percentile_spark_sql(lineitem: str = "lineitem",
                                   n_buckets: int = 1024) -> str:
    """Spark dialect of :func:`_weighted_percentile_sql` (r9, guide
    §2.4): the shared text references the row-level ``wb`` relation
    through FOUR inline chains (bs→bp→{tb, cand-bpx}, stx, cand-w) and
    Spark re-derives wb (a lineitem scan + stats-aggregate broadcast
    join) per chain. Two structural moves cut that to TWO chains with
    no materialization (an eager wb checkpoint was measured SLOWER,
    see q146's docstring):

    - ``bs`` carries ``MAX(tw)`` (free in the same aggregate — tw is
      constant per rf), so the threshold relation reads tw from ``bp``
      instead of the separate ``stx`` wb-rescan;
    - ``tb`` picks the candidate bucket's own prefix weight with
      ``min_by(upto_w - bw, bk)`` (bk is unique per rf in bp), so
      ``cand`` joins only the broadcast tb — the second bp derivation
      (a full bs+window chain) disappears.

    Same integer threshold arithmetic, same interpolation; the oracle
    keeps the shared text and the gate hash proves identity."""
    b = n_buckets
    return f"""
WITH wb AS ({_weighted_percentile_prep_sql(lineitem, b)}),
bs AS (SELECT rf, bk, SUM(wt) AS bw, MAX(tw) AS tw
       FROM wb GROUP BY rf, bk),
bp AS (
  SELECT rf, bk, bw, tw,
         SUM(bw) OVER (PARTITION BY rf ORDER BY bk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS upto_w
  FROM bs
),
th AS (SELECT * FROM (VALUES (1, 2), (9, 10)) AS t(num, den)),
tb AS (
  SELECT bp.rf, th.num, th.den, MIN(bp.bk) AS bk,
         min_by(bp.upto_w - bp.bw, bp.bk) AS before_w
  FROM bp CROSS JOIN th
  WHERE th.den * bp.upto_w >= th.num * bp.tw
  GROUP BY bp.rf, th.num, th.den
),
cand AS (
  SELECT /*+ BROADCAST(tb) */
         w.rf, tb.num, tb.den, w.v, w.wt, w.tw, tb.before_w
  FROM wb w
  JOIN tb ON w.rf = tb.rf AND w.bk = tb.bk
),
cum AS (
  SELECT rf, num, den, v, tw,
         before_w + SUM(wt) OVER (
           PARTITION BY rf, num, den ORDER BY v, wt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM cand
),
res AS (
  SELECT rf, num,
         MIN(CASE WHEN den * cw >= num * tw THEN v END) AS val
  FROM cum GROUP BY rf, num
)
SELECT rf AS l_returnflag,
       round(MAX(CASE WHEN num = 1 THEN val END), 2) AS wmedian,
       round(MAX(CASE WHEN num = 9 THEN val END), 2) AS wp90
FROM res GROUP BY rf ORDER BY rf
"""


def _weighted_percentile_prep_sql(lineitem: str = "lineitem",
                                  n_buckets: int = 1024) -> str:
    """The row-level prep relation wb(rf, v, wt, tw, bk): one scan +
    one tiny stats aggregate. Referenced three times downstream —
    DuckDB materializes the CTE, but Spark INLINES it (each reference
    would rescan lineitem and recompute the stats), so the engine side
    (:func:`q146_weighted_percentile`) materializes this relation once
    and runs only the main text over it."""
    b = n_buckets
    return f"""
  -- st is |groups| (3) rows: broadcast it (comment to DuckDB) — a CBO
  -- shuffle join on rf would funnel every row through 3 keys
  SELECT /*+ BROADCAST(st) */
         w.rf, w.v, w.wt, st.tw,
         CASE WHEN st.hi = st.lo THEN 0
              ELSE least({b - 1},
                   CAST(floor((w.v - st.lo) / (st.hi - st.lo) * {b})
                        AS BIGINT))
         END AS bk
  FROM (
    SELECT l_returnflag AS rf, l_extendedprice AS v,
           CAST(l_quantity AS BIGINT) AS wt
    FROM {lineitem}
  ) w
  JOIN (
    SELECT l_returnflag AS rf, MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi,
           SUM(CAST(l_quantity AS BIGINT)) AS tw
    FROM {lineitem} GROUP BY l_returnflag
  ) st ON w.rf = st.rf
"""


def _weighted_percentile_main_sql(wb: str) -> str:
    return f"""
bs AS (SELECT rf, bk, SUM(wt) AS bw FROM {wb} GROUP BY rf, bk),
bp AS (
  SELECT rf, bk, bw,
         SUM(bw) OVER (PARTITION BY rf ORDER BY bk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS upto_w
  FROM bs
),
stx AS (SELECT rf, MAX(tw) AS tw FROM {wb} GROUP BY rf),
th AS (SELECT * FROM (VALUES (1, 2), (9, 10)) AS t(num, den)),
tb AS (
  SELECT bp.rf, th.num, th.den, MIN(bp.bk) AS bk
  FROM bp JOIN stx ON bp.rf = stx.rf CROSS JOIN th
  WHERE th.den * bp.upto_w >= th.num * stx.tw
  GROUP BY bp.rf, th.num, th.den
),
cand AS (
  -- before_w = prefix weight of all earlier (possibly sparse) buckets:
  -- the candidate bucket's own bp row carries it as upto_w - bw
  SELECT /*+ BROADCAST(tb, bpx) */
         w.rf, tb.num, tb.den, w.v, w.wt, w.tw,
         bpx.upto_w - bpx.bw AS before_w
  FROM {wb} w
  JOIN tb ON w.rf = tb.rf AND w.bk = tb.bk
  JOIN bp bpx ON bpx.rf = w.rf AND bpx.bk = w.bk
),
cum AS (
  SELECT rf, num, den, v, tw,
         before_w + SUM(wt) OVER (
           PARTITION BY rf, num, den ORDER BY v, wt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM cand
),
res AS (
  SELECT rf, num,
         MIN(CASE WHEN den * cw >= num * tw THEN v END) AS val
  FROM cum GROUP BY rf, num
)
SELECT rf AS l_returnflag,
       round(MAX(CASE WHEN num = 1 THEN val END), 2) AS wmedian,
       round(MAX(CASE WHEN num = 9 THEN val END), 2) AS wp90
FROM res GROUP BY rf ORDER BY rf
"""


@gate(_weighted_percentile_sql(), collect=True)
def q146_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median / p90 via integer cumulative weights.
    Spark inlines the thrice-referenced wb CTE (three parquet rescans);
    materializing wb instead was MEASURED SLOWER at both sf0.1 and 10x
    (2.17s/10.1s vs 1.2s/6-7s) — an eager 6M-row checkpoint write
    costs more than two extra columnar scans, unlike q151/q131 where
    the re-evaluated relation embeds a join/aggregation. Inline is the
    deliberate choice here; r9 instead cuts the inline chains 4 → 2
    structurally (:func:`_weighted_percentile_spark_sql` — tw rides
    the bucket aggregate, min_by picks the target bucket's prefix
    weight), the oracle keeping the shared text."""
    li = _view(spark, sf_dir, "lineitem", "q146")
    return spark.sql(_weighted_percentile_spark_sql(li))


def _pareto_frontier_sql(customer: str = "customer",
                         orders: str = "orders") -> str:
    """2D Pareto frontier (skyline) per nation over (acctbal, order
    count) WITHOUT a pairwise dominance join: collapse to per-(nation,
    bal) maxima, one window pass takes the running max order count over
    strictly-higher balances (ROWS ... 1 PRECEDING on the collapsed
    relation, where balance ties are already merged), and a point
    survives iff nothing strictly above it has >= orders and it is the
    max at its own balance. O(n log n) per nation vs the O(n^2)
    textbook anti-join — the formulation that survives wide groups."""
    return f"""
WITH pts AS (
  SELECT c.c_nationkey AS nk, c.c_custkey, c.c_acctbal AS bal,
         COUNT(o.o_orderkey) AS n_orders
  FROM {customer} c LEFT JOIN {orders} o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, c.c_custkey, c.c_acctbal
),
grp AS (SELECT nk, bal, MAX(n_orders) AS gmax FROM pts GROUP BY nk, bal),
runs AS (
  SELECT nk, bal, gmax,
         MAX(gmax) OVER (PARTITION BY nk ORDER BY bal DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS better_max
  FROM grp
)
SELECT CAST(p.nk AS BIGINT) AS nationkey, p.c_custkey,
       round(p.bal, 2) AS acctbal, CAST(p.n_orders AS BIGINT) AS n_orders
FROM pts p
JOIN runs r ON p.nk = r.nk AND p.bal = r.bal
WHERE p.n_orders = r.gmax
  AND (r.better_max IS NULL OR r.better_max < p.n_orders)
ORDER BY nationkey, acctbal DESC, p.c_custkey
"""


@gate(_pareto_frontier_sql(), collect=True)
def q147_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Pareto frontier via sorted running max (no O(n^2))."""
    c = _view(spark, sf_dir, "customer", "q147")
    o = _view(spark, sf_dir, "orders", "q147")
    return spark.sql(_pareto_frontier_sql(c, o))


def _equiwidth_histogram_sql(orders: str = "orders", k: int = 20) -> str:
    """Equi-width histogram, two-phase: a 1-row min/max stats aggregate
    broadcast back (scalar cross join), then a map-only bucket assign —
    the stats-then-transform shape shared with int8 quantization
    (q125). Bucket boundaries are pure double arithmetic on identical
    inputs, bit-identical across engines."""
    return f"""
WITH stats AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM {orders}
)
SELECT CAST(least({k - 1},
            CAST(floor((o.o_totalprice - s.lo) / (s.hi - s.lo) * {k})
                 AS BIGINT)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM {orders} o CROSS JOIN stats s
GROUP BY 1
ORDER BY bucket
"""


@gate(_equiwidth_histogram_sql(), collect=True)
def q148_equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase equi-width histogram through the SQL surface."""
    o = _view(spark, sf_dir, "orders", "q148")
    return spark.sql(_equiwidth_histogram_sql(o))


def _decile_lift_oracle_sql() -> str:
    return """
WITH cuts AS (
  SELECT list_transform(
    quantile_cont(c_acctbal, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
    x -> round(x, 4)) AS cs
  FROM customer
),
resp AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
scored AS (
  SELECT len(list_filter(cs, x -> c.c_acctbal > x)) AS decile,
         CASE WHEN r.o_custkey IS NULL THEN 0 ELSE 1 END AS responded
  FROM customer c CROSS JOIN cuts
  LEFT JOIN resp r ON r.o_custkey = c.c_custkey
),
per AS (
  SELECT decile, COUNT(*) AS n_customers, SUM(responded) AS n_resp
  FROM scored GROUP BY decile
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n_customers AS BIGINT) AS n_customers,
       CAST(n_resp AS BIGINT) AS n_resp,
       round((SUM(n_resp) OVER (ORDER BY decile DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0
              / SUM(n_customers) OVER (ORDER BY decile DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             / (SUM(n_resp) OVER () * 1.0 / SUM(n_customers) OVER ()), 6)
         AS cum_lift
FROM per ORDER BY decile DESC
"""


@gate(_decile_lift_oracle_sql(), collect=True)
def q149_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-eval lift table WITHOUT a global sort: customers sorted
    into acctbal deciles via q74's two-pass percentile-cut assignment
    (9 driver-side cut points, then a map-only 9-element fold), each
    customer's response = having a finished ('F') order; per decile the
    response rate plus, scanning deciles best-first, the cumulative
    capture rate and lift over the base rate. A 10-row window does the
    cumulative pass. Cut points round to 4dp on both engines so an ulp
    of interpolation can't flip a boundary row."""
    c = _t(spark, sf_dir, "customer")
    qs = [i / 10 for i in range(1, 10)]
    cuts = c.agg(
        F.expr(
            "percentile(c_acctbal, array("
            + ", ".join(str(q) for q in qs)
            + "))"
        ).alias("cs")
    ).collect()[0]["cs"]
    cut_arr = "array(" + ", ".join(f"{round(x, 4)}D" for x in cuts) + ")"
    o = _t(spark, sf_dir, "orders")
    resp = (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .distinct()
        .withColumn("responded", F.lit(1))
    )
    scored = (
        c.join(resp, c.c_custkey == resp.o_custkey, "left")
        .select(
            F.expr(
                f"aggregate({cut_arr}, 0, (acc, x) -> "
                "acc + IF(c_acctbal > x, 1, 0))"
            ).cast("long").alias("decile"),
            F.coalesce(F.col("responded"), F.lit(0)).alias("responded"),
        )
    )
    per = scored.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("responded").alias("n_resp"),
    )
    w = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    return (
        per.select(
            "decile",
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("n_resp").cast("long").alias("n_resp"),
            F.round(
                (F.sum("n_resp").over(w) / F.sum("n_customers").over(w))
                / (F.sum("n_resp").over(tot) / F.sum("n_customers").over(tot)),
                6,
            ).alias("cum_lift"),
        )
        .orderBy(F.col("decile").desc())
    )


def _product_profit_sql(
    lineitem: str = "lineitem",
    part: str = "part",
    supplier: str = "supplier",
    nation: str = "nation",
) -> str:
    """TPC-H Q9 shape (product-type profit), adapted to this schema:
    there is no partsupp, so unit cost proxies as 10% of p_retailprice.
    Profit by supplier nation x ship year for a LIKE-filtered part
    family — the 4-way join + expression-profit + year-extract shape.
    Decimal per-row cast keeps the SUM order-independent."""
    return f"""
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1
                AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM {lineitem}
JOIN {part} ON p_partkey = l_partkey
JOIN {supplier} ON s_suppkey = l_suppkey
JOIN {nation} ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year
"""


def _min_cost_supplier_ps_sql(lineitem: str = "lineitem") -> str:
    """The derived part-supplier cost relation for the Q2 shape: no
    partsupp table in this schema, so supply cost proxies as the
    cheapest line price each supplier has ever shipped that part at.
    MIN over doubles is order-independent — hash-stable on any
    partition layout."""
    return (
        "SELECT l_partkey AS pk, l_suppkey AS sk, "
        f"MIN(l_extendedprice) AS cost FROM {lineitem} "
        "GROUP BY l_partkey, l_suppkey"
    )


def _min_cost_supplier_select_sql(
    ps: str,
    part: str = "part",
    supplier: str = "supplier",
    nation: str = "nation",
    region: str = "region",
) -> str:
    """TPC-H Q2 shape (minimum-cost supplier): region-filtered 5-way
    join with a correlated scalar MIN subquery re-joining the same
    part-supplier relation — the classic decorrelation test. Total
    sort order is unique (s_name unique, p_partkey breaks the rest),
    so the LIMIT picks a deterministic set."""
    return f"""
SELECT s.s_acctbal, s.s_name, n.n_name AS nation,
       p.p_partkey, p.p_name, ps.cost AS supply_cost
FROM {part} p
JOIN {ps} ps ON ps.pk = p.p_partkey
JOIN {supplier} s ON s.s_suppkey = ps.sk
JOIN {nation} n ON n.n_nationkey = s.s_nationkey
JOIN {region} r ON r.r_regionkey = n.n_regionkey
WHERE p.p_type = 'STANDARD' AND p.p_size <= 10 AND r.r_name = 'EUROPE'
  AND ps.cost = (
    SELECT MIN(ps2.cost) FROM {ps} ps2
    JOIN {supplier} s2 ON s2.s_suppkey = ps2.sk
    JOIN {nation} n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN {region} r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE ps2.pk = p.p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


def _min_cost_supplier_sql(
    lineitem: str = "lineitem",
    part: str = "part",
    supplier: str = "supplier",
    nation: str = "nation",
    region: str = "region",
) -> str:
    """One-statement Q2 for the DuckDB oracle (shares the ps CTE)."""
    return (
        f"WITH ps AS ({_min_cost_supplier_ps_sql(lineitem)})\n"
        + _min_cost_supplier_select_sql("ps", part, supplier, nation, region)
    )


@gate(_min_cost_supplier_sql())
def q187_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — the last of the 22 classic query silhouettes
    (completes the set alongside q02/q69/q112/q45/q159/q105/q106/q150/
    q70/q151/q152/q116/q113/q117/q153/q154/q111/q115/q118/q97/q98).
    The derived ps relation is referenced twice (outer join tree +
    correlated MIN): Spark inlines CTEs, so the engine side
    materializes ps once; supplier/nation/region all broadcast under
    AQE, and the correlated scalar decorrelates to a per-part MIN
    aggregate joined back — no per-row subquery execution. r9: ps is
    session-cached under a per-key view name (a pure index of the
    immutable lineitem) — the per-call form re-paid the checkpoint
    every run and its fixed temp-view name was unsafe under
    concurrent queries (the q211/q216 lesson)."""
    vname = artifact_time.view(
        spark, "q187_ps", sf_dir, lambda: fn_dedup.materialize(spark.sql(
            _min_cost_supplier_ps_sql(
                _view(spark, sf_dir, "lineitem", "q187")))))
    return spark.sql(_min_cost_supplier_select_sql(
        vname,
        _view(spark, sf_dir, "part", "q187"),
        _view(spark, sf_dir, "supplier", "q187"),
        _view(spark, sf_dir, "nation", "q187"),
        _view(spark, sf_dir, "region", "q187"),
    ))


@gate(fn_text.mad_outliers_sql("duckdb"))
def q196_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length outliers (text.mad_outliers_sql):
    |len - median| > 3*MAD, the 50%-breakdown-point rule a single
    extreme doc cannot drag (contrast q38's z-score). Integer inputs
    pin every median/MAD to the exact 0.5 grid; outputs are doubled
    into BIGINTs so the gate hashes no floats."""
    v = _view(spark, sf_dir, "documents", "q196")
    return spark.sql(fn_text.mad_outliers_sql("spark", table=v))


@gate(fn_analytics.attribution_oracle_sql())
def q197_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch revenue attribution
    (analytics.linear_attribution): purchases split value equally over
    the user's view/click touches in a 7-day lookback, untouched
    purchases credit 'direct'. One user-partitioned range join + two
    hash aggregates; DECIMAL-cast revenue sum."""
    return fn_analytics.linear_attribution(_t(spark, sf_dir, "events"))


@gate(fn_sampling.split_leakage_sql("duckdb"))
def q198_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit (sampling.split_leakage_sql):
    near-dup pairs spanning train/val/test hash-splits — the leakage a
    per-doc hash split cannot prevent. Spark side reads the session-
    cached MinHash pairs artifact (the q20/q77 relation), so the audit
    is one projection + a tiny aggregate over already-done work; the
    oracle inlines the full LSH chain."""
    pv = fn_dedup.minhash_pairs_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_sampling.split_leakage_sql("spark", pairs=pv))


@gate(fn_curation.datasheet_sql("duckdb"))
def q199_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet rollup (curation.datasheet_sql, Gebru et al.
    1803.09010): per (lang, source) volumes, exact-dup rate, exact
    median length (0.5-grid, doubled to BIGINT), DECIMAL-accumulated
    mean quality — one scan with every per-doc statistic fused, one
    hash aggregate."""
    v = _view(spark, sf_dir, "documents", "q199")
    return spark.sql(fn_curation.datasheet_sql("spark", table=v))


@gate(fn_sk.heavy_hitters_by_group_oracle_sql())
def q201_group_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE Misra-Gries heavy hitters (sketches.
    heavy_hitters_by_group): group-keyed counters INSIDE each partition
    sketch — a hot language never funnels one task the way a grouped
    applyInPandas would — then one exact verify pass over candidates;
    gated set = the true per-group heavy hitters on any layout."""
    # token occurrences off the session-cached token-string artifact
    # (⋈ doc langs — NO broadcast hint: the (doc_id, lang) projection
    # is corpus-cardinality, so forcing it driver-side contradicts the
    # any-layout/100 TB framing; AQE broadcasts it at this SF on its
    # own measured size, r9 ADVICE); per-lang totals off the
    # token-rows artifact itself — the same relation whose rows are
    # being counted, so no cross-tokenizer agreement is assumed.
    tr = fn_dedup.token_rows_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    langs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    toks = (spark.table(tr).join(langs, "doc_id")
            .select("lang", F.col("t").alias("token")))
    totals = (
        spark.table(tr)
        .join(langs, "doc_id")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n_group"))
    )
    return fn_sk.heavy_hitters_by_group(toks, "lang", totals=totals)


@gate(
    " UNION ALL ".join(
        "SELECT CAST({b} AS BIGINT) AS commit_seq, '{op}' AS operation, "
        "CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_changed "
        "FROM ({sql})".format(
            b=b,
            op="bulk_insert" if b == 0 else "upsert",
            sql=cdc.batch_sql(_REC_O, b),
        )
        for b in range(cdc.N_BATCHES)
    ) + " ORDER BY commit_seq",
    write=True)
def q202_timeline_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-timeline audit (storage.timeline_stats, the Hudi
    commits-metadata-table analog): per data commit of the replayed
    orders table, the operation and precombined changed-row count, in
    version order. Oracle derives the same counts independently from
    the CDC stream (distinct keys per batch after in-batch
    precombine) - the timeline's accounting must reconcile with the
    source batches regardless of layout rewrites."""
    table, _versions = _replayed_orders(spark, sf_dir)
    return table.timeline_stats().orderBy("commit_seq")


@gate(fn_curation.lm_perplexity_sql("duckdb"))
def q200_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (curation.lm_perplexity_sql, the
    CCNet filter scored for real): add-one-smoothed corpus LM, per-doc
    mean -ln P(b|a). One ln per bigram TYPE frozen into DECIMAL so the
    per-doc occurrence sum is exact integer arithmetic; shares the
    tokenize-once token-hash artifact."""
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    bg = fn_dedup.bigram_rows_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_curation.lm_perplexity_sql(
        "spark", th_table=th, bg_table=bg))


@gate(_product_profit_sql())
def q150_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape through the engine's SQL surface (D10). part /
    supplier / nation all broadcast under AQE; the only shuffle is the
    final (nation, year) aggregate — 25 x 8 groups."""
    li = _view(spark, sf_dir, "lineitem", "q150")
    p = _view(spark, sf_dir, "part", "q150")
    s = _view(spark, sf_dir, "supplier", "q150")
    n = _view(spark, sf_dir, "nation", "q150")
    return spark.sql(_product_profit_sql(li, p, s, n))


def _important_parts_sql(
    lineitem: str = "lineitem",
    part: str = "part",
    supplier: str = "supplier",
    nation: str = "nation",
) -> str:
    """TPC-H Q11 shape (important stock), adapted: per-part shipped
    value (l_quantity * p_retailprice) from one nation's suppliers,
    HAVING-filtered against a global-total scalar subquery. Threshold
    compare happens in DOUBLE after one exact decimal SUM on both
    engines. The ``val`` CTE is referenced twice: DuckDB materializes
    it, but Spark INLINES CTEs — which would evaluate the big
    lineitem join twice at scale — so the engine side
    (:func:`q151_important_parts`) materializes ``val`` first and runs
    only the final select from this text."""
    return (
        f"WITH val AS ({_important_parts_val_sql(lineitem, part, supplier, nation)})\n"
        + _important_parts_select_sql("val")
    )


def _important_parts_val_sql(
    lineitem: str = "lineitem",
    part: str = "part",
    supplier: str = "supplier",
    nation: str = "nation",
) -> str:
    return f"""
  SELECT l_partkey,
         SUM(CAST(l_quantity * p_retailprice AS DECIMAL(18,4))) AS v
  FROM {lineitem}
  JOIN {part} ON p_partkey = l_partkey
  JOIN {supplier} ON s_suppkey = l_suppkey
  JOIN {nation} ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
"""


def _important_parts_select_sql(val: str) -> str:
    return f"""
SELECT l_partkey AS partkey, CAST(v AS DOUBLE) AS total_value
FROM {val}
WHERE CAST(v AS DOUBLE) >
      (SELECT CAST(SUM(v) AS DOUBLE) * 0.002 FROM {val})
ORDER BY total_value DESC, partkey
"""


@gate(_important_parts_sql())
def q151_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape through the engine's SQL surface (D10). The
    per-part value relation is materialized once (plan-truncating
    checkpoint, same pattern as the dedup artifacts) so its two
    references — the row set and the global-total scalar — cost one
    evaluation of the lineitem join, not two."""
    li = _view(spark, sf_dir, "lineitem", "q151")
    p = _view(spark, sf_dir, "part", "q151")
    s = _view(spark, sf_dir, "supplier", "q151")
    n = _view(spark, sf_dir, "nation", "q151")
    val = fn_dedup.materialize(
        spark.sql(_important_parts_val_sql(li, p, s, n))
    )
    val.createOrReplaceTempView("__q151_val")
    return spark.sql(_important_parts_select_sql("__q151_val"))


def _priority_class_sql(
    orders: str = "orders", lineitem: str = "lineitem"
) -> str:
    """TPC-H Q12 shape (shipmode priority classes), adapted: no
    l_shipmode column, so lines group by l_returnflag; the CASE'd
    priority split (URGENT/HIGH vs rest) over a ship-date year is the
    shape. Pure int counting — no float determinism concerns."""
    return f"""
SELECT l_returnflag AS return_flag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM {orders}
JOIN {lineitem} ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@gate(_priority_class_sql())
def q152_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape through the engine's SQL surface (D10)."""
    o = _view(spark, sf_dir, "orders", "q152")
    li = _view(spark, sf_dir, "lineitem", "q152")
    return spark.sql(_priority_class_sql(o, li))


def _supplier_relationship_sql(
    lineitem: str = "lineitem",
    part: str = "part",
    supplier: str = "supplier",
) -> str:
    """TPC-H Q16 shape (parts/supplier relationship), adapted: supplier
    exclusion is s_acctbal < 0 (no s_comment column), counting DISTINCT
    suppliers able to ship each (brand, type, size) slice through the
    NOT IN sub-select. COUNT(DISTINCT) after a de-correlated NOT IN —
    the partial-agg-unfriendly shape Q16 exists to exercise."""
    return f"""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM {lineitem}
JOIN {part} ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN
      (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@gate(_supplier_relationship_sql())
def q153_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape through the engine's SQL surface (D10)."""
    li = _view(spark, sf_dir, "lineitem", "q153")
    p = _view(spark, sf_dir, "part", "q153")
    s = _view(spark, sf_dir, "supplier", "q153")
    return spark.sql(_supplier_relationship_sql(li, p, s))


def _small_qty_revenue_sql(
    lineitem: str = "lineitem", part: str = "part"
) -> str:
    """TPC-H Q17 shape (small-quantity-order revenue): average yearly
    revenue lost if small orders (below 20% of that part's mean
    quantity) were dropped. The correlated scalar AVG subquery is the
    point — both engines de-correlate it to an aggregate + re-join.
    l_quantity is integral, so AVG is exact in DOUBLE on both engines
    and the 0.2x threshold compare cannot ulp-flip."""
    return f"""
SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
             AS DOUBLE) / 7.0, 4) AS avg_yearly
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#12'
  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                      FROM {lineitem} l2
                      WHERE l2.l_partkey = p.p_partkey)
"""


@gate(_small_qty_revenue_sql())
def q154_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape through the engine's SQL surface (D10)."""
    li = _view(spark, sf_dir, "lineitem", "q154")
    p = _view(spark, sf_dir, "part", "q154")
    return spark.sql(_small_qty_revenue_sql(li, p))


def _delta_revenue_sql(lineitem: str = "lineitem") -> str:
    """TPC-H Q6 shape (forecast revenue change): pure filtered scan +
    single aggregate — the pushdown benchmark (every predicate reaches
    the parquet reader; no join, no wide shuffle). Completes the
    22-shape TPC-H sweep (Q1–Q22 all covered, partsupp-dependent ones
    adapted to this schema)."""
    return f"""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
       AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM {lineitem}
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@gate(_delta_revenue_sql())
def q159_delta_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape through the engine's SQL surface (D10)."""
    li = _view(spark, sf_dir, "lineitem", "q159")
    return spark.sql(_delta_revenue_sql(li))


_ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]


def _predicate_delete_oracle_sql() -> str:
    return (
        "SELECT " + ", ".join(_ORDER_COLS)
        + " FROM orders WHERE o_totalprice <= 300000 ORDER BY o_orderkey"
    )


@gate(_predicate_delete_oracle_sql(), write=True)
def q167_predicate_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate delete through the real storage path (storage.py
    delete_where — the Hudi DELETE FROM / GDPR-retention analog):
    orders is bulk-loaded, high-value rows are deleted by predicate
    via a synthesized tombstone batch through the regular merge (new
    version, real changelog with retractions, pruned rewrite), and the
    surviving state must equal the oracle's complement filter."""
    def build():
        cfg = TableConfig(
            name="pdelete_orders",
            record_key=["o_orderkey"],
            source_ordering_field="trx_seq",
        )
        tmp = artifact_time.lake("pdelete_")
        table = CuratedTable(spark, tmp / "orders", cfg)
        base = _t(spark, sf_dir, "orders").withColumn(
            "trx_seq", F.lit("00000000")
        )
        table.bulk_insert(base)
        table.delete_where("o_totalprice > 300000")
        return table

    table = artifact_time.get(spark, "q167_predicate_delete", sf_dir, build)
    return table.read().select(*_ORDER_COLS).orderBy("o_orderkey")


def _cdc_quarantine_oracle_sql() -> str:
    rec = cdc.RECIPES["orders"]
    return f"""
WITH env AS (
  SELECT CASE WHEN _hoodie_is_deleted THEN 'D'
              WHEN o_orderkey % 97 = 0 THEN 'X' ELSE 'U' END AS op,
         CASE WHEN o_orderkey % 89 = 3 THEN NULL
              ELSE o_orderkey END AS k
  FROM ({cdc.stream_sql(rec)}) s
),
tagged AS (
  SELECT CASE WHEN op IS NULL OR op NOT IN ('I', 'U', 'D') THEN 'bad_op'
              WHEN k IS NULL THEN 'null_key'
              ELSE 'clean' END AS reason, k
  FROM env
)
SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS key_sum
FROM tagged GROUP BY reason ORDER BY reason
"""


@gate(_cdc_quarantine_oracle_sql())
def q165_cdc_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC dead-letter quarantine (operators/quarantine.py): the
    orders change stream is deterministically corrupted (unknown Op
    code on keys %97==0, NULL record key on keys %89==3 — replication
    glitches and serialization bugs in miniature), split into clean vs
    quarantined-with-reason, and summarized per reason with a key
    checksum — proving nothing is silently dropped and the clean
    subset is exactly the mergeable complement. One map-side scan, no
    shuffle until the 3-row summary. The reference stack would fail
    the whole step on such rows (emr1.json:124-130 catch-all); this is
    the dead-letter alternative."""
    from aws_dms_to_hudi_spark.operators import quarantine as op_q

    rec = cdc.RECIPES["orders"]
    env = spark.sql(
        f"""
SELECT CASE WHEN _hoodie_is_deleted THEN 'D'
            WHEN o_orderkey % 97 = 0 THEN 'X' ELSE 'U' END AS Op,
       CASE WHEN o_orderkey % 89 = 3 THEN NULL
            ELSE o_orderkey END AS o_orderkey,
       trx_seq
FROM ({cdc.stream_sql(rec, rid_src=_rid_view(spark, sf_dir, "orders"))}) s
"""
    )
    clean, dlq = op_q.split_quarantine(env, ["o_orderkey"])
    tagged = clean.select(
        F.lit("clean").alias("reason"), "o_orderkey"
    ).unionByName(
        dlq.select(F.col(op_q.REASON_COL).alias("reason"), "o_orderkey")
    )
    return (
        tagged.groupBy("reason")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce("o_orderkey", F.lit(0))).alias("key_sum"),
        )
        .orderBy("reason")
    )


def _stream_static_oracle_sql() -> str:
    return """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_scaled
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@gate(_stream_static_oracle_sql(), write=True)
def q169_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join through the driver gate — the one
    streaming join shape q132's stream-stream gate doesn't cover: the
    events stream (four real micro-batches) inner-joins the static
    customer dimension, which Spark re-resolves per micro-batch (the
    dimension-refresh contract; the static side broadcasts, so the
    stream is never shuffled). Joined rows land in an append file sink
    with no watermark (stateless join); the gate aggregates the sink
    per market segment and must hash-match the relational join oracle
    — verifying no micro-batch dropped or duplicated enrichments."""
    def build():
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "value",
            F.pmod("event_id", F.lit(4)).alias("b"),
        )
        tmp = artifact_time.lake("streamstatic_")
        src = tmp / "stream"
        for p in range(4):
            ev.filter(F.col("b") == p).drop("b").coalesce(1).write.parquet(
                str(src / f"batch-{p}")
            )
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "batch-*"))
        )
        dim = _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        joined = stream.join(
            F.broadcast(dim), stream["user_id"] == dim["c_custkey"]
        ).select("event_id", "c_mktsegment", "value")
        out = str(tmp / "joined")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return out

    out = artifact_time.get(spark, "q169_stream_static_join", sf_dir, build)
    s = spark.read.schema(
        "event_id long, c_mktsegment string, value double"
    ).parquet(out)
    return (
        s.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)")
            ).alias("total_scaled"),
        )
        .orderBy("c_mktsegment")
    )


_SESSION_GAP_MICROS = 6 * 3600 * 1_000_000


def _stream_sessions_oracle_sql() -> str:
    g = _SESSION_GAP_MICROS
    return f"""
WITH e AS (
  SELECT user_id, ts,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS sv
  FROM events
),
o AS (
  SELECT user_id, ts, sv,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {g}
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, sv,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
grp AS (
  SELECT user_id, sid, COUNT(*) AS n, SUM(sv) AS tv,
         MIN(ts) AS mn, MAX(ts) AS mx
  FROM s GROUP BY user_id, sid
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(tv) AS BIGINT) AS total_scaled,
       CAST(SUM(epoch_us(mx) - epoch_us(mn)) AS BIGINT) AS active_micros
FROM grp GROUP BY user_id ORDER BY user_id
"""


@gate(_stream_sessions_oracle_sql(), write=True)
def q164_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows through the driver gate — the
    watermark-driven APPEND-emission path the batch q29 shape cannot
    exercise: per-user 6h-gap sessions over the events stream, landed
    as four time-ordered micro-batches (so sessions genuinely span
    batch boundaries and the watermark advances monotonically) plus a
    far-future flush sentinel that closes every real session. Each
    session row is emitted exactly once when the watermark passes its
    close (streaming/windows.py user_sessions); the gate rolls the
    emitted rows up per user and must hash-match the relational
    gaps-and-islands oracle — verifying both the session merge state
    machine and the completeness of append-mode emission."""
    from aws_dms_to_hudi_spark.streaming.windows import user_sessions

    def build():
        ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
        span = (hi - lo) / 4
        tmp = artifact_time.lake("sessions_")
        src = tmp / "stream"
        for p in range(4):  # time-ordered slices: watermark advances
            cond = F.col("ts") >= F.lit(lo + p * span)
            if p < 3:
                cond = cond & (F.col("ts") < F.lit(lo + (p + 1) * span))
            ev.filter(cond).coalesce(1).write.parquet(
                str(src / f"batch-{p}")
            )
        flush = spark.createDataFrame(
            [(-1, hi + __import__("datetime").timedelta(days=31), 0.0)],
            "user_id long, ts timestamp, value double",
        )
        flush.coalesce(1).write.parquet(str(src / "batch-4"))
        stream = (
            spark.readStream.schema(
                "user_id long, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "batch-*"))
        )
        out = str(tmp / "sessions")
        q = (
            user_sessions(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return out

    out = artifact_time.get(spark, "q164_stream_session_windows", sf_dir, build)
    s = spark.read.schema(
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, total_scaled long"
    ).parquet(out).filter(F.col("user_id") >= 0)
    return (
        s.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.sum("total_scaled").alias("total_scaled"),
            (
                F.sum(
                    F.unix_micros("session_end")
                    - F.unix_micros("session_start")
                )
                - F.count("*") * F.lit(_SESSION_GAP_MICROS)
            ).alias("active_micros"),
        )
        .orderBy("user_id")
    )


@gate(fn_mm.mp4_gate_oracle_sql())
def q163_mp4_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF (MP4) container walk, oracle-gated (multimodal.py
    parse_mp4/encode_mp4): a genuine boxed stream is built per document
    and parsed back inside Arrow-batched mapInPandas — ftyp brand, mvhd
    timescale/duration, trak count, mdat length, all integer metadata
    the SQL oracle replays. 1-in-4 document subset (doc_id%4==3),
    completing the per-format gate family (q25 raw, q137 jpeg, q158
    wav); q176 decodes the codec payload too for MJPEG tracks."""
    return fn_mm.ordered_rows(fn_mm.mp4_roundtrip_features(
        _t(spark, sf_dir, "documents").filter(F.pmod("doc_id", F.lit(4)) == 3)
    ), "doc_id")


@gate(fn_mm.mjpeg_gate_oracle_sql())
def q176_mjpeg_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end VIDEO decode, oracle-gated (multimodal.py
    encode_mjpeg_mp4/decode_mjpeg): per document a genuine MJPEG-in-MP4
    is written (one video trak with real stsd/stts/stsc/stsz/stco
    sample tables, mdat of entropy-coded JPEG frames, multi-chunk so
    stsc run-length expansion is exercised), demuxed back via the
    sample tables, and every frame run through the full baseline JPEG
    decoder — all inside Arrow-batched mapInPandas. The even-gray
    fixture roundtrips Annex-K quantization bit-exactly (q137's
    invariant), so the oracle replays decoded-pixel aggregates
    arithmetically. Closes the last stubbed multimodal leaf: only
    non-MJPEG codecs (avc1…) still refuse, honestly, at the stsd
    fourcc. Map-only — no shuffle, linear in executors; at 100 TB the
    per-row work is bounded by frame count × frame size, and blobs
    never enter a join or groupBy key."""
    return fn_mm.ordered_rows(fn_mm.mjpeg_roundtrip_features(
        _t(spark, sf_dir, "documents").filter(F.pmod("doc_id", F.lit(4)) == 2)
    ), "doc_id")


@gate(fn_sim.pq_adc_sql("duckdb"))
def q171_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric-distance search (Jégou et al.
    TPAMI 2011, the FAISS PQ index; similarity.pq_adc): integer-exact
    subspace codebooks trained relationally (seed + one k-means step),
    vectors coded to PQ_M small ints, queries ranked by summed
    distance-table lookups over CODES only. Completes the ANN family's
    compression axis next to LSH (q23), IVF (q34), and SQ8 (q125).
    The view name carries the corpus identity because the PQ training
    artifacts cache per (session, view)."""
    v = _view(spark, sf_dir, "embeddings",
              f"q171_{abs(hash(sf_dir)) % 10**6}")
    return fn_sim.pq_adc(spark, v)


@gate(fn_sim.recall_audit_sql("duckdb"))
def q170_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the LSH ANN index vs the exact brute-force
    ranking (similarity.recall_audit_sql) — the index-quality monitor
    run on every index rebuild; hash-exact because both candidate
    programs are deterministic and the audit is integer counting."""
    v = _view(spark, sf_dir, "embeddings", "q170")
    return spark.sql(fn_sim.recall_audit_sql("spark", table=v))


@gate(fn_sk.count_min_sql("duckdb"))
def q173_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency service over the token stream
    (sketches.count_min_sql): a D×W cell grid built in one map-side-
    combined aggregate pass — the sketch stays 4×512 cells at any
    corpus size and broadcasts to answer point queries. The gate
    audits a deterministic probe subset against exact counts; the CM
    one-sided guarantee (est ≥ exact) is asserted in tests."""
    d = _view(spark, sf_dir, "documents", "q173")
    return spark.sql(fn_sk.count_min_sql("spark", table=d))


@gate(fn_sk.kmv_sql("duckdb"))
def q174_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k theta sketch (sketches.kmv_sql): distinct
    cardinality of orders.o_custkey, customer.c_custkey, and their
    intersection estimated from the 256 smallest key hashes —
    all-integer estimator, per-partition bounded top-k physical plan
    (TakeOrderedAndProject), O(k) final state. The join-cardinality
    estimation primitive a planner consults before choosing a join
    strategy at 100 TB."""
    o = _view(spark, sf_dir, "orders", "q174")
    c = _view(spark, sf_dir, "customer", "q174")
    return spark.sql(fn_sk.kmv_sql("spark", orders=o, customer=c))


@gate(fn_dedup.incremental_minhash_sql("duckdb"))
def q175_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time incremental near-dup detection
    (dedup.incremental_minhash_sql): each incoming (delta) document is
    judged against the EXISTING corpus only — LSH candidates are
    delta-bands × base-bands, never base × base, so per-batch cost is
    O(|delta|) against the cached corpus index (the session-cached inv
    views, i.e. the artifact a production pipeline maintains between
    batches). Output: one verdict row per delta doc with its best
    exact-Jaccard match."""
    d = _view(spark, sf_dir, "documents", "q175")
    inv = fn_dedup.inv_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    sig = fn_dedup.sig_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(
        fn_dedup.incremental_minhash_sql(
            "spark", table=d, inv_tables=inv, sig_table=sig
        )
    )


@gate(fn_sim.power_iteration_sql("duckdb"))
def q161_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed power iteration (dominant-eigenvector direction of
    the embedding matrix — the PCA-first-component / spectral-quality
    primitive): v ← rescale(Aᵀ(A v)), two unrolled iterations on
    integer-scaled coordinates, bit-identical across engines
    (similarity.py power_iteration). The engine materializes the scaled
    relation once and steps iteration-by-iteration with v as a
    64-int broadcast literal; the oracle runs the same arithmetic as
    materialized CTEs."""
    v = _view(spark, sf_dir, "embeddings", "q161")
    return fn_sim.power_iteration(spark, v)


def _bucketed_join_oracle_sql() -> str:
    return """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@gate(_bucketed_join_oracle_sql())
def q160_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join: orders and customer are written as
    Spark bucketed tables (``bucketBy(16, custkey).sortBy``) and joined
    on the bucket key with a merge hint — the layout-for-joins pattern
    the 100 TB design leans on: both sides' bucket hash partitioning
    satisfies the join's distribution requirement, so the sort-merge
    join runs with ZERO exchanges on either input (the only shuffle in
    the whole plan is the final 5-group aggregate). The gate asserts
    that plan property mechanically — at most one Exchange in the
    executed plan — then hash-verifies the aggregate against the plain
    join oracle. Write-once per (session, sf_dir), mirroring the other
    expensive-artifact caches."""
    def build():
        # the lake's unique name keeps tables of other sessions and
        # processes apart in the shared catalog
        lake = artifact_time.lake("bkt_")
        for t, k in (("orders", "o_custkey"), ("customer", "c_custkey")):
            (_t(spark, sf_dir, t).write.bucketBy(16, k).sortBy(k)
             .mode("overwrite").format("parquet")
             .option("path", str(lake / t))
             .saveAsTable(f"__{lake.name}_{t}"))
        return f"__{lake.name}"

    prefix = artifact_time.get(spark, "q160_bucketed_join", sf_dir, build)
    o = spark.table(f"{prefix}_orders")
    c = spark.table(f"{prefix}_customer")
    joined = o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
    out = (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("o_totalprice"), "total_price"),
        )
        .orderBy("c_mktsegment")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The agg's hash exchange and the orderBy's range exchange are
    # expected; what bucketing must eliminate is any exchange keyed on
    # the JOIN columns feeding the sort-merge join.
    join_key_exchange = any(
        "Exchange hashpartitioning(" + k in plan
        for k in ("o_custkey", "c_custkey")
    )
    if ("SortMergeJoin" not in plan or join_key_exchange
            or "Bucketed: true" not in plan):
        raise AssertionError(
            "bucketed join must read bucketed scans and shuffle neither "
            f"join input:\n{plan[:2000]}"
        )
    return out


@gate(fn_dedup.repeated_ngram_sql("duckdb"))
def q155_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al exact-substring dedup signal: per-doc fraction of
    5-token spans that occur verbatim elsewhere in the corpus
    (arXiv:2107.06499). Engine side reuses the cached token-hash view
    (tokenize-once artifact shared with q19/q20/q21/q77)."""
    sp = fn_dedup.shingle_pos_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_dedup.repeated_ngram_sql("spark", shpos_table=sp))


def _bloom_semijoin_oracle_sql() -> str:
    return """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 10)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@gate(_bloom_semijoin_oracle_sql())
def q156_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (runtime row-level filtering):
    lineitem is pre-filtered map-side through a bitmap built from the
    small-part key set before the exact semi join, so the big-side
    shuffle carries only probable matches. Output is bit-identical to
    the plain semi join — the DuckDB oracle IS the plain semi join
    (``functions/bloom.py`` for the 100 TB sizing math)."""
    li = _t(spark, sf_dir, "lineitem")
    small = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    reduced = fn_bloom.bloom_semi_join(li, small, "l_partkey", "p_partkey")
    return (
        reduced.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue"),
        )
        .orderBy("l_returnflag")
    )


@gate(fn_mm.wav_gate_oracle_sql())
def q158_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/PCM16 WAV decode, oracle-gated (multimodal.py
    decode_wav/encode_wav): a genuine WAV stream is built per document
    and run through the full container walk + frame parse inside
    Arrow-batched mapInPandas; the gated aggregates come from the
    DECODED samples (integer PCM end to end, so DuckDB replays them
    arithmetically). 1-in-4 document subset, mirroring the q137 JPEG
    gate. Beyond-reference extension — the reference's RDBMS rows carry
    no media (templates/aws-dms-to-hudi.yaml:437)."""
    return fn_mm.ordered_rows(fn_mm.wav_roundtrip_features(
        _t(spark, sf_dir, "documents").filter(F.pmod("doc_id", F.lit(4)) == 2)
    ), "doc_id")


@gate(fn_sampling.domain_cap_sql("duckdb"))
def q157_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota (CommonCrawl-style "≤ N pages per domain"):
    salted two-phase rank on the engine side (no one-task-per-domain
    straggler) vs the single-window oracle — identical keep-set."""
    return fn_sampling.domain_cap(_t(spark, sf_dir, "documents"))


def _redelivery_dedup_oracle_sql() -> str:
    return """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM events GROUP BY event_type ORDER BY event_type
"""


@gate(_redelivery_dedup_oracle_sql(), write=True)
def q135_redelivery_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once redelivery dedup through the driver gate: the
    events source is landed TWICE (every file re-delivered, so each
    event_id arrives in two different micro-batches) and streamed
    through ``dropDuplicatesWithinWatermark`` — bounded-state exact
    dedup. With a span-covering watermark every redelivery falls inside
    the dedup window, so the output must hash-match the plain distinct
    aggregate of the ORIGINAL (single-delivery) stream. Gated as
    per-type counts + an id checksum so the surviving row SET itself is
    verified, not just its size."""
    from aws_dms_to_hudi_spark.streaming.windows import (
        dedup_within_watermark,
    )

    def build():
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type",
            F.pmod("event_id", F.lit(2)).alias("b"),
        )
        tmp = artifact_time.lake("redeliver_")
        src = tmp / "stream"
        for p in range(2):  # land once ...
            ev.filter(F.col("b") == p).drop("b").coalesce(1).write.parquet(
                str(src / f"batch-{p}")
            )
        for p in range(2):  # ... and re-deliver every file
            ev.filter(F.col("b") == p).drop("b").coalesce(1).write.parquet(
                str(src / f"redeliver-{p}")
            )
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        deduped = dedup_within_watermark(stream, watermark="3650 days")
        # append-mode survivors land straight in a parquet file
        # sink (executor-side, no driver materialization) and are
        # read back as a DataFrame for the gate aggregate.
        out = str(tmp / "survivors")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return out

    out = artifact_time.get(spark, "q135_redelivery_dedup", sf_dir, build)
    return (
        spark.read.schema("event_id long, ts timestamp, event_type string")
        .parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("event_id").alias("id_checksum"),
        )
        .orderBy("event_type")
    )


def _bag_set_ops_oracle_sql() -> str:
    return """
WITH hi AS (
  SELECT o_custkey FROM orders WHERE o_orderpriority <= '3-MEDIUM'
),
urg AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
exc AS (
  SELECT o_custkey, COUNT(*) AS n_except_all
  FROM (SELECT o_custkey FROM hi EXCEPT ALL SELECT o_custkey FROM urg) e
  GROUP BY o_custkey
),
inter AS (
  SELECT o_custkey, COUNT(*) AS n_intersect_all
  FROM (SELECT o_custkey FROM hi INTERSECT ALL SELECT o_custkey FROM urg) i
  GROUP BY o_custkey
)
SELECT COALESCE(exc.o_custkey, inter.o_custkey) AS o_custkey,
       COALESCE(n_except_all, 0) AS n_except_all,
       COALESCE(n_intersect_all, 0) AS n_intersect_all
FROM exc FULL OUTER JOIN inter ON exc.o_custkey = inter.o_custkey
ORDER BY o_custkey
"""


@gate(_bag_set_ops_oracle_sql())
def q134_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operators (EXCEPT ALL / INTERSECT ALL —
    multiplicity-aware, unlike q42/q09's distinct forms): order-key
    multisets from two overlapping order-priority slices. EXCEPT ALL
    keeps max(m-n, 0) copies, INTERSECT ALL keeps min(m, n) — gated by
    aggregating each result to (custkey, copies) so the multiset itself
    is hash-verified."""
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_orderpriority") <= "3-MEDIUM").select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    exc = (
        hi.exceptAll(urgent)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_except_all"))
    )
    inter = (
        hi.intersectAll(urgent)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_intersect_all"))
    )
    return (
        exc.join(inter, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            F.coalesce("n_except_all", F.lit(0)).alias("n_except_all"),
            F.coalesce("n_intersect_all", F.lit(0)).alias("n_intersect_all"),
        )
        .orderBy("o_custkey")
    )


def _approx_quantiles_oracle_sql() -> str:
    return """
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS q50,
       quantile_cont(l_quantity, 0.75) AS q75,
       TRUE AS approx_within_band
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@gate(_approx_quantiles_oracle_sql())
def q133_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-quantile sketch under the q12/q87 gate contract: the
    gated output is the EXACT interpolated quartiles of l_quantity per
    return flag (integer-valued doubles — every interpolation midpoint
    is binary-exact, so no rounding hazard) plus a boolean asserting
    Spark's approx_percentile (GK sketch, accuracy 1000) landed within
    an absolute band of 2 quantity units. The sketch's merge order
    varies with partitioning, so its raw value is not hash-stable —
    the band assertion is, and it is the estimator's actual contract."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "percentile(l_quantity, array(0.25, 0.5, 0.75))"
            ).alias("pct"),
            F.expr(
                "approx_percentile(l_quantity, 0.5, 1000)"
            ).alias("approx_med"),
        )
        .select(
            "l_returnflag",
            "n",
            F.col("pct")[0].alias("q25"),
            F.col("pct")[1].alias("q50"),
            F.col("pct")[2].alias("q75"),
            (F.abs(F.col("approx_med") - F.col("pct")[1]) <= 2).alias(
                "approx_within_band"
            ),
        )
        .orderBy("l_returnflag")
    )


def _stream_interval_join_oracle_sql() -> str:
    return """
SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
FROM events p JOIN events v
  ON v.user_id = p.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
ORDER BY purchase_id, view_id
"""


@gate(_stream_interval_join_oracle_sql(), write=True)
def q132_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the driver gate: purchases
    matched to the same user's views in the preceding hour, both sides
    watermarked, executed as a REAL multi-micro-batch stream
    (maxFilesPerTrigger=1, availableNow) that must converge to the
    relational interval-join oracle. The watermark spans the fixture's
    event-time range because the landed files are not time-ordered —
    production eviction behavior is exercised separately
    (tests/test_streaming_windows.py late-row tests); what this gates
    is the join itself surviving micro-batch boundaries."""
    from aws_dms_to_hudi_spark.streaming.windows import (
        view_purchase_attribution,
    )

    def build():
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type",
            F.pmod("event_id", F.lit(4)).alias("b"),
        )
        tmp = artifact_time.lake("ssjoin_")
        src = tmp / "stream"
        for p in range(4):
            ev.filter(F.col("b") == p).drop("b").coalesce(1).write.parquet(
                str(src / f"batch-{p}")
            )
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "batch-*"))
        )
        joined = view_purchase_attribution(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "purchase"),
            watermark="3650 days",
        )
        # append-mode join output lands in a parquet file sink
        # (executor-side, no driver materialization).
        out = str(tmp / "joined")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return out

    out = artifact_time.get(spark, "q132_stream_interval_join", sf_dir, build)
    return (
        spark.read.parquet(out)
        .select("user_id", "purchase_id", "view_id")
        .orderBy("purchase_id", "view_id")
    )


@gate(fn_comp.pagerank_sql("duckdb", fn_dedup.edit1_pairs_sql("duckdb")))
def q131_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (fixed-point int64, floor division, 3
    unrolled iterations) over the edit-distance-1 entity graph — the
    link-analysis primitive for canonical-record selection
    (functions/components.py:pagerank_sql).

    Probe bound (r8, 2.6x at 10x): per-round cost is edge-linear and
    the round count is FIXED, so the 10x ratio tracks the 10x graph's
    edge growth (the digit-rotated clone corpus grows edges slightly
    sublinearly in nodes) leaving the per-round job floor — no
    compounding term; 18.4x before the generator stopped cloning
    verbatim names (a data artifact, not a plan shape).

    The pair graph is materialized ONCE per process (the shared-artifact
    pattern of the tokhash family): Spark inlines CTEs, so feeding the
    blocking join's SQL straight into the unrolled recurrence would
    re-execute it per iteration join (~5x the cost). DuckDB materializes
    CTEs natively, so the oracle keeps the single-text form — same
    relation either way."""
    def build():
        c = _view(spark, sf_dir, "customer", "q131")
        pairs = spark.sql(
            fn_dedup.edit1_pairs_sql("spark", c)
        ).localCheckpoint()
        # und (symmetrized-dedup'd edges) and deg are each read
        # multiple times by the unrolled recurrence; materialize them
        # once beside the pairs (pagerank_sql's und/deg-table path)
        # instead of letting CTE inlining re-derive the UNION-dedup and
        # degree exchanges per round.
        und = (pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
               .union(pairs.select("doc_b", "doc_a")).distinct()
               .localCheckpoint())
        deg = und.groupBy("a").agg(F.count("*").alias("d")).localCheckpoint()
        return pairs, und, deg

    pairs, und, deg = artifact_time.view(spark, "q131_edit1_graph", sf_dir,
                                         build)
    return spark.sql(
        fn_comp.pagerank_sql(
            "spark", f"SELECT doc_a, doc_b FROM {pairs}",
            und_table=und, deg_table=deg,
        )
    )


def _lateral_topn_sql(
    customer: str = "customer", orders: str = "orders", n: int = 2
) -> str:
    """LATERAL correlated-subquery top-N per group (each customer's
    ``n`` highest-value orders) — the per-row dependent join Spark 4
    executes as a decorrelated ranked join. Ties broken by o_orderkey
    inside the LATERAL ORDER BY, so the cut is deterministic; identical
    text runs on both engines."""
    return f"""
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM {customer} c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM {orders} o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT {n}
) t
WHERE c.c_custkey % 50 = 0
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


@gate(_lateral_topn_sql())
def q128_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL dependent join through the SQL surface (D10)."""
    c = _view(spark, sf_dir, "customer", "q128")
    o = _view(spark, sf_dir, "orders", "q128")
    return spark.sql(_lateral_topn_sql(c, o))


@gate(_disjunctive_pred_sql())
def q115_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape through the engine's SQL surface (D10)."""
    li = _view(spark, sf_dir, "lineitem", "q115")
    p = _view(spark, sf_dir, "part", "q115")
    return spark.sql(_disjunctive_pred_sql(li, p))


@gate(_order_count_distribution_sql())
def q116_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape through the engine's SQL surface (D10)."""
    c = _view(spark, sf_dir, "customer", "q116")
    o = _view(spark, sf_dir, "orders", "q116")
    return spark.sql(_order_count_distribution_sql(c, o))


@gate(_top_supplier_sql())
def q117_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape through the engine's SQL surface (D10)."""
    s = _view(spark, sf_dir, "supplier", "q117")
    li = _view(spark, sf_dir, "lineitem", "q117")
    return spark.sql(_top_supplier_sql(s, li))


@gate(_above_avg_part_suppliers_sql())
def q118_above_avg_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape through the engine's SQL surface (D10)."""
    s = _view(spark, sf_dir, "supplier", "q118")
    li = _view(spark, sf_dir, "lineitem", "q118")
    p = _view(spark, sf_dir, "part", "q118")
    return spark.sql(_above_avg_part_suppliers_sql(s, li, p))


@gate(cdc.replay_sql(cdc.RECIPES["orders"]), write=True)
def q109_key_range_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-range file groups through the driver gate (beyond-reference;
    Hudi file-group + column-stats pruning analog, ``storage.py``
    RANGE_COL): replay the orders CDC stream into a plain table split
    into range groups with manifest-frozen cut points, so each upsert
    rewrote only the groups its keys fall into (pruning itself is
    asserted in tests/test_key_range_pruning.py; this gate pins that the
    pruned layout is content-neutral — state still hash-matches the full
    replay oracle)."""
    rec = cdc.RECIPES["orders"]

    def build():
        table, _ = _replay(spark, sf_dir, "orders", name="orders_krange",
                           key_range_groups=8)
        assert table.latest_commit().key_bounds  # groups materialized
        return table

    table = artifact_time.get(spark, "q109_key_range_groups", sf_dir, build)
    return table.read().select(*rec.columns, "trx_seq")


@gate(cdc.replay_sql(cdc.RECIPES["customer"]))
def q108_jdbc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDBMS entry point (D1 upstream): full load + high-watermark
    incremental scan over a live Derby journal through ``JdbcSource``
    (pushed-down watermark predicate, partitioned parallel read,
    envelope derivation on ingest) + the same merge path — must
    converge to the replay oracle exactly like the CSV/JSON gates."""
    rec = cdc.RECIPES["customer"]
    table = _jdbc_customer(spark, sf_dir)
    return table.read().select(*rec.columns, "trx_seq")


@gate(cdc.replay_sql(cdc.RECIPES["supplier"], upto_batch=0), write=True)
def q103_savepoint_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15b savepoint/restore through the driver gate: replay supplier
    fully, then roll the table BACK to the bulk-insert version — the
    restored read must equal the replay of batch 0 alone, and the
    timeline keeps the restore as a new commit (append-only manifest,
    no history rewrite)."""
    rec = cdc.RECIPES["supplier"]

    def build():
        table, versions = _replay(spark, sf_dir, "supplier",
                                  name="restore_supplier")
        restored = table.restore(versions[0])
        assert restored.version > cdc.N_BATCHES - 1  # appended, not rewritten
        return table

    table = artifact_time.get(spark, "q103_savepoint_restore", sf_dir, build)
    return table.read().select(*rec.columns, "trx_seq")


def _volume_shipping_sql(
    lineitem="lineitem", orders="orders", customer="customer",
    supplier="supplier", nation="nation",
) -> str:
    """TPC-H Q7 shape: shipped volume between two nations per year, both
    directions — a 5-way join where the interesting predicate is the
    (supp_nation, cust_nation) PAIR disjunction."""
    return f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         YEAR(l.l_shipdate) AS l_year,
         l.l_extendedprice, l.l_discount
  FROM {lineitem} l
  JOIN {orders} o ON o.o_orderkey = l.l_orderkey
  JOIN {customer} c ON c.c_custkey = o.o_custkey
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {nation} n1 ON n1.n_nationkey = s.s_nationkey
  JOIN {nation} n2 ON n2.n_nationkey = c.c_nationkey
  WHERE (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
     OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def _market_share_sql(
    lineitem="lineitem", orders="orders", customer="customer",
    supplier="supplier", nation="nation", region="region",
) -> str:
    """TPC-H Q8 shape: one supplier-nation's revenue share within a
    region per order year — conditional share = SUM(CASE)/SUM over the
    same aggregate scan, both sums decimal-exact before the one
    division. (Fixture nations are synthetic NATION_k names; NATION_6
    sits in region AMERICA's nation set so the share is non-trivial.)"""
    vol = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"
    return f"""
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_6'
                     THEN {vol} ELSE CAST(0 AS DECIMAL(18,4)) END)
            AS DOUBLE)
            / CAST(SUM({vol}) AS DOUBLE) AS DOUBLE) AS mkt_share
FROM (
  SELECT YEAR(o.o_orderdate) AS o_year, n2.n_name AS supp_nation,
         l.l_extendedprice, l.l_discount
  FROM {lineitem} l
  JOIN {orders} o ON o.o_orderkey = l.l_orderkey
  JOIN {customer} c ON c.c_custkey = o.o_custkey
  JOIN {nation} n1 ON n1.n_nationkey = c.c_nationkey
  JOIN {region} r ON r.r_regionkey = n1.n_regionkey
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {nation} n2 ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'AMERICA'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@gate(_volume_shipping_sql(), collect=True)
def q105_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape through the engine's SQL surface (D10)."""
    t = {n: _view(spark, sf_dir, n, "q105")
         for n in ["lineitem", "orders", "customer", "supplier", "nation"]}
    return spark.sql(_volume_shipping_sql(**t))


@gate(_market_share_sql(), collect=True)
def q106_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape through the engine's SQL surface (D10)."""
    t = {n: _view(spark, sf_dir, n, "q106")
         for n in ["lineitem", "orders", "customer", "supplier",
                   "nation", "region"]}
    return spark.sql(_market_share_sql(**t))


def _event_transitions_sql(events: str = "events") -> str:
    """Per-user event-type transition bigrams (the path-analysis /
    Markov-chain primitive): lag over (user, time) then one hash-agg.
    The share divides two exact counts once, so it is bit-identical
    across engines. One shuffle on user_id for the window, one tiny agg."""
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM {events}
),
t AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
tot AS (SELECT prev_type, CAST(SUM(n_transitions) AS BIGINT) AS n_out
        FROM t GROUP BY prev_type)
SELECT t.prev_type, t.next_type, t.n_transitions,
       round(CAST(t.n_transitions AS DOUBLE)
             / CAST(tot.n_out AS DOUBLE), 6) AS p_next
FROM t JOIN tot ON t.prev_type = tot.prev_type
ORDER BY t.prev_type, t.next_type
"""


@gate(_event_transitions_sql(), collect=True)
def q107_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence transition matrix with per-source probabilities."""
    v = _view(spark, sf_dir, "events", "q107")
    return spark.sql(_event_transitions_sql(v))


@gate(fn_sim.label_centroids_sql("duckdb"), collect=True)
def q99_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (k-means M-step) on integer-exact
    scaled sums — order-independent, so partial aggregation is free."""
    v = _view(spark, sf_dir, "embeddings", "q99")
    iv = fn_sim.emb_rows_view(spark, v, cache_key=sf_dir)
    return spark.sql(fn_sim.label_centroids_sql("spark", table=v,
                                                iv_table=iv))


@gate(fn_sim.centroid_assign_sql("duckdb"), collect=True)
def q100_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (k-means E-step): broadcast the tiny
    centroid relation, one integer-exact dot per (vector, candidate),
    argmax per vector → label confusion matrix."""
    v = _view(spark, sf_dir, "embeddings", "q100")
    iv = fn_sim.emb_rows_view(spark, v, cache_key=sf_dir)
    return spark.sql(fn_sim.centroid_assign_sql("spark", table=v,
                                                iv_table=iv))


def _orders_aggs() -> dict:
    return {
        "n_orders": F.count("*").cast("long"),
        "total_spent": F.sum(F.col("o_totalprice").cast(DEC)).cast("double"),
    }


@gate(
    "SELECT o_custkey, COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) "
    "AS total_spent "
    f"FROM ({cdc.replay_sql(_REC_O)}) AS final_state "
    "GROUP BY o_custkey ORDER BY o_custkey",
    write=True)
def q88_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-table incremental view maintenance: a per-customer order
    aggregate advanced across the CDC replay's commits from changelogs +
    group-pruned snapshot lookups (functions/incremental.py), never a
    full recompute — the O(changes) downstream-mart pattern the 2-hour
    sync cadence demands. Oracle: full GROUP BY over the replayed final
    state."""
    table, versions = _replayed_orders(spark, sf_dir)
    aggs = _orders_aggs()
    state = fn_incr.group_agg(
        table.read(version=versions[0]), "o_custkey", aggs
    )
    for prev, cur in zip(versions, versions[1:]):
        state = fn_incr.maintain_group_agg(
            table, state, "o_custkey", aggs, prev, cur
        )
    return state.orderBy("o_custkey")


def _streamed_customer(spark: SparkSession, sf_dir: str) -> CuratedTable:
    """Shared fixture: all customer CDC batches landed in the DMS raw
    layout, drained through the Structured Streaming ingest
    (ContinuousIngest, availableNow) in several micro-batches."""
    from aws_dms_to_hudi_spark.streaming import ContinuousIngest

    def build():
        rec = cdc.RECIPES["customer"]
        tmp = artifact_time.lake("stream_customer_")
        for b in range(cdc.N_BATCHES):
            cdc.write_raw_batch(spark, sf_dir, rec, b, tmp / "raw", "tpch")
        ing = ContinuousIngest(
            spark,
            TableConfig(name="stream_customer",
                        record_key=list(rec.key_cols)),
            source_root=tmp / "raw" / "tpch" / "public" / "customer",
            target_root=tmp / "curated",
            checkpoint_root=tmp / "ckpt",
            max_files_per_trigger=4,  # force multiple micro-batches
        )
        ing.run_available()
        return ing.table

    return artifact_time.get(spark, "streamed_customer", sf_dir, build)


def _mor_lineitem(spark: SparkSession, sf_dir: str) -> CuratedTable:
    """Shared fixture: lineitem CDC replayed into a partitioned
    MERGE_ON_READ table (upserts append row deltas), then compacted."""

    def build():
        table, _ = _replay(spark, sf_dir, "lineitem", name="mor_lineitem",
                           is_partitioned=True, partition_path="l_returnflag",
                           table_type="MERGE_ON_READ")
        assert table.latest_commit().deltas  # MOR path actually appended
        table.compact()
        return table

    return artifact_time.get(spark, "mor_lineitem", sf_dir, build)


def _mor_read_optimized_oracle_sql() -> str:
    rec = cdc.RECIPES["supplier"]
    cols = ", ".join(rec.columns)
    keys = ", ".join(rec.key_cols)
    return (
        f"SELECT {cols}, trx_seq FROM ({cdc.replay_sql(rec, 0)}) s "
        f"ORDER BY {keys}"
    )


@gate(_mor_read_optimized_oracle_sql(), write=True)
def q168_mor_read_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi's READ-OPTIMIZED query type on a MERGE_ON_READ table
    (storage.py read(read_optimized=True)): supplier is bulk-loaded
    then upserted with row deltas that are deliberately NOT compacted;
    the read-optimized view must serve exactly the base files — the
    bulk-insert state, i.e. the replay at batch 0 — while the snapshot
    view (gated by q93's family) merges the deltas. Completes the Hudi
    query-type triple: snapshot / incremental (q33) / read-optimized."""
    rec = cdc.RECIPES["supplier"]

    def build():
        table, _ = _replay(spark, sf_dir, "supplier", name="morro_supplier",
                           table_type="MERGE_ON_READ")
        assert table.latest_commit().deltas  # uncompacted on purpose
        return table

    table = artifact_time.get(spark, "q168_mor_read_optimized", sf_dir, build)
    return (
        table.read(read_optimized=True)
        .select(*rec.columns, "trx_seq")
        .orderBy(*rec.key_cols)
    )


@gate(cdc.replay_sql(_REC_O), write=True)
def q94_cluster_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 clustering through the driver gate: rewrite the replayed
    orders table z-ordered on (o_orderdate, o_custkey) — the small-file
    / locality service — and prove the rewrite is content-neutral: the
    clustered read must still hash-match the replay oracle. (File-stat
    pruning effects are asserted in tests; here the gate pins that
    layout optimization never changes query results.)"""
    rec = cdc.RECIPES["orders"]
    table = _clustered_orders(spark, sf_dir, "q94_cluster_zorder",
                              zorder_by=["o_orderdate", "o_custkey"])
    return table.read().select(*rec.columns, "trx_seq")


def _clustered_orders(spark: SparkSession, sf_dir: str, gate: str,
                      **layout) -> CuratedTable:
    """The shared replayed orders table, clustered once per session for
    ``gate`` (a layout rewrite is a commit on that table)."""

    def build():
        table, _versions = _replayed_orders(spark, sf_dir)
        commit = table.cluster(target_partitions=4, **layout)
        assert commit is not None and commit.operation == "clustering"
        return table

    return artifact_time.get(spark, gate, sf_dir, build)


@gate(cdc.replay_sql(cdc.RECIPES["supplier"]), write=True)
def q95_clean_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D13+D14 through the driver gate: replay supplier through the real
    write path, GC old snapshot versions (cleaner.commits.retained
    analog) and trim the commit timeline into the archive — then prove
    the surviving head still hash-matches the replay oracle. Old
    versions are physically gone (asserted), the current state is
    untouched."""
    rec = cdc.RECIPES["supplier"]

    def build():
        table, _ = _replay(spark, sf_dir, "supplier", name="gc_supplier")
        removed = table.clean(retained_commits=2)
        assert removed, "clean must GC pre-retention snapshot dirs"
        archived = table.archive(keep_min=2, keep_max=3)
        assert archived > 0 and len(table.commits()) == 2
        return table

    table = artifact_time.get(spark, "q95_clean_archive", sf_dir, build)
    return table.read().select(*rec.columns, "trx_seq")


def _evolution_oracle_sql() -> str:
    """Replay oracle for q96: batch-0 rows never carried c_acctbal, so
    null it wherever the surviving row came from batch 0. The batch id
    is the first significant digit of the 50-wide trx_seq (sequence
    blocks are b*10^12 < 10^13, so digits 38.. hold the value)."""
    rec = cdc.RECIPES["customer"]
    cols = ", ".join(c for c in rec.columns if c != "c_acctbal")
    return (
        f"WITH s AS ({cdc.stream_sql(rec, upto_batch=1)}), "
        f"s2 AS (SELECT {cols}, "
        "CASE WHEN CAST(substr(trx_seq, 38, 1) AS INT) = 0 "
        "THEN NULL ELSE c_acctbal END AS c_acctbal, "
        "trx_seq, _hoodie_is_deleted FROM s) "
        f"SELECT {cols}, c_acctbal, trx_seq FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY c_custkey ORDER BY trx_seq DESC) AS rn FROM s2"
        ") t WHERE rn = 1 AND NOT _hoodie_is_deleted"
    )


@gate(_evolution_oracle_sql(), write=True)
def q96_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on the merge path (DMS source gains a
    column mid-stream, SURVEY.md §1.2): bulk insert customer WITHOUT
    c_acctbal, then upsert a CDC batch that carries it — pre-evolution
    rows must surface NULL, updated rows the new value, through the
    same storage/merge code. Oracle: the replay SQL with batch-0 rows'
    c_acctbal nulled (the batch id is recoverable from the trx_seq
    sequence-block digit)."""
    rec = cdc.RECIPES["customer"]
    def build():
        _t(spark, sf_dir, "customer").createOrReplaceTempView(
            "__evo_customer"
        )
        cfg = TableConfig(name="evo_customer",
                          record_key=list(rec.key_cols))
        tmp = artifact_time.lake("evo_customer_")
        table = CuratedTable(spark, tmp / "customer", cfg)
        b0 = spark.sql(cdc.batch_sql(rec, 0, src="__evo_customer"))
        table.bulk_insert(b0.drop("c_acctbal"))  # pre-evolution schema
        b1 = spark.sql(cdc.batch_sql(rec, 1, src="__evo_customer"))
        table.upsert(b1)  # schema gains c_acctbal here
        return table

    table = artifact_time.get(spark, "q96_schema_evolution", sf_dir, build)
    cols = [c for c in rec.columns if c != "c_acctbal"]
    return table.read().select(*cols, "c_acctbal", "trx_seq")


@gate(cdc.replay_sql(cdc.RECIPES["customer"]), write=True)
def q92_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 continuous mode through the driver gate: the Structured
    Streaming file-source ingest (foreachBatch -> the SAME upsert merge
    as batch mode, availableNow trigger) must converge to the batch
    replay state — micro-batch boundaries can't change the outcome
    because precombine orders by trx_seq within and across batches.
    Oracle: the naive full-replay SQL."""
    rec = cdc.RECIPES["customer"]
    table = _streamed_customer(spark, sf_dir)
    return table.read().select(*rec.columns, "trx_seq")


@gate(cdc.replay_sql(cdc.RECIPES["lineitem"]), write=True)
def q93_mor_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 MERGE_ON_READ + inline compaction through the driver gate:
    upserts append row-level deltas (write cost O(batch), not O(table)),
    readers see merged state via merge-on-read, and compaction folds
    deltas into a new partitioned base whose state is IDENTICAL — the
    compacted read must equal the full replay oracle."""
    rec = cdc.RECIPES["lineitem"]
    table = _mor_lineitem(spark, sf_dir)
    assert not table.latest_commit().deltas  # reading the compacted base
    return table.read().select(*rec.columns, "trx_seq")


def _agg_change_feed_oracle_sql() -> str:
    def agg(src: str) -> str:
        return (
            "SELECT o_custkey, COUNT(*) AS n_orders, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) "
            f"AS total_spent FROM ({src}) t GROUP BY o_custkey"
        )

    return (
        f"WITH s0 AS ({agg(cdc.replay_sql(_REC_O, upto_batch=0))}), "
        f"sN AS ({agg(cdc.replay_sql(_REC_O))}) "
        "SELECT COALESCE(s0.o_custkey, sN.o_custkey) AS o_custkey, "
        "CASE WHEN s0.o_custkey IS NULL THEN 'insert' "
        "     WHEN sN.o_custkey IS NULL THEN 'delete' "
        "     ELSE 'update' END AS change_type, "
        "s0.n_orders AS old_n_orders, "
        "s0.total_spent AS old_total_spent, "
        "sN.n_orders AS new_n_orders, "
        "sN.total_spent AS new_total_spent "
        "FROM s0 FULL OUTER JOIN sN "
        "  ON s0.o_custkey = sN.o_custkey "
        "WHERE s0.o_custkey IS NULL OR sN.o_custkey IS NULL "
        "   OR s0.n_orders <> sN.n_orders "
        "   OR s0.total_spent <> sN.total_spent "
        "ORDER BY o_custkey"
    )


@gate(_agg_change_feed_oracle_sql(), write=True)
def q104_agg_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed for the maintained derived aggregate (q88's
    state): the insert/update/delete diff between the post-bulk-insert
    state and the state after all commits — what the mart publishes so
    ITS consumers can be incremental too. Oracle: full-outer join of
    the replay-based aggregates at both positions."""
    table, versions = _replayed_orders(spark, sf_dir)
    aggs = _orders_aggs()
    s0 = fn_incr.group_agg(table.read(version=versions[0]),
                           "o_custkey", aggs)
    state = s0
    for prev, cur in zip(versions, versions[1:]):
        state = fn_incr.maintain_group_agg(
            table, state, "o_custkey", aggs, prev, cur
        )
    return fn_incr.state_diff(
        s0, state, "o_custkey", ["n_orders", "total_spent"]
    )


@gate(fn_analytics.skew_profile_sql("duckdb"), collect=True)
def q89_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution / skew profiler over lineitem join keys: top
    values + share + skew factor per column — the pre-flight diagnostic
    for salting / AQE-skew decisions. One melt → one hash-agg shuffle;
    columnar pruning makes the union branches one effective scan."""
    v = _view(spark, sf_dir, "lineitem", "q89")
    return spark.sql(fn_analytics.skew_profile_sql("spark", table=v))


@gate(fn_curation.vocab_encode_sql("duckdb"))
def q90_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (top-1000 token hashes by doc frequency) +
    dictionary encoding of every doc, checksummed per doc so the oracle
    pins exact id sequences. Reuses the cached token-hash relation; the
    vocab side broadcasts into the encode join."""
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_curation.vocab_encode_sql("spark", th_table=th))


@gate(fn_sampling.weighted_sample_sql("duckdb"), collect=True)
def q91_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-biased sampling: integer hash×weight
    priority, top-20 per language — reproducible on any cluster layout,
    no RNG, no libm in the ordering."""
    v = _view(spark, sf_dir, "documents", "q91")
    return spark.sql(fn_sampling.weighted_sample_sql("spark", table=v))


# One index-enabled CDC-replayed orders table per (session, sf_dir),
# shared by the metadata-index gates (q228 column-stats skipping, q229
# record-level index lookup, q230 CDC-image read). Year-partitioned so
# the column-stats index has file groups to skip; all three index
# maintainers run on every commit, so each gate reads a production-shaped
# artifact (the replay is shared fixture setup, like _replayed_orders).


def _indexed_orders(spark: SparkSession, sf_dir: str) -> CuratedTable:
    def build():
        rec = cdc.RECIPES["orders"]
        _t(spark, sf_dir, "orders").createOrReplaceTempView(
            "__indexed_orders_src"
        )
        cfg = TableConfig(
            name="orders_indexed",
            record_key=list(rec.key_cols),
            is_partitioned=True,
            partition_path="o_year",
            stats_columns=["o_orderdate"],
            record_index=True,
            cdc_images=True,
            bloom_index=True,
        )
        tmp = artifact_time.lake("orders_indexed_")
        table = CuratedTable(spark, tmp / "orders", cfg)
        for b in range(cdc.N_BATCHES):
            batch = spark.sql(
                cdc.batch_sql(rec, b, src="__indexed_orders_src")
            ).withColumn(
                # int, matching Spark's hive partition-value inference on
                # read-back (a string year would widen-conflict int)
                "o_year", F.year(F.col("o_orderdate")).cast("int")
            )
            (table.bulk_insert if b == 0 else table.upsert)(batch)
        return table

    return artifact_time.get(spark, "indexed_orders", sf_dir, build)


_CS_LO = "1996-01-01 00:00:00"
_CS_HI = "1996-07-01 00:00:00"


def _column_stats_oracle_sql() -> str:
    rec = cdc.RECIPES["orders"]
    return f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM ({cdc.replay_sql(rec)}) s
WHERE o_orderdate >= TIMESTAMP '{_CS_LO}' AND o_orderdate < TIMESTAMP '{_CS_HI}'
GROUP BY o_orderpriority ORDER BY o_orderpriority"""


@gate(_column_stats_oracle_sql(), collect=True)
def q228_column_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats data skipping (storage.read ``filters=``; Hudi
    metadata-table COLUMN_STATS analog): per-dir min/max recorded in
    every commit manifest at write time — O(dirs written) maintenance —
    prune file groups whose range provably misses the predicate BEFORE
    the scan, then the predicate re-applies to surviving rows so
    results are exact. Here a 6-month window over the year-partitioned
    CDC-replayed orders table scans 1 of 7 file groups (strict-subset
    pruning + conservatism + MOR-delta safety pinned in
    tests/test_storage_indexes.py); the gate hash-checks the surviving
    rows' rollup against the plain replay oracle."""
    import datetime as _dt

    t = _indexed_orders(spark, sf_dir)
    lo = _dt.datetime.fromisoformat(_CS_LO)
    hi = _dt.datetime.fromisoformat(_CS_HI)
    got = t.read(filters=[("o_orderdate", ">=", lo), ("o_orderdate", "<", hi)])
    return (
        got.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).cast("long").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


def _record_index_oracle_sql() -> str:
    rec = cdc.RECIPES["orders"]
    cols = ", ".join(c for c in rec.columns if c != "o_totalprice")
    return f"""
SELECT {cols},
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
       trx_seq
FROM ({cdc.replay_sql(rec)}) s
WHERE o_orderkey % 97 = 1 ORDER BY o_orderkey"""


@gate(_record_index_oracle_sql())
def q229_record_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-level index point lookup (storage.point_lookup; Hudi
    RECORD_INDEX analog): the (key -> dir key) index is itself a
    bucketed CuratedTable — as Hudi's metadata table is itself a Hudi
    table — maintained O(batch) on every commit, tombstones removing
    entries. A lookup routes to index buckets by key hash, collects the
    (bounded) candidate dir keys, scans ONLY those file groups, and a
    final semi-join clears index false positives. Probes include keys
    deleted in batch 2 (must be absent) and re-inserted in batch 3
    (must be back); subset-scan + staleness-tolerance pinned in
    tests/test_storage_indexes.py."""
    t = _indexed_orders(spark, sf_dir)
    probe = spark.sql(
        "SELECT DISTINCT o_orderkey FROM __indexed_orders_src "
        "WHERE o_orderkey % 97 = 1"
    )
    rec = cdc.RECIPES["orders"]
    return (
        t.point_lookup(probe)
        .select(*rec.columns, "trx_seq")
        .withColumn(
            "o_totalprice",
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"),
        )
        .withColumnRenamed("o_totalprice", "total_cents")
        .drop("o_year")
        .orderBy("o_orderkey")
    )


def _cdc_image_oracle_sql() -> str:
    rec = cdc.RECIPES["orders"]
    parts = []
    for b in range(cdc.N_BATCHES):
        cur = cdc.replay_sql(rec, b)
        if b == 0:
            parts.append(f"""
SELECT o_orderkey, CAST(1 AS BIGINT) AS commit_version, 'I' AS op,
       CAST(NULL AS BIGINT) AS before_cents,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS after_cents
FROM ({cur}) s""")
            continue
        prv = cdc.replay_sql(rec, b - 1)
        parts.append(f"""
SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
       CAST({b + 1} AS BIGINT) AS commit_version,
       CASE WHEN c.o_orderkey IS NULL THEN 'D'
            WHEN p.o_orderkey IS NULL THEN 'I' ELSE 'U' END AS op,
       CAST(floor(p.o_totalprice * 100 + 0.5) AS BIGINT) AS before_cents,
       CAST(floor(c.o_totalprice * 100 + 0.5) AS BIGINT) AS after_cents
FROM ({cur}) c FULL OUTER JOIN ({prv}) p USING (o_orderkey)
WHERE c.trx_seq IS DISTINCT FROM p.trx_seq""")
    body = " UNION ALL ".join(parts)
    return (
        f"SELECT * FROM ({body}) u ORDER BY commit_version, o_orderkey"
    )


@gate(_cdc_image_oracle_sql())
def q230_cdc_image_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time CDC images (storage.read_cdc; Hudi 0.13
    ``hoodie.table.cdc.enabled`` analog): every COW upsert persists the
    stored pre-state of exactly the keys it changes (one batch-sized
    semi-join against the already-pruned existing slice), so the CDC
    read serves (op I/U/D, before, after) per changed key per commit at
    O(changed keys) — never replaying historical snapshots. No-op
    suppression (a batch row that loses precombine emits nothing) and
    window bounds pinned in tests/test_storage_indexes.py. The oracle
    diffs consecutive replay states per batch."""
    t = _indexed_orders(spark, sf_dir)
    return (
        t.read_cdc(image_cols=["o_totalprice"])
        .select(
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
        .orderBy("commit_version", "o_orderkey")
    )


def _stream_outer_join_oracle_sql() -> str:
    return """
SELECT p.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN v.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unconverted,
       CAST(SUM(COALESCE(v.event_id, 0)) AS BIGINT) AS view_id_sum,
       CAST(SUM(p.event_id) AS BIGINT) AS purchase_id_sum
FROM events p LEFT JOIN events v
  ON v.user_id = p.user_id AND v.event_type = 'view'
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
GROUP BY p.user_id ORDER BY p.user_id
"""


@gate(_stream_outer_join_oracle_sql(), collect=True, write=True)
def q231_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join through the driver gate —
    the emission path q132's inner join cannot exercise: an unconverted
    purchase (no view in the preceding hour) is emitted NULL-matched
    only when the watermark proves no future view can still join it, so
    outer rows trickle out on STATE EVICTION, not row arrival. Events
    land as four time-ordered slices (watermark advances monotonically)
    plus a far-future flush sentinel that resolves every real purchase
    before availableNow terminates; the file-sink rows, rolled up per
    user with converted/unconverted splits, must hash-match the
    relational LEFT JOIN oracle — pinning that eviction emitted every
    unmatched purchase exactly once and dropped none."""
    from aws_dms_to_hudi_spark.streaming.windows import (
        view_purchase_attribution,
    )

    def build():
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        ).filter(F.col("event_type").isin("view", "purchase"))
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
        span = (hi - lo) / 4
        tmp = artifact_time.lake("ssouter_")
        src = tmp / "stream"
        for p in range(4):  # time-ordered slices
            cond = F.col("ts") >= F.lit(lo + p * span)
            if p < 3:
                cond = cond & (F.col("ts") < F.lit(lo + (p + 1) * span))
            ev.filter(cond).coalesce(1).write.parquet(
                str(src / f"batch-{p}")
            )
        far = hi + __import__("datetime").timedelta(days=31)
        flush = spark.createDataFrame(
            [(-1, far, -1, "view"), (-2, far, -1, "purchase")],
            "event_id long, ts timestamp, user_id long, "
            "event_type string",
        )
        flush.coalesce(1).write.parquet(str(src / "batch-4"))
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "batch-*"))
        )
        joined = view_purchase_attribution(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "purchase"),
            watermark="10 minutes",
            how="left_outer",
        )
        out = str(tmp / "joined")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return out

    out = artifact_time.get(spark, "q231_stream_outer_join", sf_dir, build)
    s = spark.read.parquet(out).filter(F.col("user_id") >= 0)
    return (
        s.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("view_id").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_unconverted"),
            F.sum(F.coalesce(F.col("view_id"), F.lit(0)))
            .cast("long").alias("view_id_sum"),
            F.sum("purchase_id").cast("long").alias("purchase_id_sum"),
        )
        .orderBy("user_id")
    )


def _ks_oracle_sql() -> str:
    return fn_feat.ks_drift_oracle_sql(
        "(SELECT * FROM orders "
        "WHERE year(o_orderdate) IN (1996, 1997)) s0",
        "o_totalprice",
        "year(o_orderdate) = 1996",
    )


@gate(_ks_oracle_sql(), collect=True)
def q232_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift statistic
    (features.ks_drift): 1996 vs 1997 order totals, D as the
    cross-multiplied integer sup |ra·nB − rb·nA| — the binning-free
    companion to PSI (q205) and chi² (q213) for monitor-grade drift
    detection. Running ECDF counts ride the two-pass range-bucketed
    prefix sum (operators/rank.global_running_sum), so no global-sort
    single-partition window ever forms."""
    o = _t(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1996, 1997)
    ).select(
        "o_totalprice",
        (F.year("o_orderdate") == 1996).alias("fa"),
    )
    return fn_feat.ks_drift(o, "o_totalprice", "fa")


@gate(fn_mm.wav_frame_oracle_sql())
def q233_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio features over decoded PCM (multimodal.
    wav_frame_features): short-time energy + zero-crossing rate per
    16-sample frame on the REAL RIFF/PCM16 round-trip — the
    feature-extract stage between q158's raw decode and any
    VAD/segmentation consumer. Map-only Arrow mapInPandas, zero
    shuffle; the integer PCM fixture lets the oracle replay the decoded
    samples exactly."""
    docs = _t(spark, sf_dir, "documents").filter("doc_id % 4 = 1")
    return fn_mm.ordered_rows(fn_mm.wav_frame_features(docs), "doc_id")


@gate(fn_curation.pseudonymize_sql("duckdb"), collect=True)
def q234_pseudonymization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization + referential-integrity audit
    (curation.pseudonymize_sql): the natural customer key is replaced
    by a double-peppered portable-hash surrogate consistently across
    customer AND orders; per-segment order counts joined through the
    surrogate vs through the raw key sit side by side (equality is the
    FK-preservation proof) and the collision audit must read 0. Pure
    per-row codegen surrogates, broadcast-dim audit joins."""
    c = _view(spark, sf_dir, "customer", "q234")
    o = _view(spark, sf_dir, "orders", "q234")
    return spark.sql(
        fn_curation.pseudonymize_sql("spark", customer=c, orders=o)
    )


@gate(fn_sim.hard_negative_sql("duckdb"), collect=True)
def q235_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative + positive mining for contrastive training
    (similarity.hard_negative_sql): per deterministic anchor slice, the
    most-similar different-label vector, the most-similar same-label
    vector, and the triplet margin — one corpus scan, anchors
    broadcast, both rankings from a single scored relation. The
    label-aware complement of q22's top-k; at scale the candidate set
    comes from the LSH/IVF index and this ranks candidates."""
    v = _view(spark, sf_dir, "embeddings", "q235")
    return spark.sql(fn_sim.hard_negative_sql("spark", table=v))


def _occ_oracle_sql() -> str:
    rec = cdc.RECIPES["orders"]
    return (
        f"SELECT * FROM ({cdc.replay_sql(rec, 1)}) s ORDER BY o_orderkey"
    )


@gate(_occ_oracle_sql(), write=True)
def q236_occ_multi_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency control (storage.prepare_upsert /
    commit_staged; Hudi OPTIMISTIC_CONCURRENCY_CONTROL +
    SimpleConcurrentFileWritesConflictResolution analog): two writers
    split CDC batch 1 by year parity and BOTH prepare their merges from
    the same parent snapshot, un-serialized; the metadata-only commit
    step rebases the second writer onto the first (disjoint touched
    file groups), so both land as serial commits without either
    blocking the other's data work. The gate reads the final state,
    which must equal the SERIAL replay of the whole batch — proving the
    rebase lost nothing and re-merged nothing. Overlap -> conflict ->
    re-prepare is pinned in tests/test_occ.py."""
    def build():
        rec = cdc.RECIPES["orders"]
        _t(spark, sf_dir, "orders").createOrReplaceTempView(
            "__occ_gate_orders"
        )
        cfg = TableConfig(
            name="orders_occ_gate",
            record_key=list(rec.key_cols),
            is_partitioned=True,
            partition_path="o_year",
        )
        tmp = artifact_time.lake("orders_occ_")
        t = CuratedTable(spark, tmp / "orders", cfg)
        year = F.year("o_orderdate").cast("int")
        t.bulk_insert(
            spark.sql(
                cdc.batch_sql(rec, 0, src="__occ_gate_orders")
            ).withColumn("o_year", year)
        )
        b1 = spark.sql(
            cdc.batch_sql(rec, 1, src="__occ_gate_orders")
        ).withColumn("o_year", year)
        sa = t.prepare_upsert(b1.filter(F.col("o_year") % 2 == 0))
        sb = t.prepare_upsert(b1.filter(F.col("o_year") % 2 == 1))
        t.commit_staged(sa)
        t.commit_staged(sb)  # rebase: disjoint year sets
        return t

    t = artifact_time.get(spark, "q236_occ_multi_writer", sf_dir, build)
    rec = cdc.RECIPES["orders"]
    return (
        t.read()
        .select(*rec.columns, "trx_seq")
        .orderBy("o_orderkey")
    )


@gate(fn_mm.phash_oracle_sql())
def q237_phash_visual_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash visual dedup (multimodal.phash_media): block-mean
    aHash signatures computed from REAL JPEG decodes (Arrow mapInPandas,
    map-only) then one hash aggregate groups visually identical
    re-encodes — the image-side twin of q18's exact text dedup; SimHash
    Hamming banding (q21) is the near-match extension. Integer-exact
    thresholding (cell_sum·64 > total) and the even-gray bit-exact
    round-trip let the oracle replay signatures from the block formula."""
    docs = _t(spark, sf_dir, "documents").filter("doc_id % 4 = 3")
    return fn_mm.phash_media(docs)


@gate(fn_dedup.lsh_audit_sql("duckdb"))
def q238_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding quality audit (dedup.lsh_audit_sql): exact
    n-gram-Jaccard ground truth vs the PRE-verification band-join
    candidate set off the shared inverted index — candidate precision
    (what the verification join pays for) and banding recall (what the
    (4 bands × 4 rows) choice misses), as floor-ppm integers. The dedup
    family's mirror of q170's ANN recall audit; reuses the cached
    inv/sizes artifacts and (r9) the materialized signature artifact —
    the one-statement form re-ran the 16-MIN signature aggregate 8×
    through the self-joined bands union (guide §2.4)."""
    sig = fn_dedup.sig_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(
        fn_dedup.lsh_audit_sql(
            "spark", inv_tables=_inv(spark, sf_dir), sig_table=sig
        )
    )


def _wap_oracle_sql() -> str:
    rec = cdc.RECIPES["customer"]
    return (
        f"SELECT * FROM ({cdc.replay_sql(rec, 1)}) s ORDER BY c_custkey"
    )


@gate(_wap_oracle_sql(), write=True)
def q239_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (storage.prepare_upsert + read_staged +
    commit_staged/abort_staged; Iceberg WAP / Hudi pre-commit-validator
    analog): CDC batch 1 is STAGED, audited on the invisible would-be
    state (rule: account balances the batch writes stay within the
    fixture's plausible band), and published by a metadata-only flip;
    then a POISONED restatement (every balance overwritten to an
    impossible sentinel, newer ordering so it would win any merge) is
    staged, fails the same audit, and is aborted without a trace. Final
    state must equal the serial batch-0..1 replay — the poison never
    existing is exactly what the hash compare proves; staging/abort
    mechanics are pinned in tests/test_occ.py."""
    def build():
        rec = cdc.RECIPES["customer"]
        _t(spark, sf_dir, "customer").createOrReplaceTempView(
            "__wap_customer"
        )
        cfg = TableConfig(
            name="customer_wap",
            record_key=list(rec.key_cols),
            is_partitioned=True,
            partition_path="c_mktsegment",
        )
        tmp = artifact_time.lake("customer_wap_")
        t = CuratedTable(spark, tmp / "customer", cfg)
        t.bulk_insert(
            spark.sql(cdc.batch_sql(rec, 0, src="__wap_customer"))
        )
        b1 = spark.sql(cdc.batch_sql(rec, 1, src="__wap_customer"))

        def audit_ok(staged) -> bool:
            # the audit rule: no absurd balances in the would-be state
            bad = (
                t.read_staged(staged)
                .filter(F.abs(F.col("c_acctbal")) > F.lit(10**7))
                .count()
            )
            return bad == 0

        s1 = t.prepare_upsert(b1)
        assert audit_ok(s1)
        t.commit_staged(s1)
        poison = b1.withColumn(
            "c_acctbal", F.lit(10**9).cast("double")
        ).withColumn(
            "trx_seq", F.concat(F.lit("9"), F.substring("trx_seq", 2, 100))
        )
        s2 = t.prepare_upsert(poison)
        assert not audit_ok(s2)
        t.abort_staged(s2)
        return t

    t = artifact_time.get(spark, "q239_write_audit_publish", sf_dir, build)
    rec = cdc.RECIPES["customer"]
    return (
        t.read().select(*rec.columns, "trx_seq").orderBy("c_custkey")
    )


@gate(fn_sim.matryoshka_audit_sql("duckdb"), collect=True)
def q240_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval audit (similarity.
    matryoshka_audit_sql, Kusupati et al.): per anchor, exact top-1
    under full-dim cosine vs under the first 16 coordinates — the
    prefix-embedding serving decision, measured. One anchors × corpus
    scan computes both cosines; per-anchor agreement rows pin WHICH
    anchors flip."""
    v = _view(spark, sf_dir, "embeddings", "q240")
    return spark.sql(fn_sim.matryoshka_audit_sql("spark", table=v))


def _incremental_topk_oracle_sql() -> str:
    rec = cdc.RECIPES["orders"]
    return f"""
SELECT o_custkey, total_cents,
       CAST(row_number() OVER (ORDER BY total_cents DESC, o_custkey)
            AS BIGINT) AS rank
FROM (
  SELECT o_custkey,
         CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS total_cents
  FROM ({cdc.replay_sql(rec)}) s
  GROUP BY o_custkey
) agg
ORDER BY total_cents DESC, o_custkey
LIMIT 10"""


@gate(_incremental_topk_oracle_sql(), collect=True)
def q241_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained exact top-k leaderboard
    (incremental.maintain_topk): top-10 customers by exact cent-integer
    spend advanced across the CDC-replayed orders commits at O(changes)
    per round — stored 2k buffer ∪ touched groups re-aggregated via one
    group-pruned snapshot lookup, with the tuple-threshold refresh rule
    (deletions that sink the buffer boundary trigger ONE full re-rank;
    the fixture's delete batch exercises it). Final ranking must equal
    the full re-rank of the replay oracle."""
    table, _ = _replayed_orders(spark, sf_dir)
    spend = F.sum(
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    )
    top, _refreshes = fn_incr.maintain_topk(table, "o_custkey", spend, k=10)
    return top.select(
        "o_custkey",
        F.col("val").cast("long").alias("total_cents"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("rank")


@gate(fn_dedup.novelty_curve_sql("duckdb"), collect=True)
def q242_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty/saturation curve (dedup.novelty_curve_sql): per
    ingest batch, the fraction of its distinct shingles never seen in
    earlier batches — the Heaps-law crawl-ROI readout a curation
    pipeline checks BEFORE paying to dedup the next slice of a source.
    Two hash aggregates over the shared inverted index, no windows."""
    return spark.sql(
        fn_dedup.novelty_curve_sql(
            "spark", inv_tables=_inv_uncapped(spark, sf_dir)
        )
    )


@gate(fn_curation.augment_dropout_sql("duckdb"), collect=True)
def q243_augment_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-dropout augmentation (curation.
    augment_dropout_sql, reproducible EDA deletion): two variants per
    doc from pure expressions over the cached tokhash artifact, with an
    order-sensitive Σ h·rank checksum so the gate pins content AND
    token order of the augmented copies — auditable augmentation, the
    property RNG-based pipelines cannot give."""
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_curation.augment_dropout_sql("spark", th_table=th))


@gate(fn_sampling.exact_quota_sample_sql("duckdb"), collect=True)
def q244_exact_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sampling via largest-remainder
    apportionment (sampling.exact_quota_sample_sql): per-language
    allocations summing EXACTLY to floor(N·20%) — the eval-set /
    labeling-budget contract q36's binomial hash sampler can't give.
    All-integer apportionment ((n·num) DIV/MOD den — fractional parts
    never become floats); sampled rows picked by the deterministic
    portable-hash rank, so the sample itself is reproducible."""
    v = _view(spark, sf_dir, "documents", "q244")
    return spark.sql(fn_sampling.exact_quota_sample_sql("spark", table=v))


@gate(fn_feat.benford_audit_sql("duckdb"), collect=True)
def q245_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit forensics (features.benford_audit_sql): the
    fabricated-data / unit-mixup screen run per snapshot beside the
    PSI/KS drift gates. First digit from the cent-integer STRING (never
    per-row log10 — boundary ULPs could flip digits); expected shares
    are 9 lns frozen to DECIMAL; one map-side-combinable aggregate."""
    v = _view(spark, sf_dir, "orders", "q245")
    return spark.sql(fn_feat.benford_audit_sql("spark", orders=v))


@gate(fn_text.nb_kappa_sql("duckdb"), collect=True)
def q246_classifier_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa over the NB confusion matrix (text.nb_kappa_sql):
    chance-corrected agreement — the governance bar for letting a
    classifier ROUTE data, immune to the accuracy-flattering label
    skew. Integer diagonal/margin sums; the three ppm stats are the
    pinned floor(double/double) pattern. Shares q209's materialized
    model artifacts."""
    v = _view(spark, sf_dir, "documents", "q246")
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    model = fn_text.naive_bayes_model_views(spark, v, th, cache_key=sf_dir)
    return spark.sql(fn_text.nb_kappa_sql("spark", table=v, model=model))


@gate(fn_feat.snapshot_drift_sql("duckdb"), collect=True)
def q247_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract drift audit between snapshots (features.
    snapshot_drift_sql): per-column profile deltas — row count, null
    ppm, exact distinct cardinalities, mean cents — between the orders
    fixture's natural time split, each with floor-ppm drift magnitude.
    The contract-shift gate WAP (q239) runs beside the
    distribution-shape gates (PSI/KS/Benford); six map-side-combinable
    aggregates over two scans, six rows out at any corpus size."""
    v = _view(spark, sf_dir, "orders", "q247")
    return spark.sql(fn_feat.snapshot_drift_sql("spark", orders=v))


@gate(fn_dedup.rouge2_overlap_sql("duckdb"))
def q248_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 of each doc vs its same-source predecessor (dedup.
    rouge2_overlap_sql): clipped multiset-bigram precision/recall/F1 as
    floor-ppm ints — the carried-over-boilerplate measure and the
    near-dup threshold-tuning metric. Bigrams come off the shared
    cached tokhash view; pair generation is lag() over (source,
    doc_id) — O(N) pairs; at 100 TB pairs swap to the LSH candidate
    index, scoring statement unchanged.

    Probe bound (r8, 2.5x at 10x): pair count is exactly N (lag), so
    the ratio is the token-linear clipped-bigram join leaving the
    fixed floor — sublinear in data, nothing compounds."""
    v = _view(spark, sf_dir, "documents", "q248")
    bg = fn_dedup.bigram_rows_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(
        fn_dedup.rouge2_overlap_sql("spark", table=v, bg_table=bg)
    )


@gate(fn_text.heavy_hitters_sql("duckdb"), collect=True)
def q249_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-frequent heavy hitters over the token stream (text.
    heavy_hitters_sql): tokens above N/k total occurrences with ppm
    frequency and deterministic rank — the exact ground truth for the
    CM-sketch family (q173) and the boilerplate/stopword/BPE-vocab-floor
    signal. One explode + one map-side-combinable aggregate + broadcast
    scalar total; integer cross-compare threshold, output bounded at k
    rows by construction."""
    v = _view(spark, sf_dir, "documents", "q249")
    return spark.sql(fn_text.heavy_hitters_sql("spark", table=v))


def _deletion_vector_oracle_sql() -> str:
    cols = ", ".join(_ORDER_COLS)
    res_cols = cols.replace(
        "o_totalprice", "o_totalprice + 1.0 AS o_totalprice"
    )
    return f"""
SELECT {cols} FROM orders WHERE o_orderkey % 13 <> 3
UNION ALL
SELECT {res_cols} FROM orders WHERE o_orderkey % 26 = 3
ORDER BY o_orderkey"""


@gate(_deletion_vector_oracle_sql(), write=True)
def q253_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors through the real storage path (storage.py
    delete_keys — Delta Lake DV analog): orders is bulk-loaded
    partitioned by year, a key set is deleted WITHOUT rewriting any
    data file (O(deleted) sidecar + unchanged manifest data map), then
    an upsert re-inserts half the deleted keys at a bumped price — the
    rewrite gives those partitions new dirs, the old vectors go inert,
    and re-inserted keys resurrect while never-reinserted deleted keys
    stay gone (the rewrite merges the DV-applied existing state).
    Survivors must equal the oracle's complement-plus-reinserts."""
    def build():
        cfg = TableConfig(
            name="dv_orders",
            record_key=["o_orderkey"],
            source_ordering_field="trx_seq",
            is_partitioned=True,
            partition_path="o_year",
            deletion_vectors=True,
        )
        tmp = artifact_time.lake("dvtab_")
        table = CuratedTable(spark, tmp / "orders", cfg)
        base = (
            _t(spark, sf_dir, "orders")
            .withColumn("trx_seq", F.lit("00000000"))
            .withColumn("o_year", F.year("o_orderdate").cast("int"))
        )
        table.bulk_insert(base)
        table.delete_keys(
            base.filter(F.col("o_orderkey") % 13 == 3)
            .select("o_orderkey")
        )
        resurrect = (
            base.filter(F.col("o_orderkey") % 26 == 3)
            .withColumn("trx_seq", F.lit("00000001"))
            .withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
            )
        )
        table.upsert(resurrect)
        return table

    table = artifact_time.get(spark, "q253_deletion_vectors", sf_dir, build)
    return table.read().select(*_ORDER_COLS).orderBy("o_orderkey")


@gate(fn_text.padding_waste_sql("duckdb"), collect=True)
def q250_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length sizing curve (text.padding_waste_sql): per
    candidate max_len, docs-truncated / tokens-lost / padding-overhead
    ppm — pricing the max_len choice q83's packer takes as given. One
    token-length scan crossed with a 4-row VALUES list; word-count
    shape, linear at 100 TB."""
    v = _view(spark, sf_dir, "documents", "q250")
    return spark.sql(fn_text.padding_waste_sql("spark", table=v))


@gate(fn_dedup.dedup_threshold_curve_sql("duckdb"), collect=True)
def q251_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup operating curve (dedup.dedup_threshold_curve_sql): pair
    count + greedy-removal doc count at each candidate Jaccard
    threshold, off ONE inverted-index co-occurrence pass at the loosest
    threshold (the q19 index join paid once, thresholds as conditional
    aggregates over the small pairs relation). The corpus-specific
    answer to 'what does each threshold delete'."""
    v = _view(spark, sf_dir, "documents", "q251")
    inv = fn_dedup.inv_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(
        fn_dedup.dedup_threshold_curve_sql("spark", table=v, inv_tables=inv)
    )


@gate(fn_sim.embedding_quality_sql("duckdb"), collect=True)
def q252_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health audit (similarity.
    embedding_quality_sql): mean/variance per coordinate + a
    collapsed-dimension flag (variance under 1% of the cross-dim
    average) — the degeneracy screen run before trusting an embedding
    column for dedup/ANN. Exact DECIMAL(38,0) integer sums; one explode
    + one per-dim aggregate, DIM rows out at any corpus size."""
    v = _view(spark, sf_dir, "embeddings", "q252")
    iv = fn_sim.emb_rows_view(spark, v, cache_key=sf_dir)
    return spark.sql(fn_sim.embedding_quality_sql("spark", table=v,
                                                  iv_table=iv))


@gate(fn_comp.local_clustering_sql("duckdb"))
def q254_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient, top-100 (components.
    local_clustering — Watts-Strogatz lcc = triangles(u)/C(deg u, 2)):
    the per-node refinement of q178's global coefficient, the clique-
    embeddedness screen for link-farm / template-family curation. Spark
    closes triangles via sorted-adjacency array_intersect (no wedge row
    ever materialized — the oracle's wedge join builds 148M rows at
    sf0.1; this plan carries 1.2M edge rows with degeneracy-bounded
    arrays) and credits all three vertices per closed triangle. Shares
    the cached copurchase_edges build with q178/q191/q210."""
    li = _view(spark, sf_dir, "lineitem", "q254")
    return fn_comp.local_clustering(spark, li, cache_key=sf_dir)


@gate(fn_comp.khop_reachability_sql("duckdb"))
def q255_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS blast radius (components.khop_reachability,
    oracle khop_reachability_sql): cumulative reach counts at 1/2/3
    hops from the 8 highest-degree nodes. The Spark path materializes
    each hop's MIN-hop reach relation explicitly (every hop is
    referenced by the next frontier join AND the cumulative union, and
    Spark inlines CTEs — the one-statement form re-computes each prior
    hop twice, a 2^hops blowup); per hop: one broadcast join from the
    delta frontier + one MIN-hop aggregate, the checkpointed Pregel
    layout. Shares the cached sym/deg relations with q256."""
    li = _view(spark, sf_dir, "lineitem", "q255")
    return fn_comp.khop_reachability(spark, li, cache_key=sf_dir)


@gate(fn_comp.ra_link_prediction_sql("duckdb"))
def q256_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction (components.
    ra_link_prediction_sql, Zhou/Lu/Zhang 2009): per-seed top-10
    predicted links scored SUM(10^6 DIV deg(common_neighbor)) —
    integer-exact where Adamic-Adar's 1/ln(deg) is not. Candidates come
    from seeded two-hop traversal (neighbors' neighbors), never
    all-pairs; known links removed by NOT EXISTS anti-join; the top-k
    window partitions per seed over two-hop-ball-bounded sets. Shares
    the cached edge build."""
    li = _view(spark, sf_dir, "lineitem", "q256")
    sym, deg = fn_comp.copurchase_sym_deg(spark, li, cache_key=sf_dir)
    sym.createOrReplaceTempView("__q256_sym")
    deg.createOrReplaceTempView("__q256_deg")
    return spark.sql(
        fn_comp.ra_link_prediction_sql(
            "spark", sym_table="__q256_sym", deg_table="__q256_deg"))


def _bootstrap_oracle_sql() -> str:
    cols = ", ".join(_ORDER_COLS)
    upd_cols = cols.replace(
        "o_totalprice",
        "CASE WHEN o_orderkey % 13 = 3 AND o_orderstatus = 'F' "
        "THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice",
    )
    return f"""
SELECT {upd_cols},
       CASE WHEN o_orderkey % 13 = 3 AND o_orderstatus = 'F'
            THEN '00000001' ELSE '00000000' END AS trx_seq
FROM orders
WHERE NOT (o_orderkey % 17 = 5 AND o_orderstatus = 'O')
ORDER BY o_orderkey"""


@gate(_bootstrap_oracle_sql(), write=True)
def q257_bootstrap_onboarding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only bootstrap through the real storage path (storage.
    bootstrap — Hudi METADATA_ONLY bootstrap / Delta CONVERT analog):
    a pre-existing hive-partitioned parquet lake is onboarded as the
    table's FIRST commit with zero data I/O (the manifest references
    the source dirs by absolute path), then a price-bump upsert and a
    tombstone upsert run on top — the touched partitions materialize
    into table-owned dirs while the untouched ones stay external. The
    final state must equal the oracle's update-plus-complement replay,
    proving external and owned dirs merge identically."""
    def build():
        cfg = TableConfig(
            name="boot_orders",
            record_key=["o_orderkey"],
            source_ordering_field="trx_seq",
            is_partitioned=True,
            partition_path="o_orderstatus",
        )
        tmp = artifact_time.lake("boottab_")
        base = _t(spark, sf_dir, "orders").withColumn(
            "trx_seq", F.lit("00000000"))
        src = tmp / "legacy_lake"
        base.write.mode("overwrite").partitionBy(
            "o_orderstatus").parquet(str(src))
        table = CuratedTable(spark, tmp / "orders", cfg)
        table.bootstrap(str(src))
        upd = (
            base.filter((F.col("o_orderkey") % 13 == 3)
                        & (F.col("o_orderstatus") == "F"))
            .withColumn("trx_seq", F.lit("00000001"))
            .withColumn("o_totalprice",
                        F.col("o_totalprice") + F.lit(1.0))
            .withColumn("_hoodie_is_deleted", F.lit(False))
        )
        dele = (
            base.filter((F.col("o_orderkey") % 17 == 5)
                        & (F.col("o_orderstatus") == "O"))
            .withColumn("trx_seq", F.lit("00000001"))
            .withColumn("_hoodie_is_deleted", F.lit(True))
        )
        table.upsert(upd.unionByName(dele))
        return table

    table = artifact_time.get(spark, "q257_bootstrap_onboarding", sf_dir, build)
    return (table.read().select(*_ORDER_COLS, "trx_seq")
            .orderBy("o_orderkey"))


def _secondary_index_oracle_sql() -> str:
    cols = ", ".join(_ORDER_COLS)
    moved = cols.replace(
        "o_custkey",
        "CASE WHEN o_orderkey % 53 = 1 THEN o_custkey + 1000000 "
        "ELSE o_custkey END AS o_custkey",
    )
    return f"""
WITH final AS (
  SELECT {moved},
         CASE WHEN o_orderkey % 53 = 1
              THEN '00000001' ELSE '00000000' END AS trx_seq
  FROM orders
)
SELECT * FROM final
WHERE o_custkey % 211 = 7
ORDER BY o_orderkey"""


@gate(_secondary_index_oracle_sql(), write=True)
def q258_secondary_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index lookup through the real storage path (storage.
    lookup_by — Hudi 1.0 SECONDARY_INDEX analog): orders carries a
    value-bucketed index on o_custkey; an upsert moves a key slice to
    new custkeys (their old index entries go stale), then a probe over
    the FINAL state's custkey values runs through the index —
    bucket-pruned index read -> candidate dirs -> value semi-join. The
    result must equal the oracle's plain value filter over the replayed
    state exactly: the index prunes, never decides membership."""
    def build():
        cfg = TableConfig(
            name="sidx_orders",
            record_key=["o_orderkey"],
            source_ordering_field="trx_seq",
            is_partitioned=True,
            partition_path="o_orderstatus",
            secondary_index="o_custkey",
        )
        tmp = artifact_time.lake("sidxtab_")
        table = CuratedTable(spark, tmp / "orders", cfg)
        base = _t(spark, sf_dir, "orders").withColumn(
            "trx_seq", F.lit("00000000"))
        table.bulk_insert(base)
        table.upsert(
            base.filter(F.col("o_orderkey") % 53 == 1)
            .withColumn("o_custkey",
                        F.col("o_custkey") + F.lit(1_000_000))
            .withColumn("trx_seq", F.lit("00000001"))
        )
        return table

    table = artifact_time.get(spark, "q258_secondary_index", sf_dir, build)
    probe = (
        _t(spark, sf_dir, "orders")
        .select(
            F.when(F.col("o_orderkey") % 53 == 1,
                   F.col("o_custkey") + F.lit(1_000_000))
            .otherwise(F.col("o_custkey")).alias("o_custkey"))
        .where(F.col("o_custkey") % 211 == 7)
        .distinct()
    )
    return (table.lookup_by(probe)
            .select(*_ORDER_COLS, "trx_seq").orderBy("o_orderkey"))


def _merge_into_oracle_sql() -> str:
    cols = ", ".join(_ORDER_COLS)
    upd = cols.replace(
        "o_totalprice",
        "CASE WHEN o_orderkey % 23 = 3 AND o_orderkey % 19 <> 2 "
        "THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice",
    )
    ins = cols.replace("o_orderkey", "o_orderkey + 30000000 AS o_orderkey")
    return f"""
SELECT {upd},
       CASE WHEN o_orderkey % 23 = 3 AND o_orderkey % 19 <> 2
            THEN '00000001' ELSE '00000000' END AS trx_seq
FROM orders WHERE o_orderkey % 19 <> 2
UNION ALL
SELECT {ins}, '00000001' AS trx_seq
FROM orders WHERE o_orderkey % 97 = 0
ORDER BY o_orderkey"""


@gate(_merge_into_oracle_sql(), write=True)
def q259_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO through the real storage path (storage.merge_into —
    Spark SQL / Delta / Hudi MERGE analog): one source batch carries
    delete rows (op D), conditional updates (op U: SET o_totalprice =
    t.o_totalprice + s-side constant), and brand-new keys inserted by
    the NOT MATCHED clause — compiled into one keyed change batch by a
    single key join and applied by the partition-pruned upsert. Final
    state must equal the oracle's replay: complement of deletes, bumped
    updates, appended inserts."""
    def build():
        cfg = TableConfig(
            name="merge_orders",
            record_key=["o_orderkey"],
            source_ordering_field="trx_seq",
            is_partitioned=True,
            partition_path="o_orderstatus",
        )
        tmp = artifact_time.lake("mergetab_")
        table = CuratedTable(spark, tmp / "orders", cfg)
        base = _t(spark, sf_dir, "orders").withColumn(
            "trx_seq", F.lit("00000000"))
        table.bulk_insert(base)
        nxt = base.withColumn("trx_seq", F.lit("00000001"))
        src = (
            nxt.filter(F.col("o_orderkey") % 19 == 2)
            .withColumn("op", F.lit("D"))
            .unionByName(
                nxt.filter((F.col("o_orderkey") % 23 == 3)
                           & (F.col("o_orderkey") % 19 != 2))
                .withColumn("op", F.lit("U")))
            .unionByName(
                nxt.filter(F.col("o_orderkey") % 97 == 0)
                .withColumn("o_orderkey",
                            F.col("o_orderkey") + F.lit(30_000_000))
                .withColumn("op", F.lit("I")))
        )
        table.merge_into(
            src,
            when_matched_update={
                "o_totalprice": "t.o_totalprice + 100.0D"
            },
            when_matched_update_condition="s.op = 'U'",
            when_matched_delete_condition="s.op = 'D'",
            when_not_matched_insert=True,
        )
        return table

    table = artifact_time.get(spark, "q259_merge_into", sf_dir, build)
    return (table.read().select(*_ORDER_COLS, "trx_seq")
            .orderBy("o_orderkey"))


def _partition_evolution_oracle_sql() -> str:
    cols = ", ".join(_ORDER_COLS)
    upd = cols.replace(
        "o_totalprice",
        "CASE WHEN o_orderkey % 37 = 5 THEN o_totalprice + 2.0 "
        "WHEN o_orderkey % 31 = 4 THEN o_totalprice + 1.0 "
        "ELSE o_totalprice END AS o_totalprice",
    )
    return f"""
SELECT {upd},
       CASE WHEN o_orderkey % 37 = 5 THEN '00000002'
            WHEN o_orderkey % 31 = 4 THEN '00000001'
            ELSE '00000000' END AS trx_seq
FROM orders
ORDER BY o_orderkey"""


@gate(_partition_evolution_oracle_sql(), write=True)
def q260_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution through the real storage path (storage.
    evolve_partitioning — Iceberg partition-evolution analog via its
    rewrite path): orders is bulk-loaded partitioned by o_orderstatus,
    upserted, EVOLVED to an o_orderpriority layout (one clustering-
    class rewrite; the returned handle carries the new spec; the stale
    handle refuses writes), then upserted again under the new spec with
    partition pruning intact. Final state must equal the oracle's
    two-batch replay — the spec change must be invisible to content."""
    def build():
        cfg = TableConfig(
            name="evolve_orders",
            record_key=["o_orderkey"],
            source_ordering_field="trx_seq",
            is_partitioned=True,
            partition_path="o_orderstatus",
        )
        tmp = artifact_time.lake("evtab_")
        table = CuratedTable(spark, tmp / "orders", cfg)
        base = _t(spark, sf_dir, "orders").withColumn(
            "trx_seq", F.lit("00000000"))
        table.bulk_insert(base)
        table.upsert(
            base.filter(F.col("o_orderkey") % 31 == 4)
            .withColumn("o_totalprice",
                        F.col("o_totalprice") + F.lit(1.0))
            .withColumn("trx_seq", F.lit("00000001"))
        )
        table = table.evolve_partitioning("o_orderpriority")
        table.upsert(
            base.filter(F.col("o_orderkey") % 37 == 5)
            .withColumn("o_totalprice",
                        F.col("o_totalprice") + F.lit(2.0))
            .withColumn("trx_seq", F.lit("00000002"))
        )
        return table

    table = artifact_time.get(spark, "q260_partition_evolution", sf_dir, build)
    return (table.read().select(*_ORDER_COLS, "trx_seq")
            .orderBy("o_orderkey"))


@gate(fn_bpe.bpe_roundtrip_oracle_sql())
def q261_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detokenization-fidelity audit (bpe.bpe_roundtrip): decode the
    encoded corpus — symbols concatenated in position order, words
    joined in word order — and compare per-doc against the tokenizer's
    own normalization. BPE merges are concatenative, so every doc must
    round-trip exactly; q192's char-conservation check is blind to
    reordering, this is not. Shares q184's trained merges and the
    session-cached encoded symbol table with q192."""
    v = _view(spark, sf_dir, "documents", "q261")
    return fn_bpe.bpe_roundtrip(spark, v, _bpe_merges(spark, sf_dir),
                                cache_key=sf_dir)


@gate(fn_dedup.source_overlap_sql("duckdb"))
def q262_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle contamination matrix (dedup.
    source_overlap_sql): per source pair, shared distinct 3-token
    shingles + exact set Jaccard in ppm — the between-sources
    complement of per-doc dedup, run before trusting mixture weights
    (q122/q206 assume sources are independent evidence). Pair counts
    come from a shingle-grouped self-join (fan-out ≤ source count),
    never doc x doc; zero-overlap pairs surface explicitly. Shares the
    cached inverted index with q19/q166/q251; r9: the distinct
    (src, g) relation is a session artifact — the statement references
    it four times through inlined chains (guide §2.4)."""
    v = _view(spark, sf_dir, "documents", "q262")
    ssh = fn_dedup.source_shingles_view(
        spark, _t(spark, sf_dir, "documents"), v, cache_key=sf_dir
    )
    return spark.sql(fn_dedup.source_overlap_sql(
        "spark", table=v, inv_tables=_inv_uncapped(spark, sf_dir),
        ssh_table=ssh))


@gate(fn_comp.modularity_sql("duckdb"))
def q263_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity audit of q210's LPA communities (components.
    modularity_sql): per community, internal edges / degree mass /
    Q-contribution in ppm — the quality score that says whether the
    community structure fed to canonical-selection and leakage audits
    is real or random. Integer-exact via two-stage floor division
    (int64-safe to m ≈ 4.6e12 edges). The label relation is consumed
    three times, so the Spark path reads the session-cached
    materialized labels (components.lpa_labels) + the cached edge
    view; DuckDB pins the inline chain with MATERIALIZED."""
    li = _view(spark, sf_dir, "lineitem", "q263")
    edges = fn_comp.copurchase_edges(spark, li, cache_key=sf_dir)
    edges.createOrReplaceTempView("__q263_edges")
    labels = fn_comp.lpa_labels(spark, li, cache_key=sf_dir)
    labels.createOrReplaceTempView("__q263_lab")
    return spark.sql(fn_comp.modularity_sql(
        "spark", edges_table="__q263_edges", labels_table="__q263_lab"))


@gate(fn_comp.ppr_sql("duckdb"))
def q264_personalized_pagerank(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Personalized PageRank from the top-degree seed set (components.
    ppr_sql, Haveliwala 2002): seeded-importance, completing the seeded
    trio with k-hop reach (q255) and RA link prediction (q256). Sparse
    support (restart mass only at seeds; each round widens by one hop),
    fixed-point int64 with the loud a-priori overflow bound, every
    round CTE referenced once. Reads the cached sym/deg views; the
    seed set and degree bound (8 rows / 1 int, pure properties of the
    immutable cached deg artifact) are computed once per (session,
    corpus) and inlined as literals — as CTEs Spark re-ran the deg
    TopK sort per seeds reference (×4) and cross-joined a deg MAX
    into every round (r9, guide §2.4)."""
    li = _view(spark, sf_dir, "lineitem", "q264")
    sym, deg = fn_comp.copurchase_sym_deg(spark, li, cache_key=sf_dir)
    sym.createOrReplaceTempView("__q264_sym")
    deg.createOrReplaceTempView("__q264_deg")
    seed_vals, max_d = fn_comp.top_deg_meta(spark, li, cache_key=sf_dir)
    return spark.sql(fn_comp.ppr_sql(
        "spark", sym_table="__q264_sym", deg_table="__q264_deg",
        seed_values=seed_vals, max_d=max_d))


@gate(fn_feat.bootstrap_ci_sql("duckdb"))
def q265_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence band (features.bootstrap_ci_sql,
    Efron 1979 / Chamandy et al.'s Poisson-ized massive-data form):
    per order status, the mean order value in cents with the
    [2nd-smallest, 2nd-largest]-of-32-replicates band. Each replicate
    weights every row Poisson(1) drawn deterministically from the
    portable row hash under a per-replicate affine rehash — NO
    resampled rows; the replicates materialize as a broadcast 32×
    LATERAL row fan-out that stays inside whole-stage codegen and
    map-side-combines to |groups|·32 rows (the wide 2·32-aggregate
    one-pass form was measured at 13 s — its ~130-expression
    HashAggregate falls out of codegen — and rejected, see
    features.bootstrap_ci_sql). Integer floor-div means:
    bit-identical cross-engine."""
    v = _view(spark, sf_dir, "orders", "q265")
    return spark.sql(fn_feat.bootstrap_ci_sql("spark", orders=v))


def _bloom_lookup_oracle_sql() -> str:
    rec = cdc.RECIPES["orders"]
    cols = ", ".join(c for c in rec.columns if c != "o_totalprice")
    return f"""
SELECT {cols},
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
       trx_seq
FROM ({cdc.replay_sql(rec)}) s
WHERE o_orderkey % 89 = 2 ORDER BY o_orderkey"""


@gate(_bloom_lookup_oracle_sql())
def q266_bloom_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom key index point lookup (storage.bloom_lookup; Hudi BLOOM
    index / metadata-table bloom_filters analog — the DEFAULT index of
    the DeltaStreamer pipeline the reference launches,
    handler.py:139-152): one 16 KiB bloom of the record keys PER DATA
    DIR, built once per immutable dir (O(dirs written) maintenance,
    the column-stats cost model), probe keys tested driver-side
    against every dir's filter, only maybe-containing dirs scanned,
    exact semi-join clearing false positives. Complements the
    record-level index (q229): no index table, no per-key entries —
    probabilistic pruning at metadata-only cost. Shares q228/q229's
    replayed fixture; pruning selectivity, build-once immutability,
    no-false-negative exhaustive probe, backfill-on-existing-table,
    and GC of orphaned filters are pinned in tests/test_bloom_index.py."""
    t = _indexed_orders(spark, sf_dir)
    probe = spark.sql(
        "SELECT DISTINCT o_orderkey FROM __indexed_orders_src "
        "WHERE o_orderkey % 89 = 2"
    )
    rec = cdc.RECIPES["orders"]
    return (
        t.bloom_lookup(probe)
        .select(*rec.columns, "trx_seq")
        .withColumn(
            "o_totalprice",
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"),
        )
        .withColumnRenamed("o_totalprice", "total_cents")
        .drop("o_year")
        .orderBy("o_orderkey")
    )


@gate(fn_curation.pii_scan_sql("duckdb"))
def q267_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection inventory (curation.pii_scan_sql): per (source,
    pii type) document and match counts for email/phone/IPv4/SSN-shaped
    strings — the scrub-before-train decision input (detection side of
    q234's pseudonymization; the CCNet/RefinedWeb/Dolma release-gate
    scan). Patterns avoid every RE2-vs-java.util.regex divergence and
    carry zero backslashes; the synthetic corpus is deterministically
    augmented with PII-shaped tokens at fixed doc_id residues so the
    counts are non-trivial in both engines. One projection + 4
    map-side-combinable counts — word-count shape at 100 TB."""
    v = _view(spark, sf_dir, "documents", "q267")
    return spark.sql(fn_curation.pii_scan_sql("spark", table=v))


@gate(fn_bpe.vocab_coverage_oracle_sql())
def q268_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary sizing curve (bpe.vocab_coverage): token-
    stream coverage ppm of the top-V symbols for V in 8/16/32/64 —
    the measurement behind vocab-size selection, completing the
    tokenizer family (train q184, encode q192, round-trip q261,
    chunk q185) and the sizing pair with q250's context-length curve.
    Shares the trained merges AND the session-cached encoded symbol
    table with q192/q261; marginal cost one (symbol, count) aggregate
    + a |symbols|-row rank. Oracle unrolls train+encode inline."""
    v = _view(spark, sf_dir, "documents", "q268")
    return fn_bpe.vocab_coverage(
        spark, v, _bpe_merges(spark, sf_dir), cache_key=sf_dir
    )


@gate(fn_sim.ivfpq_sql("duckdb"))
def q269_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN index (similarity.ivfpq — Jégou et al.
    TPAMI 2011 §V, the FAISS IndexIVFPQ billion-scale layout): coarse
    inverted lists + residual product quantization + per-list query
    distance tables + list-pruned ADC top-k. Completes the ANN family
    axis product: pruning (LSH q23 / IVF q34) x compression (SQ8 q125
    / PQ q171) -> the composite production layout. Integer-exact,
    every small join side hint-broadcast; the Spark path materializes
    the train-side artifacts once per corpus (they ARE the persisted
    index). The view name carries the corpus identity because those
    artifacts cache per (session, view)."""
    v = _view(spark, sf_dir, "embeddings",
              f"q269_{abs(hash(sf_dir)) % 10**6}")
    return fn_sim.ivfpq(spark, v)


def _row_lineage_oracle_sql() -> str:
    rec = cdc.RECIPES["orders"]
    keys = ", ".join(rec.key_cols)
    union = " UNION ALL ".join(
        f"(SELECT *, {b} AS __b FROM ({cdc.batch_sql(rec, b)}) s{b})"
        for b in range(cdc.N_BATCHES)
    )
    return f"""
SELECT {keys}, trx_seq, CAST(__b + 1 AS BIGINT) AS commit_version FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {keys} ORDER BY trx_seq DESC) AS rn
  FROM ({union}) u
) r WHERE rn = 1 AND NOT _hoodie_is_deleted
ORDER BY {keys}"""


@gate(_row_lineage_oracle_sql(), write=True)
def q270_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row lineage (storage row_lineage; Iceberg v3 row-lineage /
    Hudi _hoodie_commit_time analog): every write stamps the rows it
    CHANGES with the committing version in a hidden _commit_version
    metadata column; table services (compaction, clustering,
    delete_where survivors, partition evolution) rewrite rows WITHOUT
    re-stamping, so the column answers "which commit last modified
    this row" through any layout change — the per-row provenance that
    incremental consumers and audits key on. Gate: full CDC replay on
    a lineage-enabled table; every surviving row's stamp must equal
    1 + the batch index of its winning trx_seq (bulk commits v1, each
    upsert v(b+1)) — the oracle derives exactly that from the
    batch-stamped replay. Rewrite-survival and patched-keys-only
    re-stamping pinned in tests/test_row_lineage.py."""
    from aws_dms_to_hudi_spark.storage import LINEAGE_COL

    t = artifact_time.get(
        spark, "q270_row_lineage", sf_dir,
        lambda: _replay(spark, sf_dir, "orders", name="orders_lineage",
                        row_lineage=True)[0])
    return (
        t.read(include_lineage=True)
        .select(
            "o_orderkey", "trx_seq",
            F.col(LINEAGE_COL).alias("commit_version"),
        )
        .orderBy("o_orderkey")
    )


def _governed_read_oracle_sql() -> str:
    from aws_dms_to_hudi_spark.functions import portable as P

    rec = cdc.RECIPES["orders"]

    def pseud(key: str) -> str:
        h1 = P.rolling_hash(f"concat('s1:', CAST({key} AS VARCHAR))",
                            "duckdb")
        h2 = P.rolling_hash(f"concat('s2:', CAST({key} AS VARCHAR))",
                            "duckdb")
        return (f"concat(CAST({h1} AS VARCHAR), '-', "
                f"CAST({h2} AS VARCHAR))")

    return f"""
SELECT o_orderkey,
       {pseud('o_custkey')} AS o_custkey,
       o_orderstatus,
       CAST(NULL AS DOUBLE) AS o_totalprice,
       concat(substring(CAST(o_orderpriority AS VARCHAR), 1, 3), '***')
         AS o_orderpriority,
       trx_seq
FROM ({cdc.replay_sql(rec)}) s
WHERE o_orderdate >= TIMESTAMP '{_CS_LO}'
  AND o_orderdate < TIMESTAMP '{_CS_HI}'
ORDER BY o_orderkey"""


@gate(_governed_read_oracle_sql())
def q271_governed_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governed read (storage.read_governed; LakeFormation analog —
    the reference provisions LakeFormation data-access roles over this
    exact curated lake, templates/aws-dms-to-hudi.yaml:103-115,
    585-586,653-678): a row filter + column masks enforced INSIDE the
    engine read path. The row filter shares the column-stats pruning
    machinery (this gate's 6-month window scans 1 of 7 file groups of
    the shared q228/q229 fixture before the residual predicate), and
    the masks are hash (portable keyed surrogate — joins keep working,
    q234's invariant), typed-NULL redaction, and partial prefix. The
    oracle applies the identical filter + mask expressions to the
    replay; mask/filter-overlap rejection is validated in
    tests/test_governed_read.py."""
    import datetime as _dt

    t = _indexed_orders(spark, sf_dir)
    lo = _dt.datetime.fromisoformat(_CS_LO)
    hi = _dt.datetime.fromisoformat(_CS_HI)
    got = t.read_governed({
        "row_filter": [("o_orderdate", ">=", lo), ("o_orderdate", "<", hi)],
        "masks": {
            "o_custkey": "hash",
            "o_totalprice": "null",
            "o_orderpriority": ("partial", 3),
        },
    })
    return (
        got.select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderpriority", "trx_seq",
        )
        .orderBy("o_orderkey")
    )


@gate(fn_sk.hll_sql("duckdb"))
def q272_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers per order-year merged by register-max into
    the full-period sketch (sketches.hll_sql; Flajolet et al. 2007) —
    the mergeable distinct counter: O(64) state per group through every
    partial aggregate, and the merged 'ALL' row is computed from the
    per-year REGISTERS (never the data). Complements q87 (Spark's
    built-in Datasketches hll_sketch_agg, whose binary sketch is
    implementation-specific so only its accuracy band is gated): here
    the register VALUES, the all-integer estimator, and the build-time-
    frozen linear-counting table are all engine-portable, so the entire
    sketch state is hash-verified against the oracle — the merge
    algebra itself is under test, not just the estimate."""
    o = _view(spark, sf_dir, "orders", "q272")
    return spark.sql(fn_sk.hll_sql("spark", orders=o))


@gate(fn_sim.kcenter_sql("duckdb"))
def q273_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embedding corpus
    (similarity.kcenter; Gonzalez 1985 / Sener & Savarese 2018) —
    diversity-aware data pruning: k passes, each an N x 1 distance
    update against a single broadcast center plus a bounded top-1.
    Per-round min-dist relations are materialized temp views (Spark
    would inline the doubly-referenced CTE chain into a 2^k plan);
    fixed-order DOUBLE folds keep every distance bit-identical to the
    oracle's single-statement CTE chain."""
    _t(spark, sf_dir, "embeddings").createOrReplaceTempView("__q273_emb")
    return fn_sim.kcenter(spark, "__q273_emb", cache_key=sf_dir)


@gate(fn_curation.stratified_sample_sql("duckdb"))
def q274_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample with exact largest-remainder
    allocation across language strata, filled by ascending uniformized
    doc_id hash (curation.stratified_sample_sql) — the reproducible
    WHICH-rows primitive under the q82/q122 mixture weights."""
    d = _view(spark, sf_dir, "documents", "q274")
    return spark.sql(fn_curation.stratified_sample_sql("spark", table=d))


@gate(fn_curation.dsir_sql("duckdb"))
def q275_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (curation.dsir_sql; Xie et al. NeurIPS
    2023): hashed-unigram feature log-ratios between the English target
    slice and the raw corpus, frozen per bucket into DECIMAL (the q200
    rule), summed exactly per doc, bounded top-k out. Shares the
    tokenize-once token-hash artifact."""
    d = _view(spark, sf_dir, "documents", "q275")
    th = fn_dedup.tokhash_view(
        spark, _t(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    return spark.sql(fn_curation.dsir_sql("spark", table=d, th_table=th))


@gate(fn_comp.hyperanf_sql("duckdb"))
def q276_hyperanf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF neighborhood-function estimation (components.hyperanf;
    Boldi/Rosa/Vigna WWW 2011): per-node HLL registers of the k-hop
    ball advanced by register-max merges along edges — O(64) state per
    node, one edge-linear join per round, where exact k-hop sets
    explode. Composes the q272 portable-HLL estimator with the shared
    co-purchase graph artifacts; the gate hash-verifies the register
    algebra after two rounds plus integer ball-size estimates against
    exact audits for the top-degree hubs."""
    li = _view(spark, sf_dir, "lineitem", "q276")
    return fn_comp.hyperanf(spark, li, cache_key=sf_dir)


@gate(cdc.replay_sql(cdc.RECIPES["orders"]), write=True)
def q277_hilbert_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 clustering, Hilbert layout (storage._with_hilbert_key; the
    Databricks liquid-clustering / stricter-locality alternative to
    q94's Z-ORDER): rewrite the replayed orders table Hilbert-sorted on
    (o_orderdate, o_custkey) and prove the rewrite is content-neutral —
    the clustered read must still hash-match the replay oracle. The
    curve itself is verified in tests/test_bucketing.py (bijection +
    Manhattan-adjacency over the full 2^16-cell LUT, both-dimension
    file pruning); the 2^16-cell cell->position mapping is built
    vectorized on the driver and broadcast — constant ~1 MB at any
    corpus scale, never an unrolled 3^bits expression tree (measured:
    that form stalls Catalyst analysis outright)."""
    rec = cdc.RECIPES["orders"]
    table = _clustered_orders(spark, sf_dir, "q277_hilbert_cluster",
                              hilbert_by=["o_orderdate", "o_custkey"])
    return table.read().select(*rec.columns, "trx_seq")


@gate(fn_sk.theta_anotb_sql("duckdb"))
def q278_theta_anotb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch A-not-B difference cardinalities (sketches.
    theta_anotb_sql; DataSketches AnotB) — completes the bottom-k
    set-expression algebra next to q174's union/intersection: exclusive
    membership counted inside the same KMV_K-sample, all-integer
    estimator, O(k) state; "keys in the change stream but not the
    dimension" without materializing either set."""
    o = _view(spark, sf_dir, "orders", "q278")
    c = _view(spark, sf_dir, "customer", "q278")
    return spark.sql(
        fn_sk.theta_anotb_sql("spark", orders=o, customer=c))


# Gate-number order; sorted() is stable, so the two q12 gates keep their
# definition order. bench.py runs the suite in this order.
GATES: dict[str, Gate] = dict(sorted(
    _DECLARED.items(), key=lambda kv: int(kv[0].split("_", 1)[0][1:])))
WRITE_GATES = frozenset(n for n, g in GATES.items() if g.write)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver's CORRECTNESS gate records only the FIRST 50 entries of
    # this dict, so the ordering rotates: entries that have never
    # appeared in ANY committed CORRECTNESS_r*.json lead (in GATES
    # order), everything already driver-checked moves behind.
    # Since r5 the rotation is SELF-MAINTAINING — computed from the
    # committed result files at call time, exactly the way the tripwire
    # (tests/test_entry_contract.py::test_driver_window_rotation)
    # computes its expectation — so a new round's window advances the
    # moment the previous round's CORRECTNESS file lands, and the
    # stale-window failure mode (one full round of wasted driver slots)
    # is structurally gone. A new @gate joins the never-verified lead in
    # numeric order automatically. The full set is unchanged — pytest
    # and bench run everything.
    seen: set[str] = set()
    for p in sorted(Path(__file__).resolve().parent.glob(
            "CORRECTNESS_r*.json")):
        try:
            import json as _json

            seen |= set(_json.loads(p.read_text()))
        except Exception:  # unreadable round file: ignore, stay stale
            continue
    lead = [n for n in GATES if n not in seen]
    rest = [n for n in GATES if n in seen]
    return {n: GATES[n].fn for n in lead + rest}


def oracle_sql() -> dict[str, str]:
    return {n: g.oracle for n, g in GATES.items()}
