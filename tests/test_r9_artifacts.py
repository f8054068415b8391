"""r9 internals: the new session artifacts must equal their inline
derivations row-for-row, and the literal-seed helpers must match the
SQL rules they replace.

The oracle contract suite already pins every GATE's output; these pin
the intermediate relations the r9 dialect splits introduced, so a
future edit to an artifact builder can't drift from the inline text it
stands in for.
"""

from pyspark.sql import functions as F

from aws_dms_to_hudi_spark.functions import components as fn_comp
from aws_dms_to_hudi_spark.functions import dedup as fn_dedup
from aws_dms_to_hudi_spark.functions import similarity as fn_sim

import __spark_entry__ as entry


def _same(a, b):
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_sig_view_matches_inline_aggregate(spark, sf_smoke):
    docs = entry._t(spark, sf_smoke, "documents")
    inv_name, _ = fn_dedup.inv_view(spark, docs, cache_key=sf_smoke)
    sig = fn_dedup.sig_view(spark, docs, cache_key=sf_smoke)
    sig_cols = ", ".join(
        f"MIN(({a} * g + {b}) % {fn_dedup.P.HASH_P}) AS m{j}"
        for j, (a, b) in enumerate(fn_dedup.MINHASH_AB)
    )
    inline = spark.sql(
        f"SELECT doc_id, {sig_cols} FROM {inv_name} GROUP BY doc_id"
    )
    _same(spark.table(sig), inline)


def test_source_shingles_view_matches_inline(spark, sf_smoke):
    docs = entry._t(spark, sf_smoke, "documents")
    docs.createOrReplaceTempView("__t_r9_docs")
    ssh = fn_dedup.source_shingles_view(
        spark, docs, "__t_r9_docs", cache_key=sf_smoke
    )
    inv_name, _ = fn_dedup.inv_view(spark, docs, cache_key=sf_smoke,
                                    max_df=None)
    inline = spark.sql(
        f"SELECT DISTINCT d.source AS src, v.g FROM {inv_name} v "
        "JOIN __t_r9_docs d ON d.doc_id = v.doc_id"
    )
    _same(spark.table(ssh), inline)


def test_emb_rows_view_matches_inline_explode(spark, sf_smoke):
    emb = entry._t(spark, sf_smoke, "embeddings")
    emb.createOrReplaceTempView("__t_r9_emb")
    view = fn_sim.emb_rows_view(spark, "__t_r9_emb", cache_key=sf_smoke)
    inline = spark.sql(fn_sim._emb_rows("spark", "__t_r9_emb"))
    _same(spark.table(view), inline)


def test_top_deg_meta_matches_sql_rule(spark, sf_smoke):
    li = entry._view(spark, sf_smoke, "lineitem", "r9meta")
    seeds, max_d = fn_comp.top_deg_meta(spark, li, cache_key=sf_smoke)
    _sym, deg = fn_comp.copurchase_sym_deg(spark, li, cache_key=sf_smoke)
    rows = (deg.orderBy(F.col("d").desc(), F.col("node").asc())
            .limit(fn_comp.KHOP_SEEDS).collect())
    assert seeds == [r["node"] for r in rows]
    assert max_d == deg.agg(F.max("d")).first()[0]
    # PPR with literal seeds == PPR with the CTE-derived seed text
    _sym.createOrReplaceTempView("__r9_sym")
    deg.createOrReplaceTempView("__r9_deg")
    a = spark.sql(fn_comp.ppr_sql(
        "spark", sym_table="__r9_sym", deg_table="__r9_deg"))
    b = spark.sql(fn_comp.ppr_sql(
        "spark", sym_table="__r9_sym", deg_table="__r9_deg",
        seed_values=seeds, max_d=max_d))
    _same(a, b)


def test_seeded_graph_ops_on_empty_lineitem(spark, sf_smoke):
    """An empty degree relation gives no seeds and max degree 0, and the
    two seeded operators built on them (q255 k-hop, q264 PPR) return no
    rows, as their oracle texts do."""
    li = "__r9_empty_lineitem"
    entry._t(spark, sf_smoke, "lineitem").limit(0).createOrReplaceTempView(li)
    assert fn_comp.top_deg_meta(spark, li) == ([], 0)
    assert fn_comp.khop_reachability(spark, li).count() == 0
    sym, deg = fn_comp.copurchase_sym_deg(spark, li)
    sym.createOrReplaceTempView("__r9_empty_sym")
    deg.createOrReplaceTempView("__r9_empty_deg")
    ppr = spark.sql(fn_comp.ppr_sql(
        "spark", sym_table="__r9_empty_sym", deg_table="__r9_empty_deg",
        seed_values=[], max_d=0))
    assert ppr.count() == 0


def test_weighted_percentile_spark_dialect_matches_shared_text(
    spark, sf_smoke
):
    li = entry._view(spark, sf_smoke, "lineitem", "r9wp")
    _same(
        spark.sql(entry._weighted_percentile_sql(li)),
        spark.sql(entry._weighted_percentile_spark_sql(li)),
    )


def test_heavy_hitters_drops_null_tokens(spark):
    toks = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] + [(None,)] * 8, "token string"
    )
    out = fn_sk_heavy(toks)
    rows = {r["token"]: r["freq"] for r in out.collect()}
    assert None not in rows
    assert rows.get("a") == 5


def fn_sk_heavy(toks):
    from aws_dms_to_hudi_spark.functions import sketches as fn_sk

    return fn_sk.heavy_hitters(toks, k=2)
