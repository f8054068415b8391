"""Text analysis operators over the ``documents`` table.

Beyond-reference training-data extensions (SURVEY.md §7 M6): token
counting, quality scoring, language ID, document fingerprinting. Each
operator is a plain DataFrame transform built from generated portable
expressions (:mod:`.portable`), so:

- everything runs JVM-side under whole-stage codegen (``F.expr`` over
  builtin higher-order functions — no Python UDFs in the hot path);
- the matching ``*_oracle_sql`` emits the *same* arithmetic in DuckDB
  dialect, making every operator value-hash checkable.

Scale notes (100 TB): all ops here are embarrassingly parallel per-row
projections — no shuffle at all until the final small aggregate, which
does a map-side partial agg first. Filters/projections push down to the
parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import artifact_time
from . import portable as P

# Marker-token language model: a deterministic, vocabulary-derived n-gram
# heuristic (real pipelines use fastText/CLD3; the *engine* contract is the
# distributed scoring plumbing, which is identical). Score(lang) = number
# of occurrences of that language's marker tokens; prediction = argmax,
# ties broken by lang code order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("key", "value", "window"),
    "en": ("the", "a", "of"),
    "es": ("order", "part", "line"),
    "fr": ("join", "merge", "group"),
    "zh": ("spark", "data", "stream"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and")


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------
# expression builders (dialect-parametric — single source of truth)
# ---------------------------------------------------------------------------


def token_count_expr(col: str, dialect: str) -> str:
    return P.size(P.tokens(col, dialect), dialect)


# BPE-ish subword pattern: letter runs, digit runs, single other-symbols.
# Written without backslash classes so the literal is identical in Java
# regex (Spark) and RE2 (DuckDB) string syntax.
_SUBTOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def subtoken_count_expr(col: str, dialect: str) -> str:
    """BPE-style unit count: how many subword pieces a byte-pair-ish
    tokenizer would start from (letter runs / digit runs / symbols)."""
    norm = P.norm_text(col, dialect)
    # group 0 = whole match in both engines (Spark defaults to group 1
    # and errors when the pattern has no capture group)
    return P.size(f"regexp_extract_all({norm}, '{_SUBTOKEN_RE}', 0)", dialect)


def punct_ratio_expr(col: str, dialect: str) -> str:
    """Share of non-alphanumeric, non-space characters."""
    norm = P.norm_text(col, dialect)
    stripped_re = "[^a-z0-9 ]"
    if dialect == "duckdb":
        stripped = f"regexp_replace({norm}, '{stripped_re}', '', 'g')"
    else:
        stripped = f"regexp_replace({norm}, '{stripped_re}', '')"
    return (
        f"CAST(length({norm}) - length({stripped}) AS DOUBLE)"
        f" / CAST(length({norm}) AS DOUBLE)"
    )


def stop_ratio_expr(col: str, dialect: str) -> str:
    toks = P.tokens(col, dialect)
    stops = P.filter_(toks, "t", f"t IN ({_sql_list(STOPWORDS)})", dialect)
    return (
        f"CAST({P.size(stops, dialect)} AS DOUBLE)"
        f" / CAST({P.size(toks, dialect)} AS DOUBLE)"
    )


def quality_expr(col: str, dialect: str) -> str:
    """Heuristic quality score in [0,1]: reward length (saturating at 100
    tokens), penalize stopword share. Fixed evaluation order keeps the
    DOUBLE result bit-identical across engines."""
    ntok = f"CAST({token_count_expr(col, dialect)} AS DOUBLE)"
    return (
        f"round(least({ntok} / 100.0, 1.0) * 0.5"
        f" + (1.0 - {stop_ratio_expr(col, dialect)}) * 0.5, 6)"
    )


def lang_score_expr(col: str, lang: str, dialect: str) -> str:
    toks = P.tokens(col, dialect)
    markers = _sql_list(LANG_MARKERS[lang])
    return P.size(P.filter_(toks, "t", f"t IN ({markers})", dialect), dialect)


def pred_lang_expr(col: str, dialect: str) -> str:
    """argmax over language scores; ordered comparison chain breaks ties
    by lang-code order deterministically in both engines."""
    langs = sorted(LANG_MARKERS)
    expr = f"'{langs[-1]}'"
    # build right-to-left: lang_i wins if its score >= every later lang's
    for i in range(len(langs) - 2, -1, -1):
        li = langs[i]
        conds = " AND ".join(
            f"{lang_score_expr(col, li, dialect)} >= "
            f"{lang_score_expr(col, lj, dialect)}"
            for lj in langs[i + 1 :]
        )
        expr = f"CASE WHEN {conds} THEN '{li}' ELSE {expr} END"
    return expr


def fingerprint_expr(col: str, dialect: str) -> str:
    """Content fingerprint: rolling hash of the whitespace-normalized,
    lowercased text (rolling/polynomial construction so it extends to
    windowed Rabin-Karp chunk fingerprints)."""
    return P.rolling_hash(P.norm_text(col, dialect), dialect)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document token/subtoken counts, stopword & punctuation
    ratios, quality score — all pure projections (no shuffle)."""
    d = "spark"
    return docs.select(
        "doc_id",
        F.expr(token_count_expr("text", d)).cast("long").alias("n_tokens"),
        F.expr(subtoken_count_expr("text", d)).cast("long").alias("n_subtokens"),
        F.expr(f"round({stop_ratio_expr('text', d)}, 6)").alias("stop_ratio"),
        F.expr(f"round({punct_ratio_expr('text', d)}, 6)").alias("punct_ratio"),
        F.expr(quality_expr("text", d)).alias("quality"),
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID confusion matrix: labeled lang × predicted lang.

    The per-doc prediction is a pure projection (parallel, no shuffle);
    the confusion matrix is a tiny 2-key aggregate with automatic
    map-side partial aggregation.
    """
    d = "spark"
    return (
        docs.select("lang", F.expr(pred_lang_expr("text", d)).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Per-document content fingerprint (exact-dup canonical form)."""
    return docs.select(
        "doc_id",
        F.expr(fingerprint_expr("text", "spark")).alias("fingerprint"),
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy on the content fingerprint: one row
    per distinct content, canonical doc = min doc_id, plus copy count.

    Scale: groupBy on a 64-bit int key — a single hash-partitioned
    shuffle with map-side combine; no text comparison after hashing
    (the fixture has no hash collisions; a production run would verify
    in-group equality with one extra first(text) compare).
    """
    return (
        fingerprints(docs)
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("canonical_id")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (same generated expressions, duckdb dialect)
# ---------------------------------------------------------------------------


def text_stats_oracle_sql() -> str:
    d = "duckdb"
    return (
        "SELECT doc_id, "
        f"CAST({token_count_expr('text', d)} AS BIGINT) AS n_tokens, "
        f"CAST({subtoken_count_expr('text', d)} AS BIGINT) AS n_subtokens, "
        f"round({stop_ratio_expr('text', d)}, 6) AS stop_ratio, "
        f"round({punct_ratio_expr('text', d)}, 6) AS punct_ratio, "
        f"{quality_expr('text', d)} AS quality "
        "FROM documents"
    )


def lang_confusion_oracle_sql() -> str:
    d = "duckdb"
    return (
        f"SELECT lang, {pred_lang_expr('text', d)} AS pred_lang, "
        "COUNT(*) AS n FROM documents "
        "GROUP BY 1, 2 ORDER BY lang, pred_lang"
    )


def exact_dedup_oracle_sql() -> str:
    d = "duckdb"
    return (
        f"SELECT {fingerprint_expr('text', d)} AS fingerprint, "
        "MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies "
        "FROM documents GROUP BY 1 ORDER BY canonical_id"
    )


def token_doc_freq(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """Corpus document-frequency of tokens (the DF half of TF-IDF and
    the standard stopword/vocab-pruning signal).

    Explode is the scale-correct shape: one shuffle keyed by token with
    map-side partial distinct; no driver-side vocabulary. Ties at the
    cutoff break by token so the LIMIT is deterministic.
    """
    return (
        docs.select(
            "doc_id",
            F.explode(F.expr(P.tokens("text", "spark"))).alias("token"),
        )
        .groupBy("token")
        .agg(F.count_distinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(top_n)
    )


def token_doc_freq_oracle_sql(top_n: int = 20) -> str:
    d = "duckdb"
    return (
        "SELECT token, COUNT(DISTINCT doc_id) AS df FROM ("
        f"  SELECT doc_id, unnest({P.tokens('text', d)}) AS token"
        "  FROM documents) AS exploded "
        f"GROUP BY token ORDER BY df DESC, token LIMIT {top_n}"
    )


def group_zscore(docs: DataFrame) -> DataFrame:
    """Per-language z-score of document length via grouped-map
    ``applyInPandas`` — the custom-operator escape hatch exercised as a
    first-class op (Arrow batches, one pandas call per group).

    A z-score is SQL-expressible (window mean/std) — that is exactly why
    it makes a good applyInPandas conformance op: the oracle checks the
    UDF path against relational semantics to 6dp. Per-group state must
    fit one task (fine here; a 100 TB pipeline keys groups finer or
    falls back to the window form).
    """
    import pandas as pd  # noqa: F401 — imported for the worker closure

    def z(pdf):
        std = pdf["n_chars"].std(ddof=1)
        mean = pdf["n_chars"].mean()
        out = pdf[["lang", "doc_id"]].copy()
        out["z_len"] = ((pdf["n_chars"] - mean) / std).round(6)
        return out

    return (
        docs.select("lang", "doc_id", "n_chars")
        .groupBy("lang")
        .applyInPandas(z, "lang string, doc_id long, z_len double")
        .orderBy("doc_id")
    )


def group_zscore_oracle_sql() -> str:
    return (
        "SELECT lang, doc_id, "
        "round((n_chars - AVG(n_chars) OVER w) / STDDEV_SAMP(n_chars) OVER w, 6)"
        " AS z_len "
        "FROM documents WINDOW w AS (PARTITION BY lang) ORDER BY doc_id"
    )


def mad_outliers_sql(dialect: str, table: str = "documents") -> str:
    """Robust per-language length outliers via median absolute
    deviation — the outlier rule that, unlike the z-score (q38), a
    single extreme doc cannot drag (both median and MAD have a 50%
    breakdown point). Flag: |x - median| > 3·MAD.

    Determinism: n_chars is integer, so every median / MAD lands on
    the exact 0.5 grid (even-count interpolation halves an integer) —
    representable exactly in doubles on both engines; outputs are
    doubled into BIGINTs so the hash compare never touches a float.
    Plan shape: two per-language exact medians (each a sort-based agg
    partitioned by the group key — scale-safe, since medians are per
    GROUP, never global) plus one broadcast join back."""
    return f"""
WITH med AS (
  SELECT lang, median(n_chars) AS med FROM {table} GROUP BY lang
),
dev AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         ABS(d.n_chars - m.med) AS adev
  FROM {table} d JOIN med m ON d.lang = m.lang
),
mad AS (SELECT lang, median(adev) AS mad FROM dev GROUP BY lang)
SELECT v.doc_id, v.lang,
       CAST(v.n_chars AS BIGINT) AS n_chars,
       CAST(2 * v.adev AS BIGINT) AS adev_x2,
       CAST(2 * a.mad AS BIGINT) AS mad_x2,
       CAST(CASE WHEN v.adev > 3 * a.mad THEN 1 ELSE 0 END AS BIGINT)
         AS is_outlier
FROM dev v JOIN mad a ON v.lang = a.lang
ORDER BY v.doc_id"""


_NB_MODEL_SQL = """
WITH ltc AS (
  SELECT d.lang, t.h, CAST(SUM(t.occ) AS BIGINT) AS c
  FROM {dtc} t JOIN (SELECT doc_id, lang FROM {table}) d
    ON t.doc_id = d.doc_id
  GROUP BY d.lang, t.h
),
ltot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM ltc GROUP BY lang),
vv AS (SELECT COUNT(DISTINCT h) AS v FROM {dtc}),
nn AS (SELECT COUNT(*) AS n FROM {table}),
prior AS (SELECT lang, COUNT(*) AS nd FROM {table} GROUP BY lang)
"""

def naive_bayes_model_views(
    spark, table: str, th_table: str, cache_key: str
) -> dict[str, str]:
    """Materialize the NB model artifacts ONCE per (session, corpus):
    ``dtc`` (doc-token counts), ``lp`` (per-(lang, token) smoothed
    log-probs), ``lz`` (per-lang zero-count log-prob + prior). Spark
    inlines multi-referenced CTEs — without this, the token aggregation
    re-derives 3-4x inside one statement (measured: the inlined plan
    re-ran dtc four times). At 100 TB these are exactly the artifacts
    you'd persist alongside the tokhash index and share across
    classifier runs."""
    from .dedup import materialize

    dtc = artifact_time.view(
        spark, "nb_langid_dtc", cache_key, lambda: materialize(spark.sql(
            f"SELECT doc_id, h, CAST(COUNT(*) AS BIGINT) AS occ "
            f"FROM {th_table} GROUP BY doc_id, h")))
    model = _NB_MODEL_SQL.format(dtc=dtc, table=table)
    lp, lz = artifact_time.view(
        spark, "nb_langid_model", cache_key, lambda: (
            materialize(spark.sql(model + """
SELECT l.lang, l.h,
       CAST(ln(CAST(l.c + 1 AS DOUBLE) / CAST(t.tot + vv.v AS DOUBLE))
            AS DECIMAL(18,12)) AS lnp
FROM ltc l JOIN ltot t ON l.lang = t.lang CROSS JOIN vv""")),
            materialize(spark.sql(model + """
SELECT t.lang,
       CAST(ln(CAST(1 AS DOUBLE) / CAST(t.tot + vv.v AS DOUBLE))
            AS DECIMAL(18,12)) AS lnz,
       CAST(ln(CAST(p.nd AS DOUBLE) / CAST(nn.n AS DOUBLE))
            AS DECIMAL(18,12)) AS lnprior
FROM ltot t JOIN prior p ON t.lang = p.lang CROSS JOIN vv CROSS JOIN nn"""))))
    return {"dtc": dtc, "lp": lp, "lz": lz}


def naive_bayes_confusion_sql(
    dialect: str,
    table: str = "documents",
    th_table: str | None = None,
    model: dict[str, str] | None = None,
) -> str:
    """Multinomial Naive Bayes language classifier, trained AND applied
    relationally in one statement — the classic "ML as relational
    algebra" pipeline stage (classifier-based quality/language routing
    over a corpus, cf. the fastText classifiers in CCNet/RefinedWeb
    pipelines; the *engine* contract is the distributed train+score
    plumbing). Train: per-(lang, token) add-one-smoothed multinomial
    log-likelihoods and per-lang document priors. Score: per doc and
    lang, ln P(lang) + Σ_tokens occ · ln P(token|lang); predict the
    argmax; return the lang × lang confusion matrix.

    Determinism across engines (the q200 rules): every ln() is
    evaluated once per (lang, token) TYPE — never per occurrence — and
    frozen into DECIMAL(18,12); per-document scoring is then exact
    integer × decimal arithmetic, order-independent on any layout; the
    argmax tie-breaks by lang code.

    The unseen-token correction keeps scoring join-sparse: a doc's
    score against a lang needs ln P for tokens the lang never saw, so
    score = n_tok·lnz(lang) + Σ_{seen pairs} occ·(lnp − lnz) + prior,
    where lnz is the lang's smoothed zero-count log-prob — only
    (doc, token) ⋈ (lang, token) matches are ever materialized.

    Plan shape at 100 TB: two map-side-combinable hash aggregates over
    the token index (doc-token counts, lang-token counts); one shuffle
    join on token hash between them (the model relation broadcasts when
    the vocab is small); a bounded |langs|-fan-out dense scoring join;
    one per-doc argmax shuffle; final lang × lang aggregate is tiny.
    """
    head = _nb_head(dialect, table, th_table, model)
    return _nb_chain_tail(head) + """,
pred AS (
  SELECT doc_id, lang AS pred_lang
  FROM (
    SELECT doc_id, lang, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM score
  ) AS ranked WHERE rn = 1
)
SELECT d.lang AS actual_lang, p.pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM docs d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY d.lang, p.pred_lang
ORDER BY actual_lang, pred_lang"""


def _nb_chain_tail(head: str) -> str:
    """Shared NB WITH-chain through the per-(doc, lang) ``score`` CTE —
    the common prefix of the confusion (q209) and calibration (q225)
    finalizers."""
    return head + """
  -- per (doc, token) TYPE, not per occurrence — the model join's input
  -- shrinks from corpus tokens to distinct-per-doc tokens. occ fits
  -- DECIMAL(8,0), so occ·(lnp−lnz) is an EXACT decimal product
  -- (precision 28 < 38) on both engines — never the precision-loss
  -- rounding path (the q200 hazard)
  -- lp is |langs|x|vocab| and lz |langs| rows — broadcast both (hint
  -- is a comment to DuckDB): without it the CBO shuffle-joins dtc on
  -- the token hash, whose distinct-key count is the VOCAB size — a
  -- few dozen keys at any corpus scale, i.e. a skew-bound shuffle
  -- that probed 5.1x at 10x data; broadcast keeps scoring map-side
  SELECT /*+ BROADCAST(l, z) */ t.doc_id, l.lang,
         SUM(CAST(t.occ AS DECIMAL(8,0)) * (l.lnp - z.lnz)) AS s
  FROM dtc t
  JOIN lp l ON t.h = l.h
  JOIN lz z ON l.lang = z.lang
  GROUP BY t.doc_id, l.lang
),
score AS (
  -- n_tok fits DECIMAL(10,0), so n_tok·lnz is an EXACT decimal product
  -- (precision 29 < 38) on both engines — no precision-loss path
  SELECT dl.doc_id, z.lang,
         COALESCE(sp.s, 0) + CAST(dl.n_tok AS DECIMAL(10,0)) * z.lnz
           + z.lnprior AS score
  FROM dlen dl
  CROSS JOIN lz z
  LEFT JOIN sparse sp ON sp.doc_id = dl.doc_id AND sp.lang = z.lang
)"""


def _nb_head(
    dialect: str, table: str, th_table: str | None,
    model: dict[str, str] | None,
) -> str:
    from .dedup import th_cte

    if model is not None:
        return f"""
WITH docs AS (SELECT doc_id, lang FROM {table}),
dtc AS (SELECT doc_id, h, occ FROM {model['dtc']}),
dlen AS (
  SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_tok FROM dtc GROUP BY doc_id
),
lp AS (SELECT lang, h, lnp FROM {model['lp']}),
lz AS (SELECT lang, lnz, lnprior FROM {model['lz']}),
sparse AS ("""
    return f"""
WITH {th_cte(dialect, table, th_table)},
docs AS (SELECT doc_id, lang FROM {table}),
dtc AS (
  SELECT doc_id, h, CAST(COUNT(*) AS BIGINT) AS occ
  FROM th GROUP BY doc_id, h
),
dlen AS (
  SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_tok FROM dtc GROUP BY doc_id
),
ltc AS (
  SELECT d.lang, t.h, CAST(SUM(t.occ) AS BIGINT) AS c
  FROM dtc t JOIN docs d ON t.doc_id = d.doc_id
  GROUP BY d.lang, t.h
),
ltot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM ltc GROUP BY lang),
vv AS (SELECT COUNT(DISTINCT h) AS v FROM th),
nn AS (SELECT COUNT(*) AS n FROM docs),
prior AS (SELECT lang, COUNT(*) AS nd FROM docs GROUP BY lang),
lp AS (
  SELECT l.lang, l.h,
         CAST(ln(CAST(l.c + 1 AS DOUBLE) / CAST(t.tot + vv.v AS DOUBLE))
              AS DECIMAL(18,12)) AS lnp
  FROM ltc l JOIN ltot t ON l.lang = t.lang CROSS JOIN vv
),
lz AS (
  SELECT t.lang,
         CAST(ln(CAST(1 AS DOUBLE) / CAST(t.tot + vv.v AS DOUBLE))
              AS DECIMAL(18,12)) AS lnz,
         CAST(ln(CAST(p.nd AS DOUBLE) / CAST(nn.n AS DOUBLE))
              AS DECIMAL(18,12)) AS lnprior
  FROM ltot t JOIN prior p ON t.lang = p.lang CROSS JOIN vv CROSS JOIN nn
),
sparse AS ("""


def naive_bayes_calibration_sql(
    dialect: str,
    table: str = "documents",
    th_table: str | None = None,
    model: dict[str, str] | None = None,
) -> str:
    """Margin-based confidence calibration of the q209 NB classifier —
    the model-quality readout a selection pipeline needs before
    trusting classifier routing: bucket predictions by their score
    MARGIN (top-1 minus top-2 log-likelihood, an exact DECIMAL — no
    exp()/softmax, so no libm anywhere) into fixed nat-bands and
    report per-band accuracy. A well-behaved classifier's accuracy
    rises monotonically with margin; a flat curve means the scores
    carry no confidence signal.

    Plan: the shared NB score chain + ONE per-doc window (row_number +
    lead over the same order, so top-1 and its runner-up cannot
    disagree on ties) + a tiny fixed-band aggregate. Accuracy is
    floor-pinned ppm (the engine-native cast rules differ)."""
    head = _nb_head(dialect, table, th_table, model)
    return _nb_chain_tail(head) + """,
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER w AS rn,
         lead(score) OVER w AS next_score
  FROM score
  WINDOW w AS (PARTITION BY doc_id ORDER BY score DESC, lang)
),
predm AS (
  SELECT doc_id, lang AS pred_lang, score - next_score AS margin
  FROM ranked WHERE rn = 1
),
joined AS (
  SELECT p.margin,
         CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END AS ok
  FROM predm p JOIN docs d ON p.doc_id = d.doc_id
),
banded AS (
  SELECT CASE WHEN margin < 1 THEN '0_lt1'
              WHEN margin < 2 THEN '1_lt2'
              WHEN margin < 4 THEN '2_lt4'
              WHEN margin < 8 THEN '3_lt8'
              ELSE '4_ge8' END AS margin_band, ok
  FROM joined
)
SELECT margin_band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ok) AS BIGINT) AS n_correct,
       CAST(floor(1000000.0 * SUM(ok) / COUNT(*)) AS BIGINT)
         AS accuracy_ppm
FROM banded
GROUP BY margin_band
ORDER BY margin_band"""


def nb_kappa_sql(
    dialect: str,
    table: str = "documents",
    th_table: str | None = None,
    model: dict[str, str] | None = None,
) -> str:
    """Cohen's kappa over the NB classifier's confusion matrix (q246) —
    chance-corrected agreement, the governance metric that decides
    whether a classifier is good enough to ROUTE data (raw accuracy
    flatters under skewed label priors; kappa = (p_o − p_e)/(1 − p_e)
    discounts exactly the agreement the priors give for free).

    Integer-exact until the last step: diagonal and margin products are
    BIGINT sums over the (langs × langs) confusion relation; the three
    reported statistics are floor(double/double) ppm — the pinned
    identical-IEEE-division pattern (numerators ≤ N²·10⁶ ≈ 2.5e13 at
    sf0.1, exact in doubles; the DECIMAL(38) upgrade applies past
    N ≈ 9·10⁷ docs, same envelope note as chi²). Cost: the confusion
    matrix itself (one classifier pass) + aggregates over its ≤|langs|²
    rows."""
    cm = naive_bayes_confusion_sql(dialect, table, th_table, model)
    return f"""
WITH cm AS ({cm}),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cm),
diag AS (
  SELECT CAST(SUM(CASE WHEN actual_lang = pred_lang THEN n_docs
                       ELSE 0 END) AS BIGINT) AS d
  FROM cm
),
rmarg AS (SELECT actual_lang AS l, SUM(n_docs) AS rn FROM cm GROUP BY 1),
cmarg AS (SELECT pred_lang AS l, SUM(n_docs) AS cn FROM cm GROUP BY 1),
pe AS (
  SELECT CAST(SUM(r.rn * c.cn) AS BIGINT) AS pn
  FROM rmarg r JOIN cmarg c ON r.l = c.l
)
SELECT t.n AS n_docs,
       d.d AS n_agree,
       CAST(floor(d.d * 1000000 / t.n) AS BIGINT) AS po_ppm,
       CAST(floor(pe.pn * 1000000 / (t.n * t.n)) AS BIGINT) AS pe_ppm,
       CAST(floor((d.d * t.n - pe.pn) * 1000000 / (t.n * t.n - pe.pn))
            AS BIGINT) AS kappa_ppm
FROM tot t CROSS JOIN diag d CROSS JOIN pe"""


HH_K = 2000  # phi = 1/K: report tokens above 0.05% of the token stream


def heavy_hitters_sql(dialect: str, table: str = "documents",
                      k: int = HH_K) -> str:
    """Exact phi-frequent heavy hitters over the token stream (q249):
    every token whose TOTAL occurrence count exceeds N/k of the corpus
    token stream, with frequency in ppm and a deterministic rank — the
    exact ground truth the bounded-memory sketches (Misra–Gries /
    SpaceSaving, and this repo's CM sketch q173) approximate, and the
    pipeline signal for boilerplate phrases, stopword lists, and
    tokenizer-vocabulary floors (a BPE vocab should cover every heavy
    hitter; q184's trainer asserts against exactly this relation).

    Distinct from q35 (document frequency, top-n by docs containing):
    heavy hitters weigh REPEATS — navigation boilerplate repeated 50x
    per page dominates this relation long before it tops doc-frequency.

    Shape: one explode + one map-side-combinable (token, count)
    aggregate + a broadcast scalar total; threshold selection is an
    integer cross-compare (cnt·k > N, no division). Output is bounded
    by construction: at most k rows can exceed N/k. Linear at 100 TB
    — the same single-shuffle profile as a word count."""
    unnest = ("unnest" if dialect == "duckdb" else "explode")
    return f"""
WITH toks AS (
  SELECT {unnest}({P.tokens('text', dialect)}) AS token FROM {table}
),
cnt AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
tot AS (SELECT SUM(c) AS n FROM cnt)
SELECT c.token,
       CAST(c.c AS BIGINT) AS occurrences,
       CAST(floor(c.c * 1000000 / t.n) AS BIGINT) AS freq_ppm,
       CAST(row_number() OVER (ORDER BY c.c DESC, c.token) AS BIGINT)
         AS hh_rank
FROM cnt c CROSS JOIN tot t
WHERE c.c * {k} > t.n
ORDER BY hh_rank"""


PACK_LENGTHS = (128, 256, 512, 1024)  # candidate context lengths


def padding_waste_sql(dialect: str, table: str = "documents",
                      lengths: tuple = PACK_LENGTHS) -> str:
    """Context-length sizing curve (q250): for each candidate sequence
    length L, the three costs a training-batch builder trades off —
    share of docs truncated, share of corpus tokens lost to
    truncation, and padding overhead when each doc pads to L — the
    measurement behind "pick max_len = 512": too short loses text,
    too long burns compute on pad tokens. Complements q83's packer
    (which packs a CHOSEN length) by pricing the choice itself.

    One token-length scan crossed with the 4-row lengths VALUES list;
    all three ppm stats are integer-sum ratios under the pinned
    floor(double/double) edge. Scale: a projection + one 4-group
    aggregate — word-count shape, linear at 100 TB."""
    card = "len" if dialect == "duckdb" else "size"
    vals = ", ".join(f"({n})" for n in lengths)
    return f"""
WITH lens AS (
  SELECT CAST({card}({P.tokens('text', dialect)}) AS BIGINT) AS n
  FROM {table}
),
ls(l) AS (VALUES {vals})
SELECT CAST(ls.l AS BIGINT) AS max_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(floor(SUM(CASE WHEN lens.n > ls.l THEN 1 ELSE 0 END)
                  * 1000000 / COUNT(*)) AS BIGINT) AS docs_truncated_ppm,
       CAST(floor((SUM(lens.n) - SUM(LEAST(lens.n, ls.l)))
                  * 1000000 / SUM(lens.n)) AS BIGINT) AS tokens_lost_ppm,
       CAST(floor(SUM(ls.l - LEAST(lens.n, ls.l))
                  * 1000000 / (COUNT(*) * ls.l)) AS BIGINT)
         AS padding_ppm
FROM lens CROSS JOIN ls
GROUP BY ls.l
ORDER BY max_len"""
