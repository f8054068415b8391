"""Near-duplicate detection over the ``documents`` table.

Beyond-reference training-data extensions (SURVEY.md §7 M6):

- exact dedup            — :func:`text.exact_dedup_groups` (hash-groupBy)
- n-gram Jaccard pairs   — inverted-index self-join (no cross join)
- MinHash + LSH pairs    — signature → band → bucket-join → exact verify
- SimHash pairs          — bitwise fingerprint → chunk-join → hamming

Each operator is ONE dialect-parametric SQL text (built from
:mod:`.portable` shims) executed by ``spark.sql`` on the engine side and
by DuckDB on the oracle side — parity is by construction, and Catalyst
still plans/optimizes the Spark run (these are declarative relational
programs, not UDFs).

Scale design (100 TB corpus):

- **fully relational shingling**: tokens are exploded to rows and each
  token/shingle is hashed exactly once as a row value. The array-lambda
  alternative re-evaluates the token-split expression per element
  (lambda bodies are not CSE'd), going quadratic on long docs — rows
  keep every stage O(total tokens) and let Tungsten codegen the hash;
- **no O(n²) stage anywhere** — candidate generation is always an
  equi-join on a hash key (shingle hash / band key / simhash chunk), so
  it shuffles on that key and only co-bucketed docs ever meet;
- **skew**: a stop-shingle appearing in millions of docs would explode
  the inverted-index join; ``max_df`` drops shingles above a document-
  frequency cap before the join (the standard stop-shingle cut, applied
  identically in engine and oracle);
- **verify stage is cheap**: exact Jaccard / hamming runs only on
  candidate pairs, via int-keyed joins (no array columns in any join or
  DISTINCT key);
- map-side partial aggregation applies to every GROUP BY here.
"""

from __future__ import annotations

import random
import re

from .. import artifact_time
from . import portable as P


# MinHash permutation constants: h_j(x) = (a_j * x + b_j) mod P.
# Fixed seed ⇒ stable across runs/engines; baked once at import.
# a_j, b_j < 2^31 and shingle hash < 2^31 ⇒ products < 2^62: exact in
# int64 for both engines (DuckDB would raise on overflow; none occurs).
_rng = random.Random(42)
NUM_HASHES = 16
MINHASH_AB: list[tuple[int, int]] = [
    (_rng.randrange(1, P.HASH_P), _rng.randrange(0, P.HASH_P))
    for _ in range(NUM_HASHES)
]
NUM_BANDS = 4          # 4 bands × 4 rows: P(candidate) = 1-(1-j^4)^4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS

# 3-token shingle hash = (h1*SH_A + h2*SH_B + h3) mod P, each term
# reduced mod P before summing (sum < 3·2^31 — exact in int64).
SH_A = 1_000_003
SH_B = 8_191

SIMHASH_BITS = 30      # fits int64 with headroom; 3 chunks × 10 bits
SIMHASH_CHUNKS = 3     # hamming ≤ 2 ⇒ pigeonhole: ≥1 chunk equal
CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS

# Default stop-shingle cut for the pair-producing Jaccard family
# (q19/q20/q77/q166/q175/q238/q251): shingles appearing in more than
# this many documents are dropped from the inverted index BEFORE any
# candidate join, on engine and oracle alike. Why this must be the
# default and not an option: the co-occurrence self-join's cost is
# Σ_g df(g)², and a corpus's most common shingles have df ∝ N — so the
# uncapped join grows superlinearly on ANY corpus (the r7 10× probe
# read 3.4–3.7× across the family; the synthetic corpus's ~40-word
# vocabulary makes every chance shingle ubiquitous, the adversarial
# case). With a fixed absolute cap the candidate volume is bounded by
# Σ_g min(df, cap)² ≤ cap · |inv| — LINEAR in corpus size, while a
# shingle shared by an actual near-dup pair has df ≈ the clone-family
# size (2–10), far below any sane cap, so true-pair recall is
# unaffected. This is the standard production cut (stop-shingle /
# document-frequency pruning in every large-scale near-dup system);
# a shingle present in >128 documents identifies no pair. The
# already-corpus-linear audits (q242 novelty, q262 source overlap)
# keep the uncapped index — their semantics count ALL shingles and
# their joins never fan out by df².
DEDUP_MAX_DF = 128


def _explode(dialect: str, select: str, src: str, arr: str, alias: str) -> str:
    """Dialect shim for exploding a list column into rows."""
    if dialect == "spark":
        return (
            f"SELECT {select}, {alias} FROM {src} "
            f"LATERAL VIEW explode({arr}) _x AS {alias}"
        )
    return f"SELECT {select}, unnest({arr}) AS {alias} FROM {src}"


def _posexplode(
    dialect: str, select: str, src: str, arr: str, pos: str, val: str
) -> str:
    """Explode with 0-based position (Spark posexplode /
    DuckDB unnest + generate_subscripts, which zip element-wise)."""
    if dialect == "spark":
        return (
            f"SELECT {select}, {pos}, {val} FROM {src} "
            f"LATERAL VIEW posexplode({arr}) _pe AS {pos}, {val}"
        )
    return (
        f"SELECT {select}, generate_subscripts({arr}, 1) - 1 AS {pos}, "
        f"unnest({arr}) AS {val} FROM {src}"
    )


def _xor(a: str, b: str, dialect: str) -> str:
    return f"({a} ^ {b})" if dialect == "spark" else f"xor({a}, {b})"


def th_cte(dialect: str, table: str, th_table: str | None = None) -> str:
    """CTE chain ending in ``th(doc_id, pos, h)`` — one polynomial
    rolling hash per token, position-ordered. The shared prefix of every
    shingle-based operator (Jaccard / MinHash / SimHash /
    decontamination). ``th_table`` (Spark side) swaps the derivation for
    the precomputed :func:`tokhash_view` relation."""
    if th_table is not None:
        return f"th AS (SELECT doc_id, pos, h FROM {th_table})"
    tok_rows = _posexplode(dialect, "doc_id", "toked", "toks", "pos", "tok")
    return f"""
toked AS (SELECT doc_id, {P.tokens('text', dialect)} AS toks FROM {table}),
tokrows AS ({tok_rows}),
th AS (SELECT doc_id, pos, {P.rolling_hash('tok', dialect)} AS h FROM tokrows)"""


def shingle_cte(
    dialect: str, table: str, n: int, th_table: str | None = None
) -> str:
    """CTE chain ending in ``sh(doc_id, g)`` — the DISTINCT set of
    ``n``-token shingle hashes per doc, built from ``th`` with a Horner
    combine over ``lead()``: g = ((h*M + h₊₁)*M + h₊₂)... mod P. One
    window + one hash-distinct — linear in corpus size, and every term
    stays < 2^52 (P·SH_A) so int64 never overflows. Docs with < n tokens get all
    NULL combines (lead past the end) and thus an empty shingle set —
    identical to the string-shingle definition."""
    g = "h"
    for k in range(1, n):
        g = f"(({g}) * {SH_A} + lead(h, {k}) OVER w) % {P.HASH_P}"
    return f"""
{th_cte(dialect, table, th_table)},
shrows AS (
  SELECT doc_id, {g} AS g FROM th
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (SELECT DISTINCT doc_id, g FROM shrows WHERE g IS NOT NULL)"""


def _inv_cte(
    dialect: str,
    table: str,
    max_df: int | None,
    th_table: str | None = None,
    inv_tables: tuple[str, str] | None = None,
) -> str:
    """CTE chain producing the inverted index ``inv(doc_id, g)`` (one row
    per distinct 3-token-shingle hash per doc) and ``sizes(doc_id, n)``.

    Pipeline: tokenize → posexplode → per-token rolling hash (each token
    hashed once, as a row) → shingle hash from 3 consecutive token
    hashes via window lead() → DISTINCT. Every stage is a projection,
    window, or hash aggregate — linear in corpus size.

    ``th_table`` (Spark side only) swaps the tokenize+hash prefix for a
    precomputed ``(doc_id, pos, h)`` view (see :func:`tokhash_view`):
    SQL higher-order lambdas are interpreted per element (no whole-stage
    codegen), so the per-character hash fold dominated these queries —
    the Arrow path computes the identical hash vectorized, and every
    relational stage after ``th`` is untouched.

    ``max_df`` defaults to :data:`DEDUP_MAX_DF` for the pair-producing
    family (see that constant's rationale); the corpus-linear audits
    (novelty, source overlap) pass ``None`` explicitly for the uncapped
    index. Both variants are cached independently (``max_df`` is in the
    cache key) and share the one tokhash pass.
    """
    if inv_tables is not None:
        inv_t, sizes_t = inv_tables
        return (
            f"inv AS (SELECT doc_id, g FROM {inv_t}),\n"
            f"sizes AS (SELECT doc_id, n FROM {sizes_t})"
        )
    g = (
        f"((h * {SH_A}) % {P.HASH_P}"
        f" + (lead(h, 1) OVER w * {SH_B}) % {P.HASH_P}"
        f" + lead(h, 2) OVER w) % {P.HASH_P}"
    )
    th = th_cte(dialect, table, th_table)
    base = f"""
{th},
shrows AS (
  SELECT doc_id, {g} AS g FROM th
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
inv0 AS (SELECT DISTINCT doc_id, g FROM shrows WHERE g IS NOT NULL)"""
    if max_df is None:
        inv = "inv AS (SELECT * FROM inv0)"
    else:
        inv = f"""df AS (SELECT g, COUNT(*) AS df FROM inv0 GROUP BY g),
inv AS (SELECT i.doc_id, i.g FROM inv0 i JOIN df ON i.g = df.g
        WHERE df.df <= {max_df})"""
    return (
        base
        + f",\n{inv},\n"
        + "sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id)"
    )


_JACCARD = (
    "round(CAST(co.inter AS DOUBLE)"
    " / CAST(sa.n + sb.n - co.inter AS DOUBLE), 6)"
)
_JACCARD_PRED = (
    "CAST(co.inter AS DOUBLE) / CAST(sa.n + sb.n - co.inter AS DOUBLE)"
)


def _pairs_select(threshold: float) -> str:
    """Shared tail: co(doc_a, doc_b, inter) × sizes → thresholded pairs."""
    return f"""
SELECT co.doc_a, co.doc_b, {_JACCARD} AS jaccard
FROM co
JOIN sizes sa ON co.doc_a = sa.doc_id
JOIN sizes sb ON co.doc_b = sb.doc_id
WHERE {_JACCARD_PRED} >= {threshold}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_sql(
    dialect: str,
    table: str = "documents",
    threshold: float = 0.5,
    max_df: int | None = DEDUP_MAX_DF,
    th_table: str | None = None,
    inv_tables: tuple[str, str] | None = None,
    subset: str | None = None,
) -> str:
    """Pairs (doc_a < doc_b) with 3-gram-shingle Jaccard ≥ threshold.

    Inverted-index formulation: equi-join the index on the shingle hash
    (only docs sharing a shingle meet), count co-occurrences, then
    |A∩B| / (|A| + |B| - |A∩B|). Integer counts divide in DOUBLE, so
    the value is bit-identical across engines.

    ``subset`` (a predicate over ``doc_id``) restricts the PAIRED docs
    AFTER the index (and its df cap) is built over the full ``table`` —
    matching the Spark side's filter-the-cached-views pattern
    (q166): with a df cap, building the index over the subset instead
    would change which shingles survive and break cross-side parity.
    A doc's own shingle set and size are subset-independent, so only
    the co CTE needs the filter."""
    sub = ""
    if subset is not None:
        sub = (f" WHERE ({subset.replace('doc_id', 'a.doc_id')})"
               f" AND ({subset.replace('doc_id', 'b.doc_id')})")
    return f"""
WITH {_inv_cte(dialect, table, max_df, th_table, inv_tables)},
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id{sub}
  GROUP BY a.doc_id, b.doc_id
)
{_pairs_select(threshold)}"""


PREFIX_JACCARD_T = 0.8


def prefix_jaccard_sql(
    dialect: str,
    table: str = "documents",
    threshold: float = PREFIX_JACCARD_T,
    th_table: str | None = None,
    inv_tables: tuple[str, str] | None = None,
    subset: str | None = None,
) -> str:
    """Jaccard-similar pairs via PREFIX FILTERING (Bayardo/Ma/Srikant
    "Scaling Up All Pairs Similarity Search", WWW'07; the candidate
    principle behind PPJoin): under any fixed global ordering of
    shingles, a pair with Jaccard ≥ t must share an element inside
    each doc's first ``|d| - ceil(t·|d|) + 1`` shingles (if all of A's
    matches hid outside its prefix, the intersection could reach at
    most ``ceil(t·|A|) - 1 < t·|A| ≤ |A∩B|`` — contradiction). So the
    candidate join runs on the PREFIX index only — ordered rarest-first
    (ascending document frequency), the prefix index is a small, low-df
    slice of the full inverted index, and candidate volume collapses
    versus the all-shingles self-join (q19) while the output stays
    IDENTICAL: exact intersection counting and the threshold test run
    on the full index for candidates only.

    This is the 100 TB upgrade path for the Jaccard family AT HIGH
    THRESHOLDS: the full self-join's cost is Σ df(g)² over every
    shingle; the prefix join's is Σ df(g)² over the ``(1-t)·|d|+1``
    lowest-df shingles only, which shrinks with ``1-t`` — at t=0.8 the
    prefix is the rarest fifth of each doc (df mostly 1-2, candidates
    ≈ true near-dups), while at t≤0.5 the prefix is half the index and
    the plain direct-count join (q19) is the better plan. The verify
    stage counts intersections with the SAME direct-count shape as
    q19 but over the index restricted to candidate docs, then keeps
    candidate pairs — so it collapses with candidate sparsity and is
    never asymptotically costlier than the plain join even when every
    doc has a near-dup. (The r4 scale probe caught both design
    mistakes this paragraph encodes: t=0.5 probed 13.4× wall at 10×
    data, and a per-pair doc-expansion verify added a ×|doc| blowup —
    the probe is what set this default and this verify shape.) The
    oracle is the plain q19 formulation at the same threshold —
    equality is the theorem.

    ``subset`` (a predicate over ``doc_id``) restricts the corpus when
    the caller gates over a deterministic slice; it filters the cached
    inverted-index views directly, so no second index is built.

    Probe bound (r8, 10× ratio 3.9× on the DEDUP_MAX_DF-capped index):
    the prefix slice keeps each doc's RAREST shingles, and on this
    synthetic ~40-word-vocabulary corpus even the rarest shingles'
    document frequency scales with N until the cap bites — so prefix-
    candidate volume grows toward (but never past) the same cap·|inv|
    linear ceiling as the plain join. The ratio is that linear term;
    absolute cost stays below the uncapped plain join at every scale,
    and on a real Zipfian corpus the prefix df stays O(1) and the gap
    widens (Bayardo et al.'s own result — MEASURED here, r9:
    ``tools/zipf_probe.py`` generates a deterministic Zipf corpus at
    1×/10× and runs this exact candidate body; mean prefix-shingle df
    reads 1.0 at BOTH scales and spurious candidate pairs 0 at both —
    ``tools/zipf_probe_results.json``). Nothing compounds at 100×:
    the bound is linear by the cap regardless of vocabulary."""
    base = _prefix_base_cte(dialect, table, th_table, inv_tables, subset)
    return (
        f"WITH {base},\n"
        f"cand AS ({prefix_jaccard_cand_body(threshold)})"
        + prefix_jaccard_verify_sql("cand", threshold)
    )


def _prefix_base_cte(
    dialect: str,
    table: str,
    th_table: str | None,
    inv_tables: tuple[str, str] | None,
    subset: str | None,
) -> str:
    if subset is not None and inv_tables is not None:
        inv_t, sizes_t = inv_tables
        return (
            f"inv AS (SELECT doc_id, g FROM {inv_t} WHERE {subset}),\n"
            f"sizes AS (SELECT doc_id, n FROM {sizes_t} WHERE {subset})"
        )
    return _inv_cte(dialect, table, DEDUP_MAX_DF, th_table, inv_tables)


def prefix_jaccard_cand_body(threshold: float) -> str:
    """The candidate derivation (df rank -> prefix index -> self-join),
    as a SELECT body expecting ``inv``/``sizes`` CTEs in scope. Split
    out so the Spark side can MATERIALIZE the (small) candidate pair
    set once — the verify text references it three times, and Spark's
    CTE inlining would otherwise re-run this whole derivation each
    time (measured 3.2s -> 1.2s at sf0.1)."""
    return f"""
  WITH gdf AS (SELECT g, COUNT(*) AS df FROM inv GROUP BY g),
  ranked AS (
    SELECT i.doc_id, i.g,
           row_number() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.g)
             AS rk
    FROM inv i JOIN gdf d ON i.g = d.g
  ),
  pinv AS (
    SELECT r.doc_id, r.g
    FROM ranked r JOIN sizes s ON r.doc_id = s.doc_id
    WHERE r.rk <= s.n - CAST(ceil({threshold} * s.n) AS BIGINT) + 1
  )
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pinv a JOIN pinv b ON a.g = b.g AND a.doc_id < b.doc_id
"""


def prefix_jaccard_verify_sql(cand: str, threshold: float) -> str:
    """Verify tail over a candidate relation: restrict the index to
    candidate docs, direct-count intersections (the q19 shape — never
    asymptotically costlier than the plain join), keep candidate
    pairs, threshold. Expects ``inv``/``sizes`` CTEs in scope."""
    return f""",
cdocs AS (
  SELECT doc_a AS doc_id FROM {cand}
  UNION
  SELECT doc_b AS doc_id FROM {cand}
),
sinv AS (
  SELECT i.doc_id, i.g FROM inv i JOIN cdocs d ON i.doc_id = d.doc_id
),
co0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sinv a JOIN sinv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
co AS (
  SELECT co0.doc_a, co0.doc_b, co0.inter
  FROM co0 JOIN {cand} c ON co0.doc_a = c.doc_a AND co0.doc_b = c.doc_b
)
{_pairs_select(threshold)}"""


def repeated_ngram_sql(
    dialect: str,
    table: str = "documents",
    n: int = 5,
    th_table: str | None = None,
    shpos_table: str | None = None,
) -> str:
    """Per-document repeated-span profile — the exact-substring dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499): an ``n``-token span that occurs
    verbatim in more than one document is memorization fuel, and the
    fraction of a doc's spans that are corpus-repeated is the score a
    pipeline thresholds to drop or trim boilerplate-heavy docs.

    Relational formulation (no suffix array needed for the profile):
    the per-doc DISTINCT ``n``-gram shingle set (the same windowed
    Horner combine as MinHash/Jaccard, linear in corpus tokens) joins a
    shingle→doc-frequency aggregate of itself. Both stages are hash
    shuffles on the shingle key — at 100 TB this is two map-reduce
    passes over the token index, with map-side partial aggregation on
    the doc-frequency groupBy; nothing is quadratic because docs never
    pair up (contrast the Jaccard pairs join).
    """
    if shpos_table is not None:
        # Spark side: both references of sh (docfreq + the join-back)
        # re-derived the tokenize+window chain under CTE inlining; the
        # cached positional-shingle artifact replaces it (its DISTINCT
        # projection IS shingle_cte's sh — same Horner combine).
        prefix = f"sh AS (SELECT DISTINCT doc_id, g FROM {shpos_table})"
    else:
        prefix = shingle_cte(dialect, table, n, th_table)
    return f"""
WITH {prefix},
docfreq AS (SELECT g, COUNT(*) AS ndocs FROM sh GROUP BY g)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeated,
       round(CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS repeated_frac
FROM sh s JOIN docfreq d ON s.g = d.g
GROUP BY s.doc_id
ORDER BY s.doc_id"""


def dup_span_sql(
    dialect: str,
    table: str = "documents",
    n: int = 5,
    th_table: str | None = None,
    min_docs: int = 2,
    shpos_table: str | None = None,
) -> str:
    """Maximal duplicated-span extraction — the *cut list* half of Lee
    et al. exact-substring dedup (arXiv:2107.06499; the profile half is
    :func:`repeated_ngram_sql`): for every document, the maximal token
    ranges covered by ``n``-gram shingles whose document frequency is
    ≥ ``min_docs``. A pipeline subtracts these spans from the training
    text instead of dropping whole documents.

    Relational formulation (no suffix array): positional shingles keep
    their start ``pos``; a shingle→distinct-doc-frequency self-
    aggregate marks duplicated positions; consecutive duplicated
    positions merge into maximal spans with the gaps-and-islands
    ``pos - ROW_NUMBER()`` trick, partitioned per doc. Every stage is
    a hash aggregate or a per-doc window — two shuffles on the shingle
    key plus one on doc_id, all map-side combinable; nothing pairs
    documents, so 100 TB cost is linear in corpus tokens. Overlapping
    n-grams merge because adjacent start positions are consecutive:
    span_end = last duplicated start + n - 1."""
    g = "h"
    for k in range(1, n):
        g = f"(({g}) * {SH_A} + lead(h, {k}) OVER w) % {P.HASH_P}"
    if shpos_table is not None:
        # Spark side: shv (docfreq + dup both reference it) came off the
        # cached positional-shingle artifact instead of re-running the
        # tokenize+window chain per reference.
        prefix = f"shv AS (SELECT doc_id, pos, g FROM {shpos_table})"
    else:
        prefix = f"""{th_cte(dialect, table, th_table)},
shp AS (
  SELECT doc_id, pos, {g} AS g FROM th
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
shv AS (SELECT doc_id, pos, g FROM shp WHERE g IS NOT NULL)"""
    return f"""
WITH {prefix},
docfreq AS (SELECT g, COUNT(DISTINCT doc_id) AS ndocs FROM shv GROUP BY g),
dup AS (
  SELECT s.doc_id, s.pos FROM shv s
  JOIN docfreq d ON s.g = d.g WHERE d.ndocs >= {min_docs}
),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {n} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) - MIN(pos) + {n} AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_id, grp
ORDER BY doc_id, span_start"""


def paragraph_dedup_sql(
    dialect: str,
    table: str = "documents",
    unit: int = 8,
    th_table: str | None = None,
) -> str:
    """CCNet-style paragraph-granularity exact dedup profile
    (Wenzek et al., arXiv:1911.00359: dedup at paragraph level before
    language filtering): documents split into non-overlapping
    ``unit``-token blocks; each block hash keeps only its FIRST corpus
    occurrence (min doc_id, then min block index within that doc —
    a deterministic canonical keeper on any partition layout). Output
    is the per-doc retention profile the pipeline thresholds.

    The block hash is an order-weighted sum Σ h·A^(u-1-pos%u) mod P —
    commutative per block, so it needs only a GROUP BY, not a window;
    every term stays < P·P < 2^62. Keeper selection is two map-side-
    combinable MIN aggregates (never a per-hash ROW_NUMBER window — a
    boilerplate block shared by millions of docs would funnel one fat
    window partition; MIN pre-aggregates in the map stage instead)."""
    idiv = P.int_div("pos", str(unit), dialect)
    pw = " ".join(
        f"WHEN {j} THEN {pow(SH_A, unit - 1 - j, P.HASH_P)}"
        for j in range(unit)
    )
    term = f"(h * (CASE pos % {unit} {pw} END)) % {P.HASH_P}"
    if dialect == "spark":
        # Spark inlines CTEs, so the three references of fu (kd, ku,
        # fl) re-derived the block-hash aggregate each time. The keeper
        # of a block hash is the LEXICOGRAPHIC min of (doc_id,
        # unit_idx) — one struct-MIN aggregate computes kd and ku
        # together (struct comparison orders by field: min doc first,
        # then min unit within it; still map-side combinable, so a hot
        # boilerplate block never funnels a window partition). fu is
        # referenced twice, not three times, and one join replaces two.
        # DuckDB keeps the two-aggregate reference text (it
        # materializes CTEs natively); identical rows — oracle-gated.
        keeper = f"""kk AS (
  SELECT g, MIN(named_struct('d', doc_id, 'u', unit_idx)) AS s
  FROM fu GROUP BY g
),
fl AS (
  SELECT f.doc_id, f.unit_idx,
         CASE WHEN kk.s IS NOT NULL THEN 1 ELSE 0 END AS kept
  FROM fu f
  LEFT JOIN kk ON f.g = kk.g AND f.doc_id = kk.s.d
              AND f.unit_idx = kk.s.u
)"""
    else:
        keeper = f"""kd AS (SELECT g, MIN(doc_id) AS kdoc FROM fu GROUP BY g),
ku AS (
  SELECT f.g, f.doc_id, MIN(f.unit_idx) AS kunit
  FROM fu f JOIN kd ON f.g = kd.g AND f.doc_id = kd.kdoc
  GROUP BY f.g, f.doc_id
),
fl AS (
  SELECT f.doc_id, f.unit_idx,
         CASE WHEN ku.kunit IS NOT NULL THEN 1 ELSE 0 END AS kept
  FROM fu f
  LEFT JOIN ku ON f.g = ku.g AND f.doc_id = ku.doc_id
              AND f.unit_idx = ku.kunit
)"""
    return f"""
WITH {th_cte(dialect, table, th_table)},
u AS (
  SELECT doc_id, {idiv} AS unit_idx,
         SUM({term}) % {P.HASH_P} AS g, COUNT(*) AS nt
  FROM th GROUP BY doc_id, {idiv}
),
fu AS (SELECT doc_id, unit_idx, g FROM u WHERE nt = {unit}),
{keeper}
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_units,
       CAST(SUM(1 - kept) AS BIGINT) AS n_dup_units,
       round(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 6) AS retained_frac
FROM fl
GROUP BY doc_id
ORDER BY doc_id"""


def phrase_search_sql(
    dialect: str,
    table: str = "documents",
    phrase: str = "fast scan",
    th_table: str | None = None,
    bg_table: str | None = None,
) -> str:
    """Exact phrase search over the positional shingle index: every
    (doc_id, pos) where the query phrase occurs verbatim. The phrase's
    n-gram hash is derived IN SQL from a one-row literal relation with
    the same tokenizer + rolling hash + Horner combine as the corpus —
    no driver-side hash computation to drift out of sync.

    This is the serving-side counterpart of the dedup shingle index:
    with the positional shingle relation materialized (the tokhash
    artifact), a phrase query is one broadcast join of a 1-row hash
    against the index — an index lookup, not a scan of text. N = the
    phrase's word count, so one operator covers any phrase length.

    ``bg_table`` (Spark side, r8 guide §2.4): for a 2-word phrase the
    positional shingle hash is a pure projection of the cached
    bigram-occurrence artifact (g = (a·SH_A + b) mod P, pos carried by
    the artifact), so the corpus side needs no window at all; longer
    phrases keep the lead()-window chain."""
    import re as _re

    words = phrase.split()
    n = len(words)
    if n < 2:
        raise ValueError("phrase must have at least 2 words")
    lit = phrase.replace("'", "''")
    ph_src = f"(SELECT CAST(0 AS BIGINT) AS doc_id, '{lit}' AS text) q"
    ph_body = th_cte(dialect, ph_src, None)
    for name in ("toked", "tokrows", "th"):
        ph_body = _re.sub(rf"\b{name}\b", f"p{name}", ph_body)
    g = "h"
    pg = "h"
    for k in range(1, n):
        g = f"(({g}) * {SH_A} + lead(h, {k}) OVER w) % {P.HASH_P}"
        pg = f"(({pg}) * {SH_A} + lead(h, {k}) OVER w) % {P.HASH_P}"
    if bg_table is not None and dialect == "spark" and n == 2:
        corpus_side = f"""
WITH shp AS (
  SELECT doc_id, pos, (a * {SH_A} + b) % {P.HASH_P} AS g FROM {bg_table}
),"""
    else:
        corpus_side = f"""
WITH {th_cte(dialect, table, th_table)},
shp AS (
  SELECT doc_id, pos, {g} AS g FROM th
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),"""
    return f"""{corpus_side}
{ph_body},
pgr AS (
  SELECT pos, {pg} AS g FROM pth
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
phash AS (SELECT g FROM pgr WHERE pos = 0)
SELECT s.doc_id, CAST(s.pos AS BIGINT) AS pos
FROM shp s JOIN phash p ON s.g = p.g
ORDER BY s.doc_id, s.pos"""


def golden_record_sql(
    dialect: str, part: str = "part", labels: str = "lbl"
) -> str:
    """Survivorship (golden-record construction) — the step AFTER
    entity resolution: every ER cluster (``labels``: node → component
    over the matched-name pair graph) collapses to one merged record
    whose attributes come from per-attribute rules rather than one
    winning row:

    - name: longest member name (tie: lexicographic min) — the
      most-complete-value rule,
    - brand: cluster mode (tie: lexicographic min) — majority rule,
    - size: MIN, price: MAX — conservative/optimistic numeric rules.

    Unmatched records are singleton clusters (COALESCE on the label
    left join). Plan shape: one left join against the (small) label
    relation, then per-cluster hash aggregates plus two ROW_NUMBER
    windows partitioned by cluster — cluster populations are ER-group
    sized (tiny), so no window partition can grow with the corpus;
    everything shuffles on the cluster key exactly once. ``labels``
    may be a view name or a parenthesized subquery (the DuckDB oracle
    passes the recursive-CTE reachability labels inline)."""
    return f"""
WITH m AS (
  SELECT p.p_name, p.p_brand, p.p_size, p.p_retailprice,
         COALESCE(l.component, p.p_name) AS cluster
  FROM {part} p LEFT JOIN {labels} l ON p.p_name = l.node
),
base AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_records,
         CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_names,
         CAST(MIN(p_size) AS BIGINT) AS golden_size,
         MAX(p_retailprice) AS golden_price
  FROM m GROUP BY cluster
),
nm AS (
  SELECT cluster, p_name, ROW_NUMBER() OVER (
    PARTITION BY cluster ORDER BY LENGTH(p_name) DESC, p_name) AS rn
  FROM (SELECT DISTINCT cluster, p_name FROM m) d
),
bc AS (
  SELECT cluster, p_brand, COUNT(*) AS c FROM m GROUP BY cluster, p_brand
),
bm AS (
  SELECT cluster, p_brand, ROW_NUMBER() OVER (
    PARTITION BY cluster ORDER BY c DESC, p_brand) AS rn FROM bc
)
SELECT b.cluster, n.p_name AS golden_name, bm.p_brand AS golden_brand,
       b.golden_size, b.golden_price, b.n_records, b.n_names
FROM base b
JOIN nm n ON n.cluster = b.cluster AND n.rn = 1
JOIN bm ON bm.cluster = b.cluster AND bm.rn = 1
ORDER BY b.cluster"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_lsh_sql(
    dialect: str,
    table: str = "documents",
    threshold: float = 0.5,
    max_df: int | None = DEDUP_MAX_DF,
    th_table: str | None = None,
    inv_tables: tuple[str, str] | None = None,
    sig_table: str | None = None,
) -> str:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification.

    inverted index → 16 min-aggregated permutation hashes per doc →
    4 bands of 4 → docs sharing any band key become candidates
    (equi-join on the band key) → exact Jaccard on candidate pairs only
    (int-keyed joins back through the index) → filter ≥ threshold.
    Emits the same columns as :func:`ngram_jaccard_sql`, so recall is
    directly measurable.
    """
    sig_cols = ", ".join(
        f"MIN(({a} * g + {b}) % {P.HASH_P}) AS m{j}"
        for j, (a, b) in enumerate(MINHASH_AB)
    )
    # Spark side may read the materialized signature artifact (see
    # :func:`lsh_audit_sql`); oracle keeps the aggregate text.
    sig_body = (f"SELECT doc_id, {', '.join(f'm{j}' for j in range(len(MINHASH_AB)))} FROM {sig_table}"
                if sig_table is not None
                else f"SELECT doc_id, {sig_cols} FROM inv GROUP BY doc_id")
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ") AS bkey FROM sig"
        for b in range(NUM_BANDS)
    )
    return f"""
WITH {_inv_cte(dialect, table, max_df, th_table, inv_tables)},
sig AS ({sig_body}),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
co AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN inv ia ON ia.doc_id = c.doc_a
  JOIN inv ib ON ib.doc_id = c.doc_b AND ib.g = ia.g
  GROUP BY c.doc_a, c.doc_b
)
{_pairs_select(threshold)}"""


def incremental_minhash_sql(
    dialect: str,
    table: str = "documents",
    threshold: float = 0.5,
    delta_mod: int = 10,
    th_table: str | None = None,
    inv_tables: tuple[str, str] | None = None,
    sig_table: str | None = None,
) -> str:
    """Ingest-time incremental near-dup detection: every INCOMING
    (delta) document gets a keep/drop verdict against the EXISTING
    corpus — (doc_id, is_dup, best_match, best_jaccard), best match =
    highest exact Jaccard, doc-id tiebreak. The gate's delta is the
    deterministic ``doc_id % delta_mod = 0`` slice; production swaps in
    the new batch.

    Same machinery as :func:`minhash_lsh_sql` (inverted index → MinHash
    signatures → banded LSH buckets → exact-Jaccard verify) with ONE
    structural change: the candidate join is delta-bands × base-bands,
    never base × base. That makes per-batch dedup cost O(|delta| ×
    bucket hit rate): the corpus side is the maintained index artifact
    (the cached inv/sig views — what a 100 TB pipeline persists and
    appends to between batches), only the delta's shingles are hashed
    fresh, and re-scanning or re-pairing the corpus against itself
    never happens. In-batch (delta × delta) duplicates are q19/q20's
    precombine job, deliberately out of contract here.

    Keeps (is_dup = false) emit NULL match columns, so the verdict set
    covers the whole delta — the row count is the batch size on any
    engine.
    """
    sig_cols = ", ".join(
        f"MIN(({a} * g + {b}) % {P.HASH_P}) AS m{j}"
        for j, (a, b) in enumerate(MINHASH_AB)
    )
    # Spark side reads the materialized signature artifact (see
    # :func:`lsh_audit_sql` — same 8× re-aggregation through the
    # self-joined bands union); oracle keeps the aggregate text.
    sig_body = (f"SELECT doc_id, {', '.join(f'm{j}' for j in range(len(MINHASH_AB)))} FROM {sig_table}"
                if sig_table is not None
                else f"SELECT doc_id, {sig_cols} FROM inv GROUP BY doc_id")
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ") AS bkey FROM sig"
        for b in range(NUM_BANDS)
    )
    return f"""
WITH {_inv_cte(dialect, table, DEDUP_MAX_DF, th_table, inv_tables)},
sig AS ({sig_body}),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id % {delta_mod} = 0 AND b.doc_id % {delta_mod} <> 0
),
co AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN inv ia ON ia.doc_id = c.doc_a
  JOIN inv ib ON ib.doc_id = c.doc_b AND ib.g = ia.g
  GROUP BY c.doc_a, c.doc_b
),
pairs AS (
  SELECT co.doc_a, co.doc_b, {_JACCARD} AS jaccard
  FROM co
  JOIN sizes sa ON co.doc_a = sa.doc_id
  JOIN sizes sb ON co.doc_b = sb.doc_id
  WHERE {_JACCARD_PRED} >= {threshold}
),
best AS (
  SELECT doc_a, doc_b, jaccard,
         row_number() OVER (
           PARTITION BY doc_a ORDER BY jaccard DESC, doc_b
         ) AS rn
  FROM pairs
),
delta AS (SELECT doc_id FROM {table} WHERE doc_id % {delta_mod} = 0)
SELECT d.doc_id AS doc_id,
       (b.doc_b IS NOT NULL) AS is_dup,
       b.doc_b AS best_match,
       b.jaccard AS best_jaccard
FROM delta d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_a
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_sql(
    dialect: str,
    table: str = "documents",
    max_hamming: int = 2,
    th_table: str | None = None,
    sh_table: str | None = None,
) -> str:
    """SimHash near-dup pairs: 30-bit frequency-weighted simhash, chunk
    LSH (3 × 10 bits; hamming ≤ 2 ⇒ at least one chunk equal by
    pigeonhole), exact hamming verify via bit_count(xor).

    Relational formulation (explode → count → 30 conditional sums) keeps
    every stage a hash aggregate / equi-join — the same shape at 100 TB.
    """
    toks = P.tokens("text", dialect)
    tok_rows = _explode(dialect, "doc_id", "toked", "toks", "t")
    bit_sums = ", ".join(
        "SUM(cnt * (CASE WHEN "
        + P.int_div("h", str(1 << b), dialect)
        + f" % 2 = 1 THEN 1 ELSE -1 END)) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    chunk_selects = " UNION ALL ".join(
        "SELECT doc_id, simhash, "
        f"{c} AS chunk, "
        + P.int_div("simhash", str(1 << (c * CHUNK_BITS)), dialect)
        + f" % {1 << CHUNK_BITS} AS ckey FROM sh"
        for c in range(SIMHASH_CHUNKS)
    )
    ham = f"bit_count({_xor('sh_a', 'sh_b', dialect)})"
    if sh_table is not None:
        # Precomputed (doc_id, simhash): the 3-way chunk UNION and its
        # self-join reference ``sh`` 6× after CTE inlining — a persisted
        # sh makes each an in-memory scan of one row per doc.
        return f"""
WITH sh AS (SELECT doc_id, simhash FROM {sh_table}),
chunks AS ({chunk_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming
FROM cand
WHERE {ham} <= {max_hamming}
ORDER BY doc_a, doc_b
"""
    if th_table is not None:
        # Grouping by the token HASH instead of the token text is
        # simhash-equivalent: colliding tokens' counts merge, and the
        # bit_sums stage only ever sees cnt × sign(h) contributions.
        th_chain = (
            f"th AS (SELECT doc_id, COUNT(*) AS cnt, h "
            f"FROM {th_table} GROUP BY doc_id, h)"
        )
    else:
        th_chain = f"""toked AS (SELECT doc_id, {toks} AS toks FROM {table}),
tok AS ({tok_rows}),
tf AS (SELECT doc_id, t, COUNT(*) AS cnt FROM tok GROUP BY doc_id, t),
th AS (SELECT doc_id, cnt, {P.rolling_hash('t', dialect)} AS h FROM tf)"""
    return f"""
WITH {th_chain},
bits AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM bits),
chunks AS ({chunk_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming
FROM cand
WHERE {ham} <= {max_hamming}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Arrow-vectorized token hashing (Spark-side fast path)
# ---------------------------------------------------------------------------

# Java \s (ASCII class) — re.ASCII pins Python's \s to the same set, so
# normalization is byte-identical to portable.norm_text on both engines.
_WS_RE = re.compile(r"\s+", re.ASCII)


def _pytokhash(text: str) -> list[int]:
    """Per-token polynomial rolling hashes of a document, identical math
    to ``portable.rolling_hash(portable.tokens(text))``: lower + trim +
    collapse ASCII whitespace, split on single space, then
    h = (h*131 + ord(c)) % (2^31-1) per token. (Reference semantics —
    the batch path below must stay bit-identical; see the parity test.)"""
    norm = _WS_RE.sub(" ", text.strip().lower())
    out = []
    for tok in norm.split(" "):
        h = 0
        for c in tok:
            h = (h * P.HASH_MULT + ord(c)) % P.HASH_P
        out.append(h)
    return out


def _batch_tokhash(texts) -> list:
    """Vectorized :func:`_pytokhash` over a whole Arrow batch.

    The iterated hash expands to the polynomial
    ``h = Σ c_i · M^(L-1-i) mod P``, which vectorizes: decode ALL docs'
    code points at once (utf-32 — numpy sees exactly ``ord(c)``),
    locate token boundaries from the separator mask, weight each char
    by ``M^(chars-to-token-end) mod P`` from a lookup table, and
    segment-sum with ``np.add.reduceat``. Every product stays below
    2^62 (code point < 2^31 after mod weighting × weight < 2^31), and
    per-token partial sums are reduced mod P at the end — exact int64
    arithmetic, no float anywhere, bit-identical to the scalar loop.
    """
    import numpy as np

    norms = [_WS_RE.sub(" ", (t or "").strip().lower()) for t in texts]
    n_toks = np.fromiter(
        (s.count(" ") + 1 for s in norms), dtype=np.int64, count=len(norms)
    )
    joined = " ".join(norms)
    codes = np.frombuffer(
        joined.encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    n = codes.size
    if n == 0:
        return [np.zeros(1, dtype=np.int64)] * len(norms) if norms else []
    is_sep = codes == 32  # the single space portable.tokens splits on
    sep_idx = np.flatnonzero(is_sep)
    starts = np.concatenate(([0], sep_idx + 1))
    ends = np.concatenate((sep_idx, [n]))
    lens = ends - starts
    # distance to token end per char: (end-of-my-token - 1) - my-index
    tok_end = np.repeat(ends, np.diff(np.concatenate((starts, [n]))))
    dist = tok_end - 1 - np.arange(n)
    powers = np.ones(int(lens.max()) + 1 if lens.size else 1, dtype=np.int64)
    for k in range(1, powers.size):
        powers[k] = (powers[k - 1] * P.HASH_MULT) % P.HASH_P
    vals = (codes % P.HASH_P) * powers[np.maximum(dist, 0)] % P.HASH_P
    vals[is_sep] = 0
    # pad one zero so a trailing empty token (start == n) stays a legal
    # reduceat index; the pad only ever joins the last segment's sum
    vals = np.append(vals, 0)
    hashes = np.add.reduceat(vals, starts) % P.HASH_P
    hashes[lens == 0] = 0  # reduceat start==end quirk picks a stray value
    offs = np.concatenate(([0], np.cumsum(n_toks)))
    return [hashes[offs[i]: offs[i + 1]] for i in range(len(norms))]


def materialize(df):
    """Eagerly materialize a shared artifact and truncate its lineage.

    Uses RELIABLE ``checkpoint()`` (replicated to the configured
    checkpoint dir, recomputable-free on executor loss) whenever the
    SparkContext has a checkpoint dir set — the right choice on a real
    cluster, where ``localCheckpoint`` blocks are unreplicated and an
    executor loss would fail the job instead of recovering. Falls back
    to ``localCheckpoint`` otherwise (single-JVM local mode, where
    executor loss == driver loss and replication buys nothing).
    Distributed deployments should call
    ``spark.sparkContext.setCheckpointDir(...)`` at session setup.
    """
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().checkpointDir().isDefined():
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def tokhash_view(spark, docs, cache_key: str) -> str:
    """Register (and persist) a ``(doc_id, pos, h)`` token-hash view for
    ``docs`` — the shared prefix of every shingle-based dedup operator
    (q19/q20/q21/q77). Cached per (SparkSession, cache_key): the corpus
    is hashed ONCE per process and the cached view is an in-memory
    columnar relation all four operators scan.

    At 100 TB this is the "tokenize once, persist the index" pattern:
    the token-hash relation is the artifact you'd materialize to parquet
    and share across dedup jobs, rather than re-deriving per query.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def hash_tokens(texts):
        import pandas as pd

        return pd.Series(_batch_tokhash(texts.tolist()))

    # Repartition by doc_id BEFORE persisting: the corpus often arrives
    # as few files (one partition at test scale), and every downstream
    # stage — the shingle window, simhash groupBy — partitions by
    # doc_id, so the cached layout already matches and those stages run
    # wide with no extra exchange. Materialized (not mere persist):
    # truncates the logical plan to a LogicalRDD so every consumer
    # carries a tiny plan instead of re-analyzing (and shipping) the
    # whole derivation tree.
    return artifact_time.view(spark, "tokhash", cache_key, lambda: materialize(
        docs.select("doc_id",
                    F.posexplode(hash_tokens("text")).alias("pos", "h"))
        .repartition(docs.sparkSession.sparkContext.defaultParallelism,
                     "doc_id")))


def token_rows_view(spark, docs, cache_key: str) -> str:
    """Register (and persist) the ``(doc_id, pos, t)`` token-STRING
    relation for ``docs`` — the string twin of :func:`tokhash_view`,
    for operators whose OUTPUT carries token text (heavy hitters q129/
    q201, PPMI q181): their texts reference the token stream 2-3 times
    (sketch + verify, or unigrams + both self-join sides) and Spark
    inlines CTEs, so each reference re-ran the regex tokenize+explode.
    Built once per (session, corpus) with the same normalize/split as
    ``P.tokens`` (so counts and strings agree with the hash artifact),
    repartitioned by doc_id like its twin, and materialized so every
    consumer carries a tiny plan. At 100 TB this is the tokenized-
    corpus relation an LM-data pipeline persists beside its token-hash
    index (r8, guide §2.4)."""

    def build():
        # read only while this build's SQL is analyzed, so one fixed
        # name serves every session and corpus
        docs.createOrReplaceTempView("__tokrows_src")
        rows = _posexplode(
            "spark", "doc_id",
            f"(SELECT doc_id, {P.tokens('text', 'spark')} AS toks "
            "FROM __tokrows_src) s",
            "toks", "pos", "t",
        )
        return materialize(
            spark.sql(rows)
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))

    return artifact_time.view(spark, "tokrows", cache_key, build)


def minhash_pairs_view(spark, docs, cache_key: str) -> str:
    """Register (and persist) the verified MinHash-LSH near-dup PAIRS
    ``(doc_a, doc_b, jaccard)`` — the artifact both the pair listing
    (q20) and the dup-group closure (q77) consume. At 100 TB the pair
    set is exactly what a curation pipeline materializes between its
    dedup-detect and dedup-apply stages; computing it once per process
    mirrors that, and the connected-components iteration then starts
    from an in-memory relation instead of re-running the LSH chain."""

    def build():
        inv = inv_view(spark, docs, cache_key)
        sig = sig_view(spark, docs, cache_key)
        return materialize(spark.sql(
            minhash_lsh_sql("spark", inv_tables=inv, sig_table=sig)))

    return artifact_time.view(spark, "minhash_pairs", cache_key, build)


def shingle_pos_view(spark, docs, cache_key: str, n: int = 5) -> str:
    """Register (and persist) the POSITIONAL ``n``-gram shingle relation
    ``(doc_id, pos, g)`` — every shingle occurrence with its start
    position, the shared prefix of the exact-substring dedup pair
    (repeated-span profile q155 reads its DISTINCT projection, cut-list
    extraction q188 the positions). Spark inlines WITH-CTEs, so each
    statement re-ran the tokenize+window Horner combine once per
    reference (docfreq + the join-back); both now scan this one
    in-memory relation. The Horner form is byte-identical to
    ``shingle_cte``/``dup_span_sql``'s inline expression."""

    def build():
        th = tokhash_view(spark, docs, cache_key)
        g = "h"
        for k in range(1, n):
            g = f"(({g}) * {SH_A} + lead(h, {k}) OVER w) % {P.HASH_P}"
        return materialize(spark.sql(f"""
SELECT doc_id, pos, g FROM (
  SELECT doc_id, pos, {g} AS g FROM {th}
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
) WHERE g IS NOT NULL"""))

    return artifact_time.view(spark, "shingle_pos", (cache_key, n), build)


def bigram_rows_view(spark, docs, cache_key: str) -> str:
    """Register (and persist) the consecutive-token-pair relation
    ``(doc_id, a, b)`` — one row per bigram OCCURRENCE (a = token hash,
    b = its successor), built from the cached token-hash view with one
    ``lead()`` window pass. The shared prefix of every bigram-statistic
    operator (ROUGE-2 overlap q248, bigram-LM perplexity q200): Spark
    inlines WITH-CTEs, so a query text referencing the bigram rows
    three or four times re-ran the tokenize+window derivation per
    reference; consumers scan this one in-memory relation instead. At
    100 TB this is the persisted n-gram table of an LM-data pipeline —
    derived once beside the token-hash index it rolls up."""

    def build():
        th = tokhash_view(spark, docs, cache_key)
        # pos rides along (r8): the positional n=2 shingle hash is a
        # pure projection of (a, b), so the phrase-search index lookup
        # (q195) reads this relation instead of re-running the window.
        return materialize(spark.sql(f"""
SELECT doc_id, pos, a, b FROM (
  SELECT doc_id, pos, h AS a,
         lead(h) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM {th}
) WHERE b IS NOT NULL"""))

    return artifact_time.view(spark, "bigram", cache_key, build)


def simhash_view(spark, docs, cache_key: str) -> str:
    """Register (and persist) the per-doc ``sh(doc_id, simhash)``
    relation built from the cached token-hash view — one int64 row per
    document, the artifact a production pipeline would persist as its
    simhash index."""

    def build():
        th = tokhash_view(spark, docs, cache_key)
        inner = simhash_sql("spark", th_table=th)
        # Reuse the generator's own CTE chain up to ``sh``.
        prefix = inner.split(",\nchunks AS")[0]
        return materialize(
            spark.sql(f"{prefix}\nSELECT doc_id, simhash FROM sh"))

    return artifact_time.view(spark, "simhash", cache_key, build)


def inv_view(
    spark, docs, cache_key: str, max_df: int | None = DEDUP_MAX_DF
) -> tuple[str, str]:
    """Register (and persist) the shingle inverted index
    ``inv(doc_id, g)`` plus ``sizes(doc_id, n)`` built from the cached
    token-hash view. Returns ``(inv_name, sizes_name)``.

    Spark inlines WITH-CTEs, so a query referencing ``inv`` three times
    (q19's co × sizes×2; q20's sig + verify joins) re-derives the whole
    tokenize→window→distinct chain each time. Persisting inv makes
    every reference an in-memory columnar scan — at 100 TB this IS the
    dedup index you'd materialize to parquet once and share across the
    Jaccard / MinHash / grouping jobs.
    """

    def build():
        th = tokhash_view(spark, docs, cache_key)
        inv = materialize(spark.sql(
            f"WITH {_inv_cte('spark', '<unused>', max_df, th)} "
            "SELECT doc_id, g FROM inv"))
        sizes = materialize(
            inv.groupBy("doc_id").count().withColumnRenamed("count", "n"))
        return inv, sizes

    return artifact_time.view(spark, "inv", (cache_key, max_df), build)


def source_shingles_view(spark, docs, table: str, cache_key: str) -> str:
    """Register (and persist) the distinct ``(src, g)`` source-shingle
    relation over the UNCAPPED inverted index — the per-source shingle
    set the cross-source contamination matrix (q262) consumes through
    four inlined references (see :func:`source_overlap_sql`). Same
    lifetime and accounting as the other corpus indexes."""

    def build():
        inv_name, _ = inv_view(spark, docs, cache_key, max_df=None)
        return materialize(spark.sql(
            f"SELECT /*+ BROADCAST(d) */ DISTINCT d.source AS src, "
            f"v.g FROM {inv_name} v JOIN {table} d "
            "ON d.doc_id = v.doc_id"))

    return artifact_time.view(spark, "q262_source_shingles", cache_key,
                              build)


def sig_view(spark, docs, cache_key: str) -> str:
    """Register (and persist) the per-doc MinHash signature relation
    ``sig(doc_id, m0..m15)`` — 16 min-aggregated permutation hashes
    over the df-capped inverted index. Returns the view name.

    The banded-LSH statements reference ``sig`` through a self-joined
    ``bands`` union (4 band selects × both join sides), and Spark
    inlines CTEs — so the one-statement form re-runs the 16-MIN
    aggregate over the whole inverted index EIGHT times per query
    (r9 plan read: 44 HashAggregates in q238's plan, 8 of them full
    inv-wide MIN aggregations). The signature matrix is exactly the
    artifact a production MinHash pipeline persists next to its
    inverted index (one narrow row per doc), so it gets the same
    session lifetime as inv/sizes; every bands reference becomes a
    columnar scan of |docs| rows."""

    def build():
        inv_name, _ = inv_view(spark, docs, cache_key)
        sig_cols = ", ".join(
            f"MIN(({a} * g + {b}) % {P.HASH_P}) AS m{j}"
            for j, (a, b) in enumerate(MINHASH_AB)
        )
        return materialize(spark.sql(
            f"SELECT doc_id, {sig_cols} FROM {inv_name} GROUP BY doc_id"))

    return artifact_time.view(spark, "minhash_sig", cache_key, build)


# ---------------------------------------------------------------------------
# fuzzy entity-resolution join (deletion-neighborhood blocking)
# ---------------------------------------------------------------------------

FUZZY_MOD = 7          # every 7th customer gets a corrupted variant
FUZZY_ID_OFFSET = 10_000_000


def fuzzy_join_sql(dialect: str, customer: str = "customer") -> str:
    """Scalable fuzzy join (entity resolution): match corrupted record
    variants back to the registry at edit distance ≤ 1 WITHOUT a cross
    product, using deletion-neighborhood blocking (the FastSS/SymSpell
    scheme): every string emits itself plus each single-character
    deletion as blocking keys; two strings within edit distance 1
    necessarily share a key, so the equi-join on keys has perfect
    recall and the exact levenshtein runs only on blocked candidates.

    The fixture corrupts every ``FUZZY_MOD``-th customer name with one
    deterministic character substitution (position = custkey mod name
    length); the query must link every variant to its origin (distance
    1) plus any genuine distance-≤1 registry neighbors — all exact.

    Shape at 100 TB: keys per row = length+1 (bounded), candidates form
    on shared keys only (one shuffle on the key hash), verify is a
    per-pair scalar — the standard blocked similarity join. DISTINCT
    pair reduction before the levenshtein keeps the verify stage
    O(candidate pairs)."""
    if dialect == "spark":
        def positions(src: str, name_col: str) -> str:
            return (
                f"SELECT id, name, i FROM {src} "
                f"LATERAL VIEW explode(sequence(0, length({name_col}))) _p AS i"
            )
    else:
        def positions(src: str, name_col: str) -> str:
            return (
                f"SELECT id, name, unnest(range(0, len({name_col}) + 1)) AS i "
                f"FROM {src}"
            )
    sub = "substr" if dialect == "spark" else "substring"
    return f"""
WITH base AS (
  SELECT c_custkey AS id, lower(c_name) AS name FROM {customer}
),
variants AS (
  -- one deterministic char substitution at position custkey % length
  SELECT id + {FUZZY_ID_OFFSET} AS id,
         {sub}(name, 1, CAST(id % length(name) AS INT))
           || 'x' ||
         {sub}(name, CAST(id % length(name) AS INT) + 2) AS name
  FROM base WHERE id % {FUZZY_MOD} = 0
),
all_names AS (
  SELECT id, name FROM base UNION ALL SELECT id, name FROM variants
),
keys AS (
  -- i = 0 keeps the full string; i >= 1 deletes character i. Keys are
  -- the bare strings (no position tag): substitution pairs meet on the
  -- same-position deletion, insert/delete pairs meet on full-vs-deleted
  -- — the full FastSS edit-1 cover; the verify stage kills the rest.
  SELECT id, name,
         CASE WHEN i = 0 THEN name
              ELSE {sub}(name, 1, i - 1) || {sub}(name, i + 1)
         END AS k
  FROM ({positions('all_names', 'name')}) pos
),
cand AS (
  SELECT DISTINCT a.id AS base_id, a.name AS base_name,
                  b.id AS var_id, b.name AS var_name
  FROM keys a JOIN keys b ON a.k = b.k
  WHERE a.id < {FUZZY_ID_OFFSET} AND b.id >= {FUZZY_ID_OFFSET}
)
SELECT var_id, base_id,
       CAST(levenshtein(var_name, base_name) AS BIGINT) AS dist
FROM cand
WHERE levenshtein(var_name, base_name) <= 1
ORDER BY var_id, base_id
"""


def edit1_pairs_sql(dialect: str, customer: str = "customer") -> str:
    """Registry-internal edit-distance-1 pair graph (doc_a < doc_b) via
    the same deletion-neighborhood blocking as :func:`fuzzy_join_sql` —
    the input graph for link-analysis over near-identical entities.
    Dense customer ids make the name space digit-adjacent, so node
    degrees genuinely vary (interior digits have ~2x the neighbors of
    range-boundary ones)."""
    if dialect == "spark":
        positions = (
            "SELECT id, name, i FROM all_names "
            "LATERAL VIEW explode(sequence(0, length(name))) _p AS i"
        )
    else:
        positions = (
            "SELECT id, name, unnest(range(0, len(name) + 1)) AS i "
            "FROM all_names"
        )
    sub = "substr" if dialect == "spark" else "substring"
    return f"""
WITH all_names AS (
  SELECT c_custkey AS id, lower(c_name) AS name FROM {customer}
),
keys AS (
  SELECT id, name,
         CASE WHEN i = 0 THEN name
              ELSE {sub}(name, 1, i - 1) || {sub}(name, i + 1)
         END AS k
  FROM ({positions}) pos
),
cand AS (
  -- int-id-only DISTINCT (the same reduction the LSH family uses):
  -- the dedup shuffle keys two int64s, never the name strings
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.id < b.id
)
SELECT c.doc_a, c.doc_b
FROM cand c
JOIN all_names na ON na.id = c.doc_a
JOIN all_names nb ON nb.id = c.doc_b
WHERE levenshtein(na.name, nb.name) <= 1
"""


SNM_WINDOW = 4  # sorted-neighborhood comparison window


def snm_pairs_sql(dialect: str, table: str = "part") -> str:
    """Multi-pass sorted-neighborhood entity resolution (Hernández &
    Stolfo SIGMOD'95, the merge/purge method) — the sort-order
    counterpart of q130's deletion-neighborhood blocking: records are
    sorted by a blocking key and only a sliding window of SNM_WINDOW
    neighbors is ever compared, so candidate volume is O(N·w), never
    N². Two passes with different keys (the name, and its reverse —
    front-typo and back-typo sensitive respectively) patch the classic
    SNM miss where near-duplicates sort far apart under one key; the
    union of both passes is deduplicated on the detected key pair.

    Plan shape: per pass, ONE window partitioned by the key's first
    character (never a global sort — blocks sort independently, the
    two-pass union already tolerates block-boundary misses) producing
    SNM_WINDOW lead() columns, stacked by UNION ALL (no self-join, no
    block × block shuffle); exact levenshtein only on stacked
    neighbors. Output: matched name pairs (edit distance 1-2) with
    their supporting record-pair counts — all ties broken by key, so
    the neighborhood itself is deterministic on any cluster layout."""
    _lead_src = {"spark", "duckdb"}
    if dialect not in _lead_src:
        raise ValueError(f"unsupported dialect: {dialect}")

    def pass_sql(blk: str, order: str) -> str:
        leads = ", ".join(
            f"lead(k,{i}) OVER (PARTITION BY blk ORDER BY {order}, k) AS k{i},"
            f" lead(nm,{i}) OVER (PARTITION BY blk ORDER BY {order}, k)"
            f" AS n{i}"
            for i in range(1, SNM_WINDOW + 1)
        )
        stack = " UNION ALL ".join(
            f"SELECT nm, k, n{i} AS nm2, k{i} AS k2 FROM l "
            f"WHERE n{i} IS NOT NULL"
            for i in range(1, SNM_WINDOW + 1)
        )
        return f"""
WITH b AS (SELECT p_partkey AS k, p_name AS nm, {blk} AS blk FROM {table}),
l AS (SELECT k, nm, {leads} FROM b)
{stack}
"""

    return f"""
WITH c1 AS ({pass_sql("substr(nm, 1, 1)", "nm")}),
c2 AS ({pass_sql("substr(reverse(nm), 1, 1)", "reverse(nm)")}),
cand AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2),
m AS (
  SELECT DISTINCT LEAST(nm, nm2) AS name_a, GREATEST(nm, nm2) AS name_b,
         CASE WHEN nm < nm2 THEN k ELSE k2 END AS ka,
         CASE WHEN nm < nm2 THEN k2 ELSE k END AS kb
  FROM cand WHERE levenshtein(nm, nm2) BETWEEN 1 AND 2
)
SELECT name_a, name_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM m GROUP BY name_a, name_b ORDER BY name_a, name_b
"""


def lsh_audit_sql(
    dialect: str,
    table: str = "documents",
    threshold: float = 0.5,
    th_table: str | None = None,
    inv_tables: tuple[str, str] | None = None,
    sig_table: str | None = None,
) -> str:
    """LSH quality audit (q238): banding recall and candidate precision
    of the MinHash-LSH pipeline measured against EXACT n-gram Jaccard
    ground truth — the mirror of q170's ANN recall audit for the dedup
    family, and the measurement that justifies the (bands, rows) choice
    at 100 TB (where the exact all-co-occurring-pairs side is only
    affordable on an audit SAMPLE, exactly how this statement would be
    deployed).

    Probe bound (r8, 10× ratio 2.9× on the DEDUP_MAX_DF-capped index,
    down from 3.6× uncapped): the exact ground-truth side pays the
    capped co-occurrence join, whose candidate volume is ≤ cap·|inv| —
    LINEAR in corpus size — so the ratio is the linear term leaving the
    fixed-overhead floor, not a compounding exponent. The audit-sample
    deployment note above is the 100 TB answer regardless: ground truth
    on a slice, banding metrics extrapolate.

    One statement, three relations off the shared inverted index:
    exact pairs (Jaccard >= t), band-join candidates (the PRE-
    verification set - q19 itself verifies, so its output can't measure
    banding loss), and their intersection. Emits integer counts plus
    floor-ppm precision (verified/candidates: what the verification
    join pays for) and recall (verified/exact: what banding misses).
    Zero-denominator cases surface as -1, never a crash.

    Scale shape: the exact-pairs side is the inverted-index self-join
    — co-occurring pairs grow ~|pairs sharing a shingle|, the same
    inherent exponent as q19 (10x probe: 3.2x wall here, 4.3x for q19;
    sublinear in wall only because small scale underutilizes cores).
    That cost is the AUDIT'S POINT — ground truth is the expensive
    side — and the deployment form bounds it by running the audit on a
    deterministic doc-id sample, which bounds both relations the same
    way and leaves precision/recall unbiased."""
    sig_cols = ", ".join(
        f"MIN(({a} * g + {b}) % {P.HASH_P}) AS m{j}"
        for j, (a, b) in enumerate(MINHASH_AB)
    )
    # Spark side: read the session-materialized signature artifact
    # (:func:`sig_view`) instead of re-aggregating inv per bands
    # reference — Spark's CTE inlining otherwise re-runs the 16-MIN
    # aggregate 8× through the self-joined bands union (r9, guide
    # §2.4). The oracle keeps the self-contained aggregate text;
    # identical output proven by the oracle gate.
    sig_body = (f"SELECT doc_id, {', '.join(f'm{j}' for j in range(len(MINHASH_AB)))} FROM {sig_table}"
                if sig_table is not None
                else f"SELECT doc_id, {sig_cols} FROM inv GROUP BY doc_id")
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ") AS bkey FROM sig"
        for b in range(NUM_BANDS)
    )
    return f"""
WITH {_inv_cte(dialect, table, DEDUP_MAX_DF, th_table, inv_tables)},
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
exact AS (
  SELECT co.doc_a, co.doc_b
  FROM co
  JOIN sizes sa ON co.doc_a = sa.doc_id
  JOIN sizes sb ON co.doc_b = sb.doc_id
  WHERE {_JACCARD_PRED} >= {threshold}
),
sig AS ({sig_body}),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
{_lsh_audit_tail(dialect)}"""


def _lsh_audit_tail(dialect: str) -> str:
    """Closing relations of :func:`lsh_audit_sql`. Spark inlines CTEs,
    so the scalar-subquery counts form derived ``exact`` (the co-
    occurrence join) and ``cand`` (the 4-band self-join over the
    40-MIN signature aggregate) TWICE each — once for its own count,
    once inside ``hits``. The Spark text counts all three quantities
    from ONE full-outer join of the two pair sets (COUNT over the
    matched/unmatched sides — exactly |exact|, |cand|, |∩|); DuckDB
    keeps the scalar-subquery reference text (it materializes CTEs
    natively). Identical output proven by the oracle gate."""
    if dialect == "spark":
        return """stats AS (
  SELECT COUNT(e.doc_a) AS n_exact,
         COUNT(c.doc_a) AS n_candidates,
         COUNT(CASE WHEN e.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
               THEN 1 END) AS n_verified
  FROM exact e FULL OUTER JOIN cand c
    ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_verified AS BIGINT) AS n_verified,
       CAST(n_exact - n_verified AS BIGINT) AS n_missed,
       CAST(CASE WHEN n_candidates = 0 THEN -1
            ELSE floor(n_verified * 1000000 / n_candidates) END AS BIGINT)
         AS precision_ppm,
       CAST(CASE WHEN n_exact = 0 THEN -1
            ELSE floor(n_verified * 1000000 / n_exact) END AS BIGINT)
         AS recall_ppm
FROM stats"""
    return """hits AS (
  SELECT c.doc_a FROM cand c
  JOIN exact e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
),
counts AS (
  SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
         (SELECT COUNT(*) FROM cand) AS n_candidates,
         (SELECT COUNT(*) FROM hits) AS n_verified
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_verified AS BIGINT) AS n_verified,
       CAST(n_exact - n_verified AS BIGINT) AS n_missed,
       CAST(CASE WHEN n_candidates = 0 THEN -1
            ELSE floor(n_verified * 1000000 / n_candidates) END AS BIGINT)
         AS precision_ppm,
       CAST(CASE WHEN n_exact = 0 THEN -1
            ELSE floor(n_verified * 1000000 / n_exact) END AS BIGINT)
         AS recall_ppm
FROM counts"""


def novelty_curve_sql(
    dialect: str,
    table: str = "documents",
    n_batches: int = 4,
    th_table: str | None = None,
    inv_tables: tuple[str, str] | None = None,
) -> str:
    """Corpus novelty / saturation curve (q242): the documents arrive
    as ``n_batches`` ingest batches (doc_id mod — the fixture's arrival
    proxy); per batch, how many of its distinct shingles were never
    seen in ANY earlier batch. This is the Heaps-law readout that
    justifies (or kills) further crawling of a source: a new_ppm curve
    collapsing toward 0 means the next 10 TB of this source buys almost
    no new content — measured BEFORE paying to dedup it.

    Two map-side-combinable hash aggregates over the shared inverted
    index (first-seen batch per shingle = one MIN; per-batch distinct +
    novel counts = one conditional aggregate off the join back) — no
    window, no self-join, linear in index size at any scale. Integer
    floor-ppm output."""
    return f"""
WITH {_inv_cte(dialect, table, None, th_table, inv_tables)},
tagged AS (SELECT doc_id % {n_batches} AS b, g FROM inv),
firstseen AS (SELECT g, MIN(b) AS fb FROM tagged GROUP BY g),
per AS (
  SELECT t.b,
         COUNT(DISTINCT t.g) AS n_shingles,
         COUNT(DISTINCT CASE WHEN f.fb = t.b THEN t.g END) AS n_new
  FROM tagged t JOIN firstseen f ON t.g = f.g
  GROUP BY t.b
),
docs AS (
  -- from the index's sizes relation (docs contributing >=1 shingle),
  -- so the statement needs only the shared inv/sizes artifacts
  SELECT doc_id % {n_batches} AS b, COUNT(*) AS n_docs
  FROM sizes GROUP BY 1
)
SELECT p.b AS batch,
       CAST(d.n_docs AS BIGINT) AS n_docs,
       CAST(p.n_shingles AS BIGINT) AS n_shingles,
       CAST(p.n_new AS BIGINT) AS n_new,
       CAST(floor(p.n_new * 1000000 / p.n_shingles) AS BIGINT) AS new_ppm
FROM per p JOIN docs d ON p.b = d.b
ORDER BY batch"""


def rouge2_overlap_sql(
    dialect: str, table: str = "documents", th_table: str | None = None,
    bg_table: str | None = None,
) -> str:
    """ROUGE-2 overlap between snapshot-adjacent documents (q248, Lin
    2004): clipped-bigram precision / recall / F1 of each document
    against its predecessor in the same source — the standard
    quantitative answer to "how much of this page is boilerplate carried
    over from the last crawl of this site", and the eval metric dedup
    pipelines report when tuning near-dup thresholds (exact-match dedup
    misses high-ROUGE partial copies; this measures what survived).

    Semantics: multiset (clipped) bigram counts, exactly ROUGE-N —
    per pair Σ_g min(c_doc(g), c_ref(g)) over bigram hashes g, with
    recall = clip/Σc_ref, precision = clip/Σc_doc, F1 = 2·clip/(Σ+Σ).
    All reported as floor-ppm integers; bigram hashes reuse the
    shingle machinery's Horner form (h·A + h₊₁ mod P) off the shared
    token-hash relation (``th_table`` = the cached tokhash view on the
    Spark side, rebuilt inline by the oracle).

    Scale shape: pair generation is a lag() window over (source,
    doc_id) — O(N) pairs, never all-pairs; the clipped-overlap join is
    keyed (pair, bigram-hash), so work is Σ shared bigrams per adjacent
    pair. At 100 TB the pair source would swap to the candidate index
    (LSH buckets / same-URL-key), leaving the scoring statement
    unchanged — candidates in, clipped counts out."""
    pairs = f"""pairs AS (
  SELECT doc_id, lag(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
           AS ref_id
  FROM {table}
)"""
    if bg_table is not None:
        # Spark side: the cached bigram-occurrence artifact replaces the
        # tokenize+window derivation (which CTE inlining would re-run
        # once per reference — bgc twice in clip, tot twice in the
        # tail). g is the identical Horner combine of (a, b); tot =
        # COUNT(*) per doc over occurrences == SUM(c) over bgc.
        prefix = f"""
bg AS (SELECT doc_id, (a * {SH_A} + b) % {P.HASH_P} AS g FROM {bg_table})"""
    else:
        bigram = f"((h * {SH_A} + lead(h, 1) OVER w) % {P.HASH_P})"
        prefix = f"""
{th_cte(dialect, table, th_table)},
bg AS (
  SELECT doc_id, {bigram} AS g FROM th
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)"""
    return f"""
WITH {prefix},
bgc AS (
  SELECT doc_id, g, COUNT(*) AS c FROM bg WHERE g IS NOT NULL
  GROUP BY doc_id, g
),
tot AS (SELECT doc_id, SUM(c) AS t FROM bgc GROUP BY doc_id),
{pairs},
clip AS (
  SELECT p.doc_id, p.ref_id, SUM(LEAST(a.c, b.c)) AS clipped
  FROM pairs p
  JOIN bgc a ON a.doc_id = p.doc_id
  JOIN bgc b ON b.doc_id = p.ref_id AND b.g = a.g
  GROUP BY p.doc_id, p.ref_id
)
SELECT p.doc_id, p.ref_id,
       CAST(COALESCE(c.clipped, 0) AS BIGINT) AS clipped_bigrams,
       CAST(floor(COALESCE(c.clipped, 0) * 1000000 / tr.t) AS BIGINT)
         AS rouge2_recall_ppm,
       CAST(floor(COALESCE(c.clipped, 0) * 1000000 / td.t) AS BIGINT)
         AS rouge2_prec_ppm,
       CAST(floor(COALESCE(c.clipped, 0) * 2000000 / (td.t + tr.t))
         AS BIGINT) AS rouge2_f1_ppm
FROM pairs p
JOIN tot td ON td.doc_id = p.doc_id
JOIN tot tr ON tr.doc_id = p.ref_id
LEFT JOIN clip c ON c.doc_id = p.doc_id AND c.ref_id = p.ref_id
WHERE p.ref_id IS NOT NULL
ORDER BY p.doc_id"""


DEDUP_CURVE_T = (30, 40, 50, 60, 70)  # Jaccard thresholds, percent


def dedup_threshold_curve_sql(
    dialect: str,
    table: str = "documents",
    max_df: int | None = DEDUP_MAX_DF,
    th_table: str | None = None,
    inv_tables: tuple[str, str] | None = None,
) -> str:
    """Dedup operating curve (q251): pair count and greedy-removal doc
    count at each candidate Jaccard threshold — the measurement that
    turns "pick 0.5 because the paper did" into a corpus-specific
    operating point (how much of MY data does each threshold delete?).
    Run before committing a threshold to the q19/q20 production pass;
    the removal rule mirrors q19-family greedy keep-lowest-id (a doc is
    removed iff it is the HIGHER id of some at-or-above-threshold pair).

    One inverted-index co-occurrence pass at the LOOSEST candidate
    threshold, then every threshold evaluates as a conditional
    aggregate over the same (small) pairs relation crossed with a
    5-row thresholds VALUES list — the index join is paid once, not
    per threshold. Jaccard is one int/int division in DOUBLE, so the
    >= comparisons are bit-identical across engines (the q19
    contract). Scale: identical to q19 plus a 5x fan-out of the
    PAIRS relation only (pairs << corpus by construction)."""
    base = min(DEDUP_CURVE_T) / 100
    vals = ", ".join(f"({t})" for t in DEDUP_CURVE_T)
    return f"""
WITH {_inv_cte(dialect, table, max_df, th_table, inv_tables)},
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT co.doc_a, co.doc_b, {_JACCARD} AS jaccard
  FROM co
  JOIN sizes sa ON co.doc_a = sa.doc_id
  JOIN sizes sb ON co.doc_b = sb.doc_id
  WHERE {_JACCARD_PRED} >= {base}
),
ts(tp) AS (VALUES {vals})
SELECT CAST(ts.tp AS BIGINT) AS threshold_pct,
       CAST(SUM(CASE WHEN p.jaccard >= ts.tp / 100.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN p.jaccard >= ts.tp / 100.0
                                THEN p.doc_b END) AS BIGINT)
         AS n_docs_removed
FROM pairs p CROSS JOIN ts
GROUP BY ts.tp
ORDER BY threshold_pct"""


def source_overlap_sql(
    dialect: str, table: str = "documents",
    inv_tables: tuple | None = None,
    ssh_table: str | None = None,
) -> str:
    """Cross-source n-gram contamination matrix: for every PAIR of
    sources, the count of distinct 3-token shingles they share and the
    exact Jaccard (ppm) between their shingle SETS — the corpus-level
    complement of per-doc dedup. Detects template reuse, crawl overlap,
    and benchmark bleed BETWEEN sources before mixture weights are set
    (the q122/q206 mixtures assume sources are independent evidence; a
    high off-diagonal here says they are not).

    Shapes: the shared inverted index collapses to distinct
    (source, shingle) rows — corpus-linear — then the pair counts come
    from a self-join GROUPED BY SHINGLE whose fan-out per shingle is
    bounded by the source count (a small constant), never doc x doc;
    the final matrix is |sources|² rows built from one LEFT JOIN so
    zero-overlap pairs surface explicitly instead of silently missing.
    """
    from . import portable as P

    prefix = _inv_cte(dialect, table, None, inv_tables=inv_tables)
    jac = P.int_div(
        "1000000 * COALESCE(i.n_shared, 0)",
        "(sa.n + sb.n - COALESCE(i.n_shared, 0))",
        dialect,
    )
    # The matrix join has no equi-key (src < src); unhinted, Spark plans
    # a CartesianProduct. Broadcasting the |sources|-row side makes it a
    # BroadcastNestedLoopJoin — the right physical plan for a tiny×tiny
    # inequality join at any corpus size (the matrix is |sources|² rows
    # by construction). DuckDB reads the hint as a comment.
    bcast = "/*+ BROADCAST(sa) */ " if dialect == "spark" else ""
    # Spark: BROADCAST(d) pins the corpus-small doc-metadata side as
    # the build (ExistingRDD index relations carry no size estimate,
    # so the planner was broadcasting the million-row INDEX side and
    # streaming the doc table — raw join A/B'd 1.14 -> 0.32 s).
    # An r8 experiment replaced the 4×-derived DISTINCT(src, g)
    # relation with one collect_set-per-shingle + higher-order-function
    # pair generator: row-identical and ~even at sf0.1, but a measured
    # 10× REGRESSION (5.4 -> 23.9 s min at the 10× probe scale — the
    # interpreted per-element lambda over every shingle's source set
    # loses badly to the codegen'd self-join). The self-join form
    # stands; Spark's ReuseExchange already shares the distinct
    # aggregate's exchange between the self-join sides.
    bc_d = "/*+ BROADCAST(d) */ " if dialect == "spark" else ""
    # Spark side may read the session-materialized (src, g) relation
    # (:func:`source_shingles_view`): ssh is referenced four times
    # through the inlined ssizes/inter chains (ssizes twice as sa/sb,
    # the inter self-join twice), each re-running the inv ⋈ docs +
    # DISTINCT derivation (r9, guide §2.4). Oracle keeps the
    # self-contained text.
    ssh_body = (f"SELECT src, g FROM {ssh_table}"
                if ssh_table is not None else f"""
  SELECT {bc_d}DISTINCT d.source AS src, v.g
  FROM inv v JOIN {table} d ON d.doc_id = v.doc_id
""")
    return f"""
WITH {prefix},
ssh AS ({ssh_body}),
ssizes AS (SELECT src, COUNT(*) AS n FROM ssh GROUP BY src),
inter AS (
  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_shared
  FROM ssh a JOIN ssh b ON a.g = b.g AND a.src < b.src
  GROUP BY a.src, b.src
)
SELECT {bcast}sa.src AS src_a, sb.src AS src_b,
       CAST(COALESCE(i.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(sa.n AS BIGINT) AS n_shingles_a,
       CAST(sb.n AS BIGINT) AS n_shingles_b,
       CAST({jac} AS BIGINT) AS jaccard_ppm
FROM ssizes sa
JOIN ssizes sb ON sa.src < sb.src
LEFT JOIN inter i ON i.src_a = sa.src AND i.src_b = sb.src
ORDER BY src_a, src_b"""
