"""Similarity search over the ``embeddings`` table (``array<float>``).

Beyond-reference training-data extensions (SURVEY.md §7 M6):

- brute-force cosine top-k  — the exact baseline: broadcast the (small)
  query set against the corpus, per-row JVM dot product, per-query top-k;
- LSH-bucketed ANN          — random-hyperplane signatures; candidates
  share a bucket in ≥1 of L tables; exact cosine re-rank of candidates;
- embedding near-duplicates — the same LSH machinery, corpus × corpus,
  cosine ≥ threshold (the "embedding-cosine near-dup" dedup signal).

All math is generated once per dialect (:mod:`.portable`): left-to-right
DOUBLE folds make Spark and DuckDB produce bit-identical cosines, so all
three operators are value-hash oracle-checkable.

Scale design (100 TB / billions of vectors):

- brute force: queries broadcast (hint on the Spark side), corpus
  streams — one scan, no shuffle until the tiny per-query top-k window
  (shuffle key = query id, k rows survive per partition);
- ANN: bucket assignment is a projection; the candidate join shuffles on
  (table, bucket) only — vectors in different buckets never meet. L and
  the plane count trade recall vs candidate volume; at 100 TB you'd also
  partition the stored corpus BY bucket so the join is co-located;
- hyperplanes are literal constants baked into the plan (no side input).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from .. import artifact_time
from . import portable as P

DIM = 64
# 4 planes × 4 tables: 16 buckets/table, OR-amplified across tables.
# Plane count sets bucket selectivity (≈ corpus/2^planes vectors per
# bucket): scale it UP as the corpus grows to keep candidate sets
# bounded — at 10^9 vectors you'd run 16-20 planes; at the 500-vector
# fixture, 4 keeps per-bucket occupancy high enough for useful recall.
NUM_TABLES = 4      # L independent LSH tables (OR-amplification)
PLANES_PER_TABLE = 4

# Fixed-seed hyperplanes, rounded to 4dp so both engines parse the exact
# same literal; values in [-0.5, 0.5].
_rng = random.Random(7)
HYPERPLANES: list[list[list[float]]] = [
    [
        [round(_rng.random() - 0.5, 4) for _ in range(DIM)]
        for _ in range(PLANES_PER_TABLE)
    ]
    for _ in range(NUM_TABLES)
]

# Near-dup banding is deliberately MORE selective than ANN's: the
# corpus×corpus self-join makes candidate volume O(N²·L/2^planes), so
# selectivity, not recall-per-table, is the binding constraint. 8 planes
# × 6 tables: a true duplicate pair (cos ≈ 0.9, plane-collide p ≈ 0.857)
# survives one table with p ≈ 0.857^8 ≈ 0.29, and ≥1 of 6 tables with
# ≈ 0.87 — while candidate pairs drop 10× vs the 4-plane ANN banding.
NEARDUP_TABLES = 6
NEARDUP_PLANES = 8
_rng_nd = random.Random(11)
NEARDUP_HYPERPLANES: list[list[list[float]]] = [
    [
        [round(_rng_nd.random() - 0.5, 4) for _ in range(DIM)]
        for _ in range(NEARDUP_PLANES)
    ]
    for _ in range(NEARDUP_TABLES)
]


def _double_array_lit(vals: list[float], dialect: str) -> str:
    """Literal DOUBLE array (one AST node per engine, not a +/* chain)."""
    if dialect == "spark":
        return "array(" + ", ".join(f"{v}D" for v in vals) + ")"
    # plain numeric literals parse as DECIMAL in DuckDB — cast the array
    return "CAST([" + ", ".join(str(v) for v in vals) + "] AS DOUBLE[])"


def bucket_expr(
    vec: str,
    table_idx: int,
    dialect: str,
    hyperplanes: list[list[list[float]]] | None = None,
) -> str:
    """Pack the sign bits of the plane dot products into one int bucket.

    Nested-fold form over ONE flattened literal coefficient array: the
    naive expansion (64 literal mult-adds × planes × tables, inlined per
    CTE reference) built ~50k-node expression trees that cost Catalyst
    ~40 s of optimize/codegen time at 1.4 s of actual execution. Folds
    keep the tree ~constant-size per table; the per-plane dot is still a
    left-to-right DOUBLE fold, so cross-engine bit-parity holds.
    """
    hp = hyperplanes if hyperplanes is not None else HYPERPLANES
    planes = len(hp[table_idx])
    if dialect == "duckdb":
        # Native vectorized dot per plane: DuckDB evaluates list lambdas
        # ~1 µs/element, which made the fold form the oracle bottleneck
        # (planes × tables × 64 lambda evals per row). Only the SIGN of
        # the dot feeds the bucket, so fold-vs-native summation-order
        # noise (~1e-15 relative) cannot flip a bucket except on a
        # measure-zero boundary — bit-parity of the dot itself is not
        # required here (it IS required in the scored stage, which keeps
        # the fold form).
        bits = " + ".join(
            f"(CASE WHEN list_inner_product(CAST({vec} AS DOUBLE[]), "
            f"{_double_array_lit(hp[table_idx][q], 'duckdb')}) > 0 "
            f"THEN CAST({2 ** q} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for q in range(planes)
        )
        return f"({bits})"
    flat = [c for plane in hp[table_idx] for c in plane]
    arr = _double_array_lit(flat, dialect)
    dot_q = P.fold(
        P.transform(
            P.sequence_1_to(str(DIM), dialect),
            "i",
            f"{P.element(arr, f'(q - 1) * {DIM} + i', dialect)}"
            f" * CAST({P.element(vec, 'i', dialect)} AS DOUBLE)",
            dialect,
        ),
        "CAST(0.0 AS DOUBLE)",
        "s",
        "x",
        "s + x",
        dialect,
    )
    bit_q = (
        f"CASE WHEN {dot_q} > 0 THEN CAST(pow(2, q - 1) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
    )
    return P.fold(
        P.transform(
            P.sequence_1_to(str(planes), dialect), "q", bit_q, dialect
        ),
        "CAST(0 AS BIGINT)",
        "s",
        "x",
        "s + x",
        dialect,
    )


def _normed_cte(dialect: str, table: str, name: str = "normed") -> str:
    """``(vec_id, embedding, nrm)`` — the L2 norm computed ONCE per
    vector. Scoring stages divide the pair dot product by the two
    pre-computed norms: per-pair cost drops from three 64-wide folds to
    one, and the arithmetic (dot / (sqrt(a·a) * sqrt(b·b))) is the
    identical expression tree either way, so results are bit-equal."""
    return (
        f"{name} AS (SELECT vec_id, embedding, "
        f"{P.norm('embedding', DIM, dialect)} AS nrm FROM {table})"
    )


def _pair_cos(a_emb: str, a_nrm: str, b_emb: str, b_nrm: str, dialect: str) -> str:
    return f"({P.dot(a_emb, b_emb, DIM, dialect)} / ({a_nrm} * {b_nrm}))"


# ---------------------------------------------------------------------------
# brute-force cosine top-k
# ---------------------------------------------------------------------------


def cosine_topk_sql(
    dialect: str,
    table: str = "embeddings",
    num_queries: int = 5,
    k: int = 3,
) -> str:
    """Exact top-k neighbors (cosine) for each of the first ``num_queries``
    vectors. The BROADCAST hint pins the replicate-the-tiny-side plan in
    Spark; DuckDB reads it as a plain comment."""
    return f"""
WITH {_normed_cte(dialect, table)},
q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM normed
      WHERE vec_id < {num_queries}),
scored AS (
  SELECT /*+ BROADCAST(q) */ q.q_id, e.vec_id AS neighbor_id,
         {_pair_cos('q.q_emb', 'q.q_nrm', 'e.embedding', 'e.nrm', dialect)}
           AS cos_sim
  FROM q JOIN normed e ON e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, neighbor_id, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rn <= {k}
ORDER BY q_id, neighbor_id
"""


# ---------------------------------------------------------------------------
# LSH-bucketed ANN
# ---------------------------------------------------------------------------


def _buckets_select(
    dialect: str,
    src: str,
    hyperplanes: list[list[list[float]]] | None = None,
) -> str:
    """``(vec_id, tbl, bucket)`` rows — one per vector per LSH table.

    NOTE: SQL CTEs inline (neither Spark nor DuckDB materializes them),
    so every *reference* to this select re-computes the bucketization of
    ``src``. Callers must reference it once per large input — and filter
    small inputs (the query set) BEFORE bucketizing."""
    hp = hyperplanes if hyperplanes is not None else HYPERPLANES
    return " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"{bucket_expr('embedding', t, dialect, hp)} AS bucket FROM {src}"
        for t in range(len(hp))
    )


def _buckets_cte(
    dialect: str,
    src: str,
    hyperplanes: list[list[list[float]]] | None = None,
) -> str:
    return f"buckets AS ({_buckets_select(dialect, src, hyperplanes)})"


def ann_lsh_sql(
    dialect: str,
    table: str = "embeddings",
    num_queries: int = 5,
    k: int = 3,
    multiprobe: bool = True,
) -> str:
    """Approximate top-k: candidates = corpus vectors sharing an LSH
    bucket with the query in any table; exact cosine re-rank among
    candidates only. Same output shape as :func:`cosine_topk_sql`, so
    recall is directly measurable.

    ``multiprobe`` also probes every hamming-1 neighbor bucket of the
    query's bucket (flip one plane bit): near-misses on a single
    hyperplane are the dominant LSH failure mode, and probing them
    multiplies only the QUERY side (tiny) by planes+1 — the corpus-side
    index is untouched. Standard multiprobe-LSH recall/cost trade.
    """
    def _x(a: str, b: str) -> str:
        return f"({a} ^ {b})" if dialect == "spark" else f"xor({a}, {b})"

    n_flips = PLANES_PER_TABLE if multiprobe else 0
    flips = " UNION ALL ".join(
        f"SELECT {f} AS f" for f in range(n_flips + 1)
    )
    # flip f=0 keeps the bucket; f=j flips plane bit j-1. The flips table
    # CROSS JOINs qb0 (tiny × tiny) so qb0 is referenced ONCE — a UNION
    # of probe arms would re-expand the bucketization tree per arm (CTEs
    # inline in both engines) and blow up Catalyst's optimize time.
    probe_bucket = (
        "CASE WHEN f = 0 THEN bucket ELSE "
        + _x("bucket", "CAST(pow(2, f - 1) AS BIGINT)")
        + " END"
    )
    # qsrc filters to the (tiny) query set BEFORE bucketizing; the
    # corpus-side `buckets` is referenced exactly once (candidate join).
    return f"""
WITH {_buckets_cte(dialect, table)},
{_normed_cte(dialect, table)},
qsrc AS (SELECT vec_id, embedding FROM {table} WHERE vec_id < {num_queries}),
qb0 AS ({_buckets_select(dialect, "qsrc")}),
flips AS ({flips}),
qb AS (SELECT vec_id AS q_id, tbl, {probe_bucket} AS bucket
       FROM qb0 CROSS JOIN flips),
cand AS (
  -- DISTINCT over int ids only (hashing embedding arrays in a DISTINCT
  -- key is the slow path); embeddings re-join by id for scoring.
  SELECT DISTINCT qb.q_id, e.vec_id AS neighbor_id
  FROM qb JOIN buckets e
    ON qb.tbl = e.tbl AND qb.bucket = e.bucket AND e.vec_id <> qb.q_id
),
scored AS (
  SELECT c.q_id, c.neighbor_id,
         {_pair_cos('eq.embedding', 'eq.nrm', 'en.embedding', 'en.nrm', dialect)}
           AS cos_sim
  FROM cand c
  JOIN normed eq ON eq.vec_id = c.q_id
  JOIN normed en ON en.vec_id = c.neighbor_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, neighbor_id, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rn <= {k}
ORDER BY q_id, neighbor_id
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicates
# ---------------------------------------------------------------------------


def embedding_neardup_sql(
    dialect: str,
    table: str = "embeddings",
    threshold: float = 0.4,
) -> str:
    """Near-duplicate vector pairs: LSH candidates (any shared bucket,
    vec_a < vec_b) with exact cosine ≥ threshold. Corpus never
    self-joins outside bucket equality — the 100 TB-safe shape. Uses the
    selective NEARDUP banding (8 planes × 6 tables): the self-join makes
    candidate volume O(N²·L/2^planes), so per-bucket occupancy must stay
    ~constant as N grows (scale planes with log2 N)."""
    return f"""
WITH {_buckets_cte(dialect, table, NEARDUP_HYPERPLANES)},
{_normed_cte(dialect, table)},
cand AS (
  -- int-id-only DISTINCT; embeddings re-join by id for the exact score
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.vec_a, c.vec_b,
         {_pair_cos('ea.embedding', 'ea.nrm', 'eb.embedding', 'eb.nrm', dialect)}
           AS cos_sim
  FROM cand c
  JOIN normed ea ON ea.vec_id = c.vec_a
  JOIN normed eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, round(cos_sim, 6) AS cos_sim
FROM scored WHERE cos_sim >= {threshold}
ORDER BY vec_a, vec_b
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

NUM_CENTROIDS = 16
NPROBE = 6


def ivf_topk_sql(
    dialect: str,
    table: str = "embeddings",
    num_queries: int = 5,
    k: int = 3,
    num_centroids: int = NUM_CENTROIDS,
    nprobe: int = NPROBE,
) -> str:
    """IVF-style ANN: the *other* standard scale path next to LSH.

    Coarse quantizer: ``num_centroids`` deterministic seed vectors (the
    lowest ``vec_id``s — on uniform data any fixed pick is as good as a
    random one, and determinism makes the operator oracle-checkable;
    production would k-means these). Every corpus vector is assigned to
    its nearest centroid (the inverted list); each query probes its
    ``nprobe`` nearest centroids and exact-re-ranks only those lists.

    Scale shape (billions of vectors): assignment is corpus × centroids
    with the centroid side broadcast — a projection-like pass, done ONCE
    and persisted in production (it is the index). The probe join
    shuffles on c_id only, so a query meets just ``nprobe/num_centroids``
    of the corpus; recall/cost is tuned by nprobe exactly as in FAISS
    IVF. Same output shape as :func:`cosine_topk_sql` → recall is
    directly measurable against the exact baseline.
    """
    return f"""
WITH {_normed_cte(dialect, table)},
cent AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
         FROM normed WHERE vec_id < {num_centroids}),
assign AS (
  SELECT vec_id, c_id FROM (
    SELECT /*+ BROADCAST(cent) */ e.vec_id, cent.c_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_pair_cos('e.embedding', 'e.nrm', 'cent.c_emb', 'cent.c_nrm', dialect)}
               DESC, cent.c_id) AS rn
    FROM normed e CROSS JOIN cent
  ) a WHERE rn = 1
),
qprobe AS (
  SELECT q_id, c_id FROM (
    SELECT /*+ BROADCAST(cent) */ q.vec_id AS q_id, cent.c_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             {_pair_cos('q.embedding', 'q.nrm', 'cent.c_emb', 'cent.c_nrm', dialect)}
               DESC, cent.c_id) AS rn
    FROM normed q CROSS JOIN cent WHERE q.vec_id < {num_queries}
  ) p WHERE rn <= {nprobe}
),
cand AS (
  SELECT qprobe.q_id, a.vec_id AS neighbor_id
  FROM qprobe JOIN assign a ON a.c_id = qprobe.c_id
  WHERE a.vec_id <> qprobe.q_id
),
scored AS (
  SELECT c.q_id, c.neighbor_id,
         {_pair_cos('eq.embedding', 'eq.nrm', 'en.embedding', 'en.nrm', dialect)}
           AS cos_sim
  FROM cand c
  JOIN normed eq ON eq.vec_id = c.q_id
  JOIN normed en ON en.vec_id = c.neighbor_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, neighbor_id, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rn <= {k}
ORDER BY q_id, neighbor_id
"""


# ---------------------------------------------------------------------------
# DataFrame-native near-dup (Arrow-vectorized bucketization)
# ---------------------------------------------------------------------------


def embedding_neardup(spark, df, threshold: float = 0.4):
    """DataFrame pipeline for near-dup pairs — same semantics (and same
    oracle) as :func:`embedding_neardup_sql`, but the candidate pairs
    NEVER exist as rows: vectors group by (table, bucket) and every
    bucket scores its own pair matrix inside ONE ``applyInPandas``
    kernel, emitting only the pairs that already pass the threshold.

    Why this shape (r8 redesign — the r7 probe caught the old
    ids-self-join → DISTINCT → re-join-embeddings form collapsing at
    10× data): when the corpus contains near-dup CLIQUES, every clique
    member shares every bucket, so the candidate relation grows as
    Σ_bucket occupancy² — at 10× clones that was ~100× the pair ROWS
    pushed through a distinct and two embedding re-joins (~100 GB of
    shuffle). Here the only shuffle is the bucket groupBy of the
    (id, embedding) relation itself — N·T rows, corpus-linear — and
    the occupancy² term is numpy arithmetic inside the kernel (row-
    blocked, so memory is block×occ, never occ²). Pairs above the
    threshold are a data property (the audit's own output), not an
    intermediate. Residual scale knob unchanged from the docstring of
    :func:`embedding_neardup_sql`: per-bucket occupancy must stay
    ~bounded as N grows, i.e. scale planes with log2 N (the measured
    rule in tools/scale_probe_ann.json); a pathological single bucket
    is a plane-count misconfiguration, not a plan property.

    Parity: bucket ids feed only the candidate grouping (sign
    decisions — summation-order noise can't flip them off a
    measure-zero boundary), while the cosine keeps the portable
    left-to-right per-dimension fold — acc = acc + x_i·y_i in float64,
    one dim per step, np.sqrt correctly rounded like SQL sqrt — so
    every emitted value is bit-identical to the DuckDB oracle and the
    cross-table duplicates collapse on DISTINCT over the raw triple.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType

    # (T*P, DIM) stacked plane matrix; one matmul per Arrow batch.
    w = np.array(
        [plane for tbl in NEARDUP_HYPERPLANES for plane in tbl],
        dtype=np.float64,
    )
    n_tables, n_planes = len(NEARDUP_HYPERPLANES), len(NEARDUP_HYPERPLANES[0])
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def bucketize(emb: pd.Series) -> pd.Series:
        x = np.vstack(emb.to_numpy()).astype(np.float64)  # (n, DIM)
        bits = (x @ w.T) > 0  # (n, T*P)
        per_tbl = bits.reshape(len(x), n_tables, n_planes)
        buckets = (per_tbl * pow2).sum(axis=2)  # (n, T)
        return pd.Series(list(buckets))

    buckets = df.select(
        F.col("vec_id"),
        F.col("embedding"),
        F.posexplode(bucketize("embedding")).alias("tbl", "bucket"),
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)  # deterministic id order inside a group
        ids = ids[order]
        x = np.vstack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        n, dims = x.shape
        # per-vector norms via the same left-to-right fold
        nn = np.zeros(n)
        for d in range(dims):
            nn = nn + x[:, d] * x[:, d]
        rn = np.sqrt(nn)
        out_a: list = []
        out_b: list = []
        out_c: list = []
        blk = 1024  # bounds memory at blk×occ, keeps the fold vectorized
        col = np.arange(n)
        for s in range(0, n, blk):
            e = min(s + blk, n)
            dot = np.zeros((e - s, n))
            for d in range(dims):
                dot = dot + np.outer(x[s:e, d], x[:, d])
            cos = dot / (rn[s:e, None] * rn[None, :])
            hit = (cos >= threshold) & (col[None, :] > np.arange(s, e)[:, None])
            ii, jj = np.nonzero(hit)
            out_a.append(ids[s + ii])
            out_b.append(ids[jj])
            out_c.append(cos[ii, jj])
        if out_a:
            return pd.DataFrame({
                "vec_a": np.concatenate(out_a).astype(np.int64),
                "vec_b": np.concatenate(out_b).astype(np.int64),
                "cos_raw": np.concatenate(out_c),
            })
        return pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                             "vec_b": pd.Series(dtype="int64"),
                             "cos_raw": pd.Series(dtype="float64")})

    hits = buckets.groupBy("tbl", "bucket").applyInPandas(
        bucket_pairs, "vec_a long, vec_b long, cos_raw double"
    )
    return (
        hits.distinct()  # cross-table duplicates carry identical bits
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


def semdedup(spark, table: str, tau: float = None, max_cluster: int = None):
    """DataFrame pipeline for SemDeDup — same semantics (and same
    oracle) as :func:`semdedup_sql`, but the within-shard pair matrix
    is scored inside ONE ``applyInPandas`` kernel per (label, shard)
    group instead of a 100k-row pair join whose cosine ran through
    Spark's interpreted higher-order-function fold (~64 lambda steps
    per pair, no codegen — the fold was ~all of the gate's wall time).
    Vectors cross the Arrow boundary once (N rows); pairs never exist
    as Spark rows (guide §8: decide with vectorized native code, move
    the bytes once — the q24 embedding_neardup shape).

    Parity with the DuckDB oracle is bit-exact for the same reason as
    embedding_neardup: the cosine keeps the portable left-to-right
    per-dimension fold — acc = acc + x_i·y_i in float64 (float32
    elements widened first, as the SQL casts each element), one dim
    per step, np.sqrt/np.divide correctly rounded like SQL — and the
    keep rule (min smaller-id partner with cos >= tau) is integer
    arithmetic. Shard assignment (vec_id % ceil(|cluster|/cap)) stays
    relational, identical text to the SQL form."""
    from pyspark.sql import functions as F

    if tau is None:
        tau = SEMDEDUP_TAU
    if max_cluster is None:
        max_cluster = SEMDEDUP_CAP
    labx = spark.sql(f"""
WITH lab AS (SELECT vec_id, label FROM {table}),
csz AS (
  SELECT label,
         CAST(ceil(COUNT(*) / CAST({max_cluster} AS DOUBLE)) AS BIGINT)
           AS n_shards
  FROM lab GROUP BY label
),
labx AS (
  SELECT /*+ BROADCAST(c) */ l.vec_id, l.label,
         l.vec_id % c.n_shards AS shard
  FROM lab l JOIN csz c ON l.label = c.label
)
SELECT x.vec_id, x.label, x.shard, e.embedding
FROM labx x JOIN {table} e ON e.vec_id = x.vec_id
""")

    def shard_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        x = np.vstack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        n, dims = x.shape
        nn = np.zeros(n)
        for d in range(dims):
            nn = nn + x[:, d] * x[:, d]
        rn = np.sqrt(nn)
        canon = np.full(n, -1, dtype=np.int64)
        if n > 1:
            ii, jj = np.triu_indices(n, 1)  # i < j in vec_id order
            dot = np.zeros(len(ii))
            for d in range(dims):
                dot = dot + x[ii, d] * x[jj, d]
            cos = dot / (rn[ii] * rn[jj])
            hit = cos >= tau
            if hit.any():
                dup = pd.DataFrame(
                    {"j": jj[hit], "keep": ids[ii[hit]]}
                ).groupby("j")["keep"].min()
                canon[dup.index.to_numpy()] = dup.to_numpy()
        return pd.DataFrame({
            "vec_id": ids,
            "label": pdf["label"].to_numpy()[order],
            "canonical_id": pd.array(
                [None if c < 0 else int(c) for c in canon], dtype="Int64"
            ),
            "kept": canon < 0,
        })

    out = labx.groupBy("label", "shard").applyInPandas(
        shard_dedup, "vec_id long, label int, canonical_id long, kept boolean"
    )
    return out.select("vec_id", "label", "canonical_id", "kept").orderBy(
        "vec_id"
    )


# ---------------------------------------------------------------------------
# label centroids + nearest-centroid assignment (the k-means E-step)
# ---------------------------------------------------------------------------

CENTROID_SCALE = 10_000_000  # 1e7: float32 inputs carry < 8 significant
# digits, so scaled int64 coordinates are lossless-enough AND exact —
# every sum below is integer arithmetic, immune to accumulation order.


def _emb_rows(dialect: str, table: str) -> str:
    """(vec_id, label, dim, x): exploded embedding with the coordinate
    scaled to an exact int64."""
    from .dedup import _posexplode

    rows = _posexplode(
        dialect, "vec_id, label", table, "embedding", "dim", "val"
    )
    return (
        f"SELECT vec_id, label, dim, "
        f"CAST(ROUND(CAST(val AS DOUBLE) * {CENTROID_SCALE}) AS BIGINT) AS x "
        f"FROM ({rows}) er"
    )


def label_centroids_sql(dialect: str, table: str = "embeddings",
                        iv_table: str | None = None) -> str:
    """Per-label mean vector, one row per (label, dim). Sums run on
    scaled int64 coordinates (exact, order-independent); the single
    final division and 6dp round are bit-identical across engines.

    Scale: one explode + one (label, dim) hash-aggregate — map-side
    partial agg does most of the work; output is n_labels × DIM rows.
    The cnt side is hint-broadcast: it joins on `label` (a handful of
    distinct values), and Spark sizes aggregate outputs by their CHILD,
    so without the hint CBO shuffle-joins the exploded relation on a
    tiny key domain — the skewed-64-key crawl the r8 probe caught on
    the sibling assign query. DuckDB reads the hint as a comment."""
    bc = "/*+ BROADCAST(cnt) */ " if dialect == "spark" else ""
    return f"""
WITH iv AS ({_iv_body(dialect, table, iv_table)}),
cnt AS (SELECT label, COUNT(DISTINCT vec_id) AS n FROM iv GROUP BY label)
SELECT {bc}iv.label, iv.dim,
       round(CAST(SUM(iv.x) AS DOUBLE)
             / (MAX(cnt.n) * {CENTROID_SCALE}.0), 6) AS centroid
FROM iv JOIN cnt ON iv.label = cnt.label
GROUP BY iv.label, iv.dim
ORDER BY iv.label, iv.dim
"""


def centroid_assign_sql(dialect: str, table: str = "embeddings",
                        iv_table: str | None = None) -> str:
    """Nearest-centroid assignment (k-means E-step) by EUCLIDEAN
    distance to the mean centroid, emitted as the (true label × assigned
    label) confusion matrix.

    argmin ||v - c_l||² = argmax (2·v·c_l - ||c_l||²) since ||v||² is
    constant per vector. Both terms build from exact integer sums:
    every product (coordinate × centroid-sum, and centroid-sum squared)
    casts one operand to DECIMAL(19,0) first, so the multiply widens to
    DECIMAL(38,0) and the SUM accumulates exactly — int64 products
    would approach 2^63 at larger label cardinalities and Spark
    (non-ANSI) would wrap silently where DuckDB errors. Each candidate's score then
    takes exactly two divisions and one subtraction on identical
    doubles, so the argmax is deterministic on both engines (ties break
    on candidate label).

    Scale: centroids are k × DIM rows — the join MUST broadcast them,
    and the hint is load-bearing, not decorative (r8 probe finding):
    the dots join keys on `dim` — 64 distinct values — and Spark sizes
    an aggregate's output by its CHILD relation, so CBO refuses the
    auto-broadcast and plans a sort-merge join whose shuffle hashes the
    whole exploded corpus into 64 skewed partitions (the 10× probe run
    sat at ~1 core for minutes; with the hint the stage is a map-only
    broadcast join at input parallelism). Same treatment for the tiny
    cnt/cnorm joins keyed on `label`. The per-vector work is one
    aggregate over DIM·k products, shuffled on vec_id only."""
    dec = "DECIMAL(19,0)"
    bc = "/*+ BROADCAST(c) */ " if dialect == "spark" else ""
    bs = "/*+ BROADCAST(cnt), BROADCAST(cnorm) */ " if dialect == "spark" \
        else ""
    return f"""
WITH iv AS ({_iv_body(dialect, table, iv_table)}),
csum AS (SELECT label, dim, CAST(SUM(x) AS BIGINT) AS sx
         FROM iv GROUP BY label, dim),
cnt AS (SELECT label, COUNT(DISTINCT vec_id) AS n FROM iv GROUP BY label),
cnorm AS (
  SELECT label,
         CAST(SUM(CAST(sx AS {dec}) * sx) AS DOUBLE) AS ssq
  FROM csum GROUP BY label
),
dots AS (
  SELECT {bc}i.vec_id, i.label AS true_label, c.label AS cand,
         CAST(SUM(CAST(i.x AS DECIMAL(19,0)) * c.sx) AS DOUBLE) AS dot_scaled
  FROM iv i JOIN csum c ON i.dim = c.dim
  GROUP BY i.vec_id, i.label, c.label
),
scored AS (
  SELECT {bs}d.vec_id, d.true_label, d.cand,
         2.0 * d.dot_scaled / cnt.n
           - cnorm.ssq / (CAST(cnt.n AS DOUBLE) * cnt.n) AS score
  FROM dots d
  JOIN cnt ON cnt.label = d.cand
  JOIN cnorm ON cnorm.label = d.cand
),
best AS (
  SELECT vec_id, true_label, cand,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, cand) AS rn
  FROM scored
)
SELECT true_label, cand AS assigned_label, COUNT(*) AS n_vecs
FROM best WHERE rn = 1
GROUP BY true_label, cand
ORDER BY true_label, assigned_label
"""


# ---------------------------------------------------------------------------
# SemDeDup (cluster-then-dedup semantic deduplication)
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.3
# Max comparison-group size: clusters above this split into
# ceil(|cluster|/cap) shards, bounding candidate volume to ~N*cap.
SEMDEDUP_CAP = 128


def semdedup_sql(
    dialect: str,
    table: str = "embeddings",
    tau: float = SEMDEDUP_TAU,
    max_cluster: int = SEMDEDUP_CAP,
) -> str:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by exact
    pairwise cosine WITHIN clusters only — never across the corpus.
    A vector is dropped iff some same-cluster vector with a smaller id
    has cosine ≥ ``tau`` with it (the paper's keep-one-per-ε-ball rule
    with min-id canonicalization, so the kept set is deterministic and
    order-free). Emits every vector's verdict plus its canonical
    partner (the smallest-id duplicate it collapses into; NULL = kept).

    Clusters here are the k-means assignment the fixture carries as
    ``label`` (q99/q100 verify the M/E steps that produce it). The
    paper's cost model wants k ∝ corpus size so cluster size stays
    ~constant; a fixed labeling can't promise that, so the budget is
    enforced MECHANICALLY: any cluster above ``max_cluster`` members is
    split into ceil(|cluster|/cap) shards by ``vec_id % n_shards``
    (deterministic on any layout, no RNG, balanced for dense ids) and
    pairwise cosine runs within (cluster, shard) only. Candidate
    volume is then Σ_shards |shard|² ≤ N·cap — linear in the corpus —
    instead of Σ|cluster|² (quadratic when cluster count is fixed).
    Cross-shard near-dups inside an oversized cluster are forgone,
    the same recall trade the paper makes by raising k; clusters at or
    under the cap (every gate fixture) are bit-identical to the
    unsharded form. Shape at 100 TB: one tiny per-cluster count
    aggregate, an equi-join on (cluster, shard), one shuffle on
    vec_id; the cosine is the same bit-identical DOUBLE fold both
    engines share with the neardup/topk family."""
    return f"""
WITH {_normed_cte(dialect, table)},
lab AS (SELECT vec_id, label FROM {table}),
csz AS (
  SELECT label,
         CAST(ceil(COUNT(*) / CAST({max_cluster} AS DOUBLE)) AS BIGINT)
           AS n_shards
  FROM lab GROUP BY label
),
labx AS (
  SELECT l.vec_id, l.label, l.vec_id % c.n_shards AS shard
  FROM lab l JOIN csz c ON l.label = c.label
),
pairs AS (
  SELECT la.label, la.vec_id AS keep_id, lb.vec_id AS dup_id
  FROM labx la JOIN labx lb
    ON la.label = lb.label AND la.shard = lb.shard
   AND la.vec_id < lb.vec_id
),
scored AS (
  SELECT p.label, p.keep_id, p.dup_id,
         {_pair_cos('ea.embedding', 'ea.nrm', 'eb.embedding', 'eb.nrm',
                    dialect)} AS cos_sim
  FROM pairs p
  JOIN normed ea ON ea.vec_id = p.keep_id
  JOIN normed eb ON eb.vec_id = p.dup_id
),
dup_links AS (
  SELECT dup_id AS vec_id, MIN(keep_id) AS canonical_id
  FROM scored WHERE cos_sim >= {tau}
  GROUP BY dup_id
)
SELECT l.vec_id, l.label, d.canonical_id,
       CAST(d.canonical_id IS NULL AS BOOLEAN) AS kept
FROM lab l LEFT JOIN dup_links d ON l.vec_id = d.vec_id
ORDER BY l.vec_id
"""


# ---------------------------------------------------------------------------
# scalar quantization (int8 embedding compression)
# ---------------------------------------------------------------------------

QUANT_LEVELS = 255


def quantization_sql(dialect: str, table: str = "embeddings") -> str:
    """Int8 scalar quantization of the embedding column — the standard
    4x compression applied before ANN serving (FAISS SQ8 analog): per
    dimension, code = floor((v - min_d) / (max_d - min_d) · 255 + 0.5),
    reconstruction = min_d + code/255 · (max_d - min_d). Emits a
    per-label audit: exact code checksum plus reconstruction MSE and
    worst-case absolute error.

    Determinism: codes use floor(x + 0.5) (not round(), whose half-way
    rule differs across engines in principle); a constant dimension
    (max = min) quantizes to code 0 with zero error rather than a
    silent NULL from division by zero; the MSE accumulates
    per-row DECIMAL(18,15) casts of the squared error — the error is
    bounded by (range/255)² ≪ 1, so the cast is exact-range-safe and
    the SUM is order-independent.

    Shape at 100 TB: one explode + a DIM-sized min/max aggregate
    (map-side combined, broadcast back), then a map-only encode pass —
    the same two-phase stats-then-transform shape as the centroid
    family; no window, no sort."""
    from .dedup import _posexplode

    rows = _posexplode(dialect, "vec_id, label", table, "embedding", "dim", "val")
    return f"""
WITH iv AS (
  SELECT vec_id, label, dim, CAST(val AS DOUBLE) AS v FROM ({rows}) er
),
rng AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM iv GROUP BY dim),
codes AS (
  SELECT i.vec_id, i.label, i.v, r.mn, r.mx,
         CASE WHEN r.mx = r.mn THEN CAST(0 AS BIGINT)
              ELSE CAST(floor((i.v - r.mn) / (r.mx - r.mn) * {QUANT_LEVELS}
                              + 0.5) AS BIGINT)
         END AS code
  FROM iv i JOIN rng r ON i.dim = r.dim
),
recon AS (
  SELECT label, vec_id, code,
         v - (mn + CAST(code AS DOUBLE) / {QUANT_LEVELS} * (mx - mn)) AS err
  FROM codes
)
SELECT label,
       CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       CAST(SUM(code) AS BIGINT) AS code_checksum,
       round(CAST(SUM(CAST(err * err AS DECIMAL(18,15))) AS DOUBLE)
             / COUNT(*), 9) AS mse,
       round(MAX(abs(err)), 6) AS max_abs_err
FROM recon
GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# power iteration (dominant eigenvector / PCA first component direction)
# ---------------------------------------------------------------------------

PI_SCALE = 1000     # |x| < 1 in this corpus -> scaled coords < ~1000
PI_ITERS = 2        # fixed, unrolled: output is defined as "v after k
# steps", not "converged v" — the determinism contract of q131 PageRank.


def _iv_body(dialect: str, table: str, iv_table: str | None) -> str:
    """``iv`` CTE body: the session-materialized exploded-coordinate
    view (:func:`emb_rows_view`) when the Spark caller passes one, the
    self-contained explode text otherwise (the oracle always does)."""
    if iv_table is not None:
        return f"SELECT vec_id, label, dim, x FROM {iv_table}"
    return _emb_rows(dialect, table)


def _pi_iv_sql(dialect: str, table: str) -> str:
    """(vec_id, dim, x): exploded embedding, coordinate scaled to exact
    int64 at PI_SCALE (coarser than CENTROID_SCALE because iteration
    products compound: |w| <= N * DIM * PI_SCALE^2 * max|x|^2 stays
    far under 2^63 even at 10^9 rows)."""
    from .dedup import _posexplode

    rows = _posexplode(dialect, "vec_id", table, "embedding", "dim", "val")
    return (
        f"SELECT vec_id, dim, "
        f"CAST(ROUND(CAST(val AS DOUBLE) * {PI_SCALE}) AS BIGINT) AS x "
        f"FROM ({rows}) er"
    )


def power_iteration_sql(dialect: str, table: str = "embeddings",
                        iters: int = PI_ITERS) -> str:
    """Oracle form of :func:`power_iteration` — the same fixed-point
    arithmetic as CTEs (DuckDB materializes each CTE once, so the
    multiple references cost nothing; Spark would inline them, which is
    why the engine side steps iteration-by-iteration instead).

    The operator: v_{k+1} = rescale(Aᵀ(A v_k)) on the N×DIM scaled
    integer matrix A — the distributed power-iteration step behind
    PCA's first component / spectral embedding quality checks. Every
    product and sum is int64; rescaling is truncating division by
    g = max(1, max|w| trunc-div PI_SCALE), so the result is
    bit-identical on any engine and any accumulation order."""
    parts = [f"iv AS ({_pi_iv_sql(dialect, table)})"]
    prev = None
    for k in range(1, iters + 1):
        y_src = (
            f"SELECT vec_id, SUM(x * {PI_SCALE}) AS y FROM iv GROUP BY vec_id"
            if prev is None else
            f"SELECT iv.vec_id, SUM(iv.x * {prev}.v) AS y "
            f"FROM iv JOIN {prev} ON iv.dim = {prev}.dim GROUP BY iv.vec_id"
        )
        parts.append(f"y{k} AS ({y_src})")
        parts.append(
            f"w{k} AS (SELECT iv.dim, SUM(iv.x * y{k}.y) AS w "
            f"FROM iv JOIN y{k} ON iv.vec_id = y{k}.vec_id GROUP BY iv.dim)"
        )
        parts.append(
            f"g{k} AS (SELECT GREATEST(1, "
            f"{P.int_div(f'MAX(ABS(w))', str(PI_SCALE), dialect)}) AS g "
            f"FROM w{k})"
        )
        parts.append(
            f"v{k} AS (SELECT dim, {P.int_div('w', 'g', dialect)} AS v "
            f"FROM w{k}, g{k})"
        )
        prev = f"v{k}"
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(dim AS BIGINT) AS dim, CAST(v AS BIGINT) AS v "
          f"FROM {prev} ORDER BY dim"
    )


def power_iteration(spark, table: str, iters: int = PI_ITERS):
    """Engine-side power iteration: materialize the scaled coordinate
    relation ONCE (plan-truncating checkpoint, shared by every pass),
    then per iteration run one distributed two-aggregate pass
    (y = A v as a map + vec_id aggregate; w = Aᵀ y as a dim aggregate)
    and collect w — DIM rows, a bounded driver transfer like the
    percentile cut points — to fold the rescale and feed v back as a
    broadcast literal. At 100 TB each iteration is two hash shuffles
    (vec_id, then dim) over the persisted relation; v itself is 64
    integers and never a distributed join partner.

    r9: the scaled relation is session-cached per (session, table) —
    it is a pure unpacking of the immutable embeddings (the same
    artifact class as emb_rows_view), and the previous form paid the
    checkpoint job on EVERY call."""
    from .dedup import materialize

    view = artifact_time.view(
        spark, "pi_iv", table,
        lambda: materialize(spark.sql(_pi_iv_sql("spark", table))))

    def trunc_div(a: int, b: int) -> int:
        # DuckDB's // truncates toward zero; Python's floors — pin
        # truncation so engine and oracle agree on negative components.
        return abs(a) // b * (1 if a >= 0 else -1)

    v: list[int] | None = None
    for _ in range(iters):
        if v is None:
            y = f"SELECT vec_id, SUM(x * {PI_SCALE}) AS y FROM {view} GROUP BY vec_id"
        else:
            arr = "array(" + ", ".join(f"CAST({c} AS BIGINT)" for c in v) + ")"
            y = (
                f"SELECT vec_id, SUM(x * element_at({arr}, "
                f"CAST(dim + 1 AS INT))) AS y FROM {view} GROUP BY vec_id"
            )
        rows = spark.sql(
            f"WITH y AS ({y}) "
            f"SELECT iv.dim, SUM(iv.x * y.y) AS w FROM {view} iv "
            f"JOIN y ON iv.vec_id = y.vec_id GROUP BY iv.dim"
        ).collect()
        w = {r["dim"]: r["w"] for r in rows}
        ws = [w[d] for d in sorted(w)]
        g = max(1, trunc_div(max(abs(x) for x in ws), PI_SCALE))
        v = [trunc_div(x, g) for x in ws]
    import pandas as pd_  # local: avoid polluting module namespace

    out = spark.createDataFrame(
        [(int(d), int(x)) for d, x in enumerate(v)], "dim BIGINT, v BIGINT"
    )
    return out.orderBy("dim")


# ---------------------------------------------------------------------------
# ANN recall audit (index-quality monitoring)
# ---------------------------------------------------------------------------


def recall_audit_sql(dialect: str, table: str = "embeddings",
                     num_queries: int = 5, k: int = 3) -> str:
    """Recall@k of the LSH ANN index against the exact brute-force
    ranking, as one relational program — the index-quality monitor a
    production similarity service runs on every index rebuild (the
    measured counterpart of the recall FLOORS asserted in tests).

    Per query: |approx ∩ exact| / |exact|; the audit emits the query
    count, micro-averaged recall, and the worst per-query recall.
    Everything downstream of the two candidate programs is integer
    counting + one final division, so the audit itself is hash-exact
    across engines (both engines run the same deterministic exact and
    ANN programs). Scale: both sides are the already-scale-shaped
    operators; the audit adds one broadcast-size join over 2·Q·k rows.
    """
    exact = cosine_topk_sql(dialect, table, num_queries, k)
    approx = ann_lsh_sql(dialect, table, num_queries, k)
    return f"""
WITH e AS ({exact}),
a AS ({approx}),
hit AS (
  SELECT e.q_id, COUNT(a.neighbor_id) AS hits, COUNT(*) AS n
  FROM e LEFT JOIN a
    ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.q_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       round(CAST(SUM(hits) AS DOUBLE) / SUM(n), 6) AS micro_recall,
       round(MIN(CAST(hits AS DOUBLE) / n), 6) AS worst_recall
FROM hit
"""


# ---------------------------------------------------------------------------
# product quantization + ADC search (FAISS PQ analog)
# ---------------------------------------------------------------------------

PQ_M = 8            # subspaces (DIM/PQ_M dims each)
PQ_K = 16           # centroids per subspace (4-bit codes; 8x4=32-bit
# vector codes — measured recall@10 0.60 vs 0.33 at the 4x3-bit budget
# on the fixture, still a 8x memory compression over float32)
PQ_SCALE = 1000     # |x| < 1 in this corpus -> scaled coords < ~1000


def _pq_iv_sql(dialect: str, table: str = "embeddings") -> str:
    """(vec_id, m, j, x): exploded embedding split into PQ_M subspaces,
    coordinate scaled to exact int64."""
    from .dedup import _posexplode

    sub_d = DIM // PQ_M
    rows = _posexplode(dialect, "vec_id", table, "embedding", "dim", "val")
    return (
        f"SELECT vec_id, {P.int_div('dim', str(sub_d), dialect)} AS m, "
        f"dim % {sub_d} AS j, "
        f"CAST(ROUND(CAST(val AS DOUBLE) * {PQ_SCALE}) AS BIGINT) AS x "
        f"FROM ({rows}) er"
    )


def _pq_c1_sql(dialect: str, iv: str) -> str:
    """Refined codebook c1(m, c, j, x): seed centroids = first PQ_K
    vectors' subvectors, one integer k-means step (assign by integer
    L2, truncating-integer-mean re-center, empty clusters keep their
    seed)."""
    return f"""
WITH c0 AS (
  SELECT m, vec_id AS c, j, x FROM {iv} WHERE vec_id < {PQ_K}
),
adist0 AS (
  SELECT /*+ BROADCAST(c0) */
         i.vec_id, i.m, c0.c, SUM((i.x - c0.x) * (i.x - c0.x)) AS d
  FROM {iv} i JOIN c0 ON i.m = c0.m AND i.j = c0.j
  GROUP BY i.vec_id, i.m, c0.c
),
assign0 AS (
  SELECT vec_id, m, MIN(d * {PQ_K} + c) % {PQ_K} AS c
  FROM adist0 GROUP BY vec_id, m
),
c1sum AS (
  SELECT i.m, a.c, i.j, {P.int_div('SUM(i.x)', 'COUNT(*)', dialect)} AS x
  FROM {iv} i JOIN assign0 a ON i.vec_id = a.vec_id AND i.m = a.m
  GROUP BY i.m, a.c, i.j
)
SELECT /*+ BROADCAST(c1sum) */ c0.m, c0.c, c0.j,
       COALESCE(c1sum.x, c0.x) AS x
FROM c0 LEFT JOIN c1sum
  ON c0.m = c1sum.m AND c0.c = c1sum.c AND c0.j = c1sum.j
"""


def _pq_main_sql(iv: str, c1: str, num_queries: int, k: int) -> str:
    """Encode + ADC search over materialized iv / c1 relations."""
    return f"""
WITH adist1 AS (
  SELECT /*+ BROADCAST(c) */
         i.vec_id, i.m, c.c, SUM((i.x - c.x) * (i.x - c.x)) AS d
  FROM {iv} i JOIN {c1} c ON i.m = c.m AND i.j = c.j
  GROUP BY i.vec_id, i.m, c.c
),
codes AS (
  SELECT vec_id, m, MIN(d * {PQ_K} + c) % {PQ_K} AS c
  FROM adist1 GROUP BY vec_id, m
),
dtab AS (
  SELECT /*+ BROADCAST(c) */
         q.vec_id AS q_id, q.m, c.c, SUM((q.x - c.x) * (q.x - c.x)) AS d
  FROM {iv} q JOIN {c1} c ON q.m = c.m AND q.j = c.j
  WHERE q.vec_id < {num_queries}
  GROUP BY q.vec_id, q.m, c.c
),
adc AS (
  SELECT /*+ BROADCAST(dt) */
         dt.q_id, co.vec_id AS neighbor_id, SUM(dt.d) AS adc_dist
  FROM codes co
  JOIN dtab dt ON co.m = dt.m AND co.c = dt.c
  WHERE co.vec_id <> dt.q_id
  GROUP BY dt.q_id, co.vec_id
),
ranked AS (
  SELECT q_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, neighbor_id) AS rnk
  FROM adc
)
SELECT q_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
       CAST(adc_dist AS BIGINT) AS adc_dist
FROM ranked WHERE rnk <= {k}
ORDER BY q_id, rnk
"""


def pq_adc_sql(dialect: str, table: str = "embeddings",
               num_queries: int = 5, k: int = 3) -> str:
    """Product quantization + asymmetric-distance search (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    the FAISS PQ index): vectors are chopped into ``PQ_M`` subspaces,
    each subvector coded as its nearest of ``PQ_K`` per-subspace
    centroids, and a query scans CODES (M small ints per vector, a
    16x+ memory compression at these parameters) by summing M
    table-lookup distances instead of touching floats.

    Trained relationally and integer-exactly so the whole program is
    hash-identical across engines: coordinates scale to int64
    (PQ_SCALE); seed centroids are the first PQ_K vectors' subvectors;
    ONE k-means refinement step runs per subspace; vectors re-assign
    to the refined centroids to give codes; the ADC distance table for
    the first ``num_queries`` vectors drives an exact top-``k`` over
    approximate distances. Argmins encode as ``MIN(dist*PQ_K + c)`` —
    pure integer, no float tie ambiguity anywhere.

    Scale shape: every stage is an equi-join + hash aggregate over the
    exploded (vec, dim) relation — the expensive assignments are
    ``N·DIM·PQ_K``-row map-side joins with immediate partial
    aggregation, no all-pairs stage; codes are ``N·PQ_M`` rows; the
    query-side ADC join touches ``N·PQ_M`` rows per query batch. At
    100 TB the codes relation IS the persisted index (parquet it once;
    scans then read M bytes per vector instead of the embedding).
    The iv / c1 relations are each referenced several times — DuckDB
    materializes CTEs, Spark inlines them, so the engine side
    (:func:`pq_adc`) materializes both and runs the same texts over
    the cached views. The codebook / distance-table join sides carry
    explicit BROADCAST hints (comment syntax — DuckDB ignores them):
    checkpointed artifacts expose no size stats, and without the hint
    the CBO was observed broadcasting the N·DIM exploded side instead,
    which collapses join parallelism to the 1024-row codebook's
    partition count and probed 7.8x at 10x data; hinted, every
    assignment is a map-side join over the exploded relation's full
    width (probe re-measured ~linear)."""
    iv = _pq_iv_sql(dialect, table)
    c1 = _pq_c1_sql(dialect, "iv")
    main = _pq_main_sql("iv", "c1", num_queries, k)
    # fold the part texts into one WITH chain for the oracle
    c1_body = c1.strip()
    assert c1_body.startswith("WITH ")
    c1_inner = c1_body[len("WITH "):]
    c1_select_at = c1_inner.rindex("SELECT /*+ BROADCAST(c1sum) */ c0.m")
    main_body = main.strip()
    assert main_body.startswith("WITH ")
    return (
        f"WITH iv AS ({iv}),\n"
        + c1_inner[:c1_select_at].rstrip().rstrip(",")
        + f",\nc1 AS ({c1_inner[c1_select_at:]}),\n"
        + main_body[len("WITH "):]
    )


def emb_rows_view(spark, table: str, cache_key=None) -> str:
    """Register (and persist) the exploded scaled-coordinate relation
    ``(vec_id, label, dim, x)`` — :func:`_emb_rows` materialized once
    per (session, corpus). The centroid/JL/quality family references
    ``iv`` two to four times per statement and Spark inlines CTEs, so
    each reference re-ran the posexplode + scale projection; this is
    the unpacked coordinate table a vector pipeline stores columnar
    next to its packed embeddings (the emb-side twin of tokhash)."""
    from .dedup import materialize

    return artifact_time.view(
        spark, "emb_rows", cache_key if cache_key is not None else table,
        lambda: materialize(spark.sql(_emb_rows("spark", table))))


def pq_adc(spark, table: str, num_queries: int = 5, k: int = 3):
    """Engine-side PQ: materialize the exploded scaled relation and the
    refined codebook ONCE per (session, corpus) — training is the
    index-build you persist, not a per-query cost (the tokhash-view
    pattern) — then run encode + ADC over the cached views."""
    from .dedup import materialize


    def mk(stage, sql_text):
        return artifact_time.view(
            spark, "pq_codebook", (table, stage),
            lambda: materialize(spark.sql(sql_text)))

    ivv = mk("iv", _pq_iv_sql("spark", table))
    c1v = mk("c1", _pq_c1_sql("spark", ivv))
    return spark.sql(_pq_main_sql(ivv, c1v, num_queries, k))


JL_K = 16  # target dimensionality of the sign random projection


def jl_projection_sql(dialect: str, table: str = "embeddings",
                      iv_table: str | None = None) -> str:
    """Johnson–Lindenstrauss sign random projection (Achlioptas 2003:
    ±1 entries suffice) from DIM=64 to ``JL_K``=16 dimensions, with a
    per-vector distortion audit — the dimensionality-reduction
    preprocessing step ahead of ANN indexing / clustering at 100 TB
    (4× fewer bytes per vector before LSH/IVF/PQ even start).

    The projection matrix is never materialized: entry sign(d, k) =
    1 − 2·(mix(d·K + k) mod 2), with the Lehmer double-mix from the
    sketch family (sketches._mix) decorrelating the small integer
    inputs — fully deterministic, engine-portable, and identical on
    any partition layout. Coordinates ride the exact int64 scaling of
    :func:`_emb_rows`, so projections, norms, and checksums are
    all-integer; the only float op is the final distortion ratio,
    one fixed IEEE expression tree + FLOOR (truncation is explicit
    because DuckDB rounds on double→BIGINT casts while Spark
    truncates).

    E[‖proj‖²] = K·‖x‖², so distortion_ppm = 10⁶·‖proj‖²/(K·‖x‖²)
    concentrates around 10⁶ — the audit column the JL lemma bounds.

    Scale: one explode (N·DIM rows) cross-joined with the K-row VALUES
    list, collapsed by map-side partial aggregation to N·K rows before
    the only shuffle (a vector's rows are co-partitioned after the
    explode, so combiners do the full collapse); per-row cost is
    DIM·K integer multiply-adds. No UDFs, no driver loops."""
    from .sketches import _mix

    ks = ", ".join(f"({k})" for k in range(JL_K))
    sign = f"(1 - 2 * ({_mix(f'CAST(iv.dim * {JL_K} + ks.k AS BIGINT)')} % 2))"
    ratio = (
        f"FLOOR(CAST(p2.normp2 AS DOUBLE) * CAST(1000000 AS DOUBLE)"
        f" / (CAST({JL_K} AS DOUBLE) * CAST(n2.norm2 AS DOUBLE)))"
    )
    return f"""
WITH iv AS ({_iv_body(dialect, table, iv_table)}),
ks AS (SELECT * FROM (VALUES {ks}) AS t(k)),
proj AS (
  SELECT iv.vec_id, ks.k, SUM({sign} * iv.x) AS p
  FROM iv CROSS JOIN ks
  GROUP BY iv.vec_id, ks.k
),
n2 AS (SELECT vec_id, SUM(x * x) AS norm2 FROM iv GROUP BY vec_id),
p2 AS (
  SELECT vec_id, SUM(p * p) AS normp2, SUM(p * (k + 1)) AS proj_checksum
  FROM proj GROUP BY vec_id
)
SELECT n2.vec_id AS vec_id,
       CAST(n2.norm2 AS BIGINT) AS norm2,
       CAST(p2.normp2 AS BIGINT) AS normp2,
       CAST(p2.proj_checksum AS BIGINT) AS proj_checksum,
       CAST({ratio} AS BIGINT) AS distortion_ppm
FROM n2 JOIN p2 ON n2.vec_id = p2.vec_id
ORDER BY vec_id
"""


HARD_NEG_ANCHORS = 50  # target anchor COUNT — constant at every scale


def hard_negative_sql(
    dialect: str, table: str = "embeddings",
    n_anchors: int = HARD_NEG_ANCHORS,
) -> str:
    """Hard-negative mining for contrastive training (q235): per anchor,
    the most-similar vector with a DIFFERENT label (the hard negative),
    the most-similar vector with the SAME label (the positive), and the
    triplet margin — the miner that turns a labeled embedding corpus
    into triplet/InfoNCE training pairs (Schroff et al. FaceNet
    semi-hard mining; the label-aware complement of q22's unlabeled
    top-k).

    The anchor slice is a deterministic hash-free modulus whose divisor
    is DERIVED FROM THE CORPUS SIZE (``vec_id % (n DIV n_anchors) = 0``),
    so the anchor COUNT stays ~``n_anchors`` at every scale and the
    anchors × corpus work grows LINEARLY with the corpus — a fixed
    modulus would grow anchors with the data and turn the miner
    quadratic (the 10x probe measured exactly that, 8.2x wall, before
    this rule). Exact brute force with the anchor side broadcast; both
    rankings come from ONE scored relation via a (anchor, same-label)
    row_number, so the corpus is scanned once. At 100 TB the candidate
    set would come from the LSH/IVF index (q23/q24) and this statement
    ranks candidates; the ranking arithmetic is the shared fold-form
    cosine, bit-equal across engines, rounded only at the output edge."""
    return f"""
WITH n2 AS (
  SELECT vec_id, label, embedding,
         {P.norm('embedding', DIM, dialect)} AS nrm
  FROM {table}
),
amod AS (
  -- portable INTEGER division (Spark DIV / DuckDB //): bare '/' is
  -- double division and CAST(double AS BIGINT) truncates in Spark but
  -- rounds in DuckDB — the q200-family trap
  SELECT CASE WHEN COUNT(*) >= {n_anchors}
              THEN {P.int_div('COUNT(*)', str(n_anchors), dialect)}
              ELSE CAST(1 AS BIGINT) END AS m
  FROM n2
),
a AS (
  SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb,
         nrm AS q_nrm
  FROM n2 CROSS JOIN amod WHERE vec_id % amod.m = 0
),
scored AS (
  SELECT /*+ BROADCAST(a) */ a.q_id, a.q_label,
         e.vec_id AS n_id,
         {_pair_cos('a.q_emb', 'a.q_nrm', 'e.embedding', 'e.nrm', dialect)}
           AS cs,
         CASE WHEN e.label = a.q_label THEN 1 ELSE 0 END AS same
  FROM a JOIN n2 e ON e.vec_id <> a.q_id
),
ranked AS (
  SELECT q_id, q_label, n_id, cs, same,
         row_number() OVER (PARTITION BY q_id, same
                            ORDER BY cs DESC, n_id) AS rn
  FROM scored
)
SELECT q_id, CAST(q_label AS BIGINT) AS q_label,
       CAST(MAX(CASE WHEN same = 0 THEN n_id END) AS BIGINT)
         AS hard_negative_id,
       round(MAX(CASE WHEN same = 0 THEN cs END), 6) AS neg_cos,
       CAST(MAX(CASE WHEN same = 1 THEN n_id END) AS BIGINT)
         AS positive_id,
       round(MAX(CASE WHEN same = 1 THEN cs END), 6) AS pos_cos,
       round(MAX(CASE WHEN same = 1 THEN cs END)
             - MAX(CASE WHEN same = 0 THEN cs END), 6) AS margin
FROM ranked WHERE rn = 1
GROUP BY q_id, q_label
ORDER BY q_id"""


MATRYOSHKA_SUB_DIM = 16


def matryoshka_audit_sql(
    dialect: str,
    table: str = "embeddings",
    n_anchors: int = HARD_NEG_ANCHORS,
    sub_dim: int = MATRYOSHKA_SUB_DIM,
) -> str:
    """Matryoshka / truncated-dimension retrieval audit (q240, Kusupati
    et al. 2205.13147): per anchor, the exact top-1 neighbor under
    full-dimension cosine vs under the FIRST ``sub_dim`` coordinates —
    the measurement that tells you whether serving can run on prefix
    embeddings (4x smaller index, 4x cheaper distance) without changing
    answers. Per-anchor agreement rows rather than one summary, so the
    hash pins WHICH anchors flip, not just how many.

    One anchors x corpus scan computes BOTH cosines per candidate (the
    sub-dim dot is a prefix of the full fold — no second pass over the
    corpus); two row_numbers over the same scored relation pick the two
    winners. The same shared fold-form arithmetic as every scored stage,
    bit-equal across engines, rounded only at the output edge.

    The anchor slice uses q235's corpus-size-derived modulus
    (``vec_id % (n DIV n_anchors) = 0``) so the anchor COUNT stays
    ~``n_anchors`` at every scale and the anchors x corpus work grows
    LINEARLY — the fixed ``% 50`` rule this replaced grew anchors with
    the corpus and made the audit quadratic (100x work at 10x data)."""
    full = _pair_cos("a.q_emb", "a.q_nrm", "e.embedding", "e.nrm", dialect)
    sub = (
        f"({P.dot('a.q_emb', 'e.embedding', sub_dim, dialect)}"
        f" / (a.q_snrm * e.snrm))"
    )
    return f"""
WITH n2 AS (
  SELECT vec_id, embedding,
         {P.norm('embedding', DIM, dialect)} AS nrm,
         {P.norm('embedding', sub_dim, dialect)} AS snrm
  FROM {table}
),
amod AS (
  SELECT CASE WHEN COUNT(*) >= {n_anchors}
              THEN {P.int_div('COUNT(*)', str(n_anchors), dialect)}
              ELSE CAST(1 AS BIGINT) END AS m
  FROM n2
),
a AS (
  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm,
         snrm AS q_snrm
  FROM n2 CROSS JOIN amod WHERE vec_id % amod.m = 0
),
scored AS (
  SELECT /*+ BROADCAST(a) */ a.q_id, e.vec_id AS n_id,
         {full} AS cs_full,
         {sub} AS cs_sub
  FROM a JOIN n2 e ON e.vec_id <> a.q_id
),
r AS (
  SELECT q_id, n_id, cs_full, cs_sub,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cs_full DESC, n_id) AS rf,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cs_sub DESC, n_id) AS rs
  FROM scored
)
SELECT q_id,
       CAST(MAX(CASE WHEN rf = 1 THEN n_id END) AS BIGINT) AS nn_full,
       CAST(MAX(CASE WHEN rs = 1 THEN n_id END) AS BIGINT) AS nn_sub,
       CAST(CASE WHEN MAX(CASE WHEN rf = 1 THEN n_id END)
                    = MAX(CASE WHEN rs = 1 THEN n_id END)
            THEN 1 ELSE 0 END AS BIGINT) AS agree,
       round(MAX(CASE WHEN rf = 1 THEN cs_full END), 6) AS cos_full,
       round(MAX(CASE WHEN rs = 1 THEN cs_sub END), 6) AS cos_sub
FROM r WHERE rf = 1 OR rs = 1
GROUP BY q_id
ORDER BY q_id"""


def embedding_quality_sql(dialect: str, table: str = "embeddings",
                          iv_table: str | None = None) -> str:
    """Per-dimension embedding health audit (q252): mean, variance, and
    a collapsed-dimension flag for every coordinate — the degeneracy
    screen run before trusting an embedding column for dedup/ANN
    (dimensional collapse shows up as near-zero variance dims; a
    whitening/retrain signal long before recall audits q170/q238 go
    red). Flag rule: variance below 1% of the cross-dim average — a
    relative bar, so the audit is insensitive to the embedding's
    global scale.

    Exactness: coordinates enter as the same 1e7-scaled int64 the
    centroid family uses; sums and sum-of-squares accumulate in
    DECIMAL(38,0) (exact, order-independent; int64 would overflow at
    ~2e4 vectors x (3e7)^2 products). Variance = (n·Σx² − (Σx)²)/n²
    evaluates on those exact integers, divides once in DOUBLE, and
    rounds at the edge, so both engines agree bit-for-bit. One explode
    + one per-dim aggregate + a broadcast scalar average — linear,
    map-side-combinable, DIM rows out at any corpus size."""
    dec = "DECIMAL(38,0)"
    return f"""
WITH iv AS ({_iv_body(dialect, table, iv_table)}),
d AS (
  SELECT dim, COUNT(*) AS n,
         CAST(SUM(CAST(x AS {dec})) AS {dec}) AS sx,
         CAST(SUM(CAST(x AS {dec}) * x) AS {dec}) AS sxx
  FROM iv GROUP BY dim
),
v AS (
  SELECT dim, n,
         CAST(sx AS DOUBLE) / n / {CENTROID_SCALE} AS mean_x,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / (CAST(n AS DOUBLE) * n)
           / ({CENTROID_SCALE} * 1.0 * {CENTROID_SCALE}) AS var_x
  FROM d
),
g AS (SELECT SUM(var_x) / COUNT(*) AS avg_var FROM v)
SELECT v.dim,
       round(v.mean_x, 6) AS mean_x,
       round(v.var_x, 6) AS var_x,
       CAST(CASE WHEN v.var_x * 100.0 < g.avg_var THEN 1 ELSE 0 END
            AS BIGINT) AS collapsed
FROM v CROSS JOIN g
ORDER BY v.dim"""


# ---------------------------------------------------------------------------
# IVF-PQ (FAISS IndexIVFPQ analog): coarse inverted lists + residual PQ
# ---------------------------------------------------------------------------

IVFPQ_NLIST = 8    # coarse lists (k-means cells)
IVFPQ_NPROBE = 3   # lists a query visits


def _ivfpq_coarse_sql(iv: str) -> str:
    return (f"SELECT vec_id AS c, m, j, x FROM {iv} "
            f"WHERE vec_id < {IVFPQ_NLIST}")


def _ivfpq_cdist_sql(iv: str, coarse: str) -> str:
    """(vec_id, c, d): integer L2 of every vector to every coarse
    centroid — corpus x NLIST rows via a hint-broadcast map-side join
    over the exploded relation."""
    return f"""
SELECT /*+ BROADCAST(c0) */
       i.vec_id, c0.c, SUM((i.x - c0.x) * (i.x - c0.x)) AS d
FROM {iv} i JOIN {coarse} c0 ON i.m = c0.m AND i.j = c0.j
GROUP BY i.vec_id, c0.c"""


def _ivfpq_assign_sql(cdist: str) -> str:
    return (f"SELECT vec_id, MIN(d * {IVFPQ_NLIST} + c) % {IVFPQ_NLIST} "
            f"AS c FROM {cdist} GROUP BY vec_id")


def _ivfpq_res_sql(iv: str, assign: str, coarse: str) -> str:
    """Residual relation (vec_id, m, j, x): each vector minus its own
    list centroid — the relation the PQ codebook trains on (Jégou
    §V: residual quantization concentrates the energy the coarse
    quantizer already explained)."""
    return f"""
SELECT /*+ BROADCAST(c0) */
       i.vec_id, i.m, i.j, i.x - c0.x AS x
FROM {iv} i
JOIN {assign} a ON i.vec_id = a.vec_id
JOIN {coarse} c0 ON a.c = c0.c AND i.m = c0.m AND i.j = c0.j"""


def _ivfpq_codes_sql(res: str, c1: str) -> str:
    return f"""
SELECT vec_id, m, MIN(d * {PQ_K} + c) % {PQ_K} AS c
FROM (
  SELECT /*+ BROADCAST(cb) */
         r.vec_id, r.m, cb.c, SUM((r.x - cb.x) * (r.x - cb.x)) AS d
  FROM {res} r JOIN {c1} cb ON r.m = cb.m AND r.j = cb.j
  GROUP BY r.vec_id, r.m, cb.c
) ad GROUP BY vec_id, m"""


def _ivfpq_tail_sql(iv: str, coarse: str, cdist: str, c1: str,
                    codes: str, assign: str,
                    num_queries: int, k: int) -> str:
    """Query-side chain (probe lists -> per-list residual distance
    tables -> list-pruned ADC -> top-k). Every CTE is referenced
    exactly once, so the same text is Spark-inline-safe over
    materialized views AND DuckDB-safe inside the folded oracle."""
    return f"""
qprobe AS (
  SELECT vec_id AS q_id, c FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
    FROM {cdist} WHERE vec_id < {num_queries}
  ) p WHERE rn <= {IVFPQ_NPROBE}
),
qres AS (
  SELECT /*+ BROADCAST(qp, c0) */
         qp.q_id, qp.c, i.m, i.j, i.x - c0.x AS x
  FROM {iv} i
  JOIN qprobe qp ON i.vec_id = qp.q_id
  JOIN {coarse} c0 ON qp.c = c0.c AND i.m = c0.m AND i.j = c0.j
),
dtab AS (
  SELECT /*+ BROADCAST(cb) */
         q.q_id, q.c, q.m, cb.c AS code,
         SUM((q.x - cb.x) * (q.x - cb.x)) AS d
  FROM qres q JOIN {c1} cb ON q.m = cb.m AND q.j = cb.j
  GROUP BY q.q_id, q.c, q.m, cb.c
),
adc AS (
  SELECT /*+ BROADCAST(dt) */
         dt.q_id, co.vec_id AS neighbor_id, SUM(dt.d) AS adc_dist
  FROM {codes} co
  JOIN {assign} a ON co.vec_id = a.vec_id
  JOIN dtab dt ON dt.c = a.c AND dt.m = co.m AND dt.code = co.c
  WHERE co.vec_id <> dt.q_id
  GROUP BY dt.q_id, co.vec_id
),
ranked AS (
  SELECT q_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, neighbor_id) AS rnk
  FROM adc
)
SELECT q_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
       CAST(adc_dist AS BIGINT) AS adc_dist
FROM ranked WHERE rnk <= {k}
ORDER BY q_id, rnk"""


def _pq_c1_chain(dialect: str, iv: str) -> str:
    """The PQ codebook-refinement CTEs of :func:`_pq_c1_sql` as a
    WITH-fragment ending in ``c1`` — reused by the IVF-PQ oracle over
    the RESIDUAL relation."""
    body = _pq_c1_sql(dialect, iv).strip()
    assert body.startswith("WITH ")
    inner = body[len("WITH "):]
    at = inner.rindex("SELECT /*+ BROADCAST(c1sum) */ c0.m")
    m = "MATERIALIZED " if dialect == "duckdb" else ""
    return (inner[:at].rstrip().rstrip(",")
            + f",\nc1 AS {m}({inner[at:]})")


def ivfpq_sql(dialect: str, table: str = "embeddings",
              num_queries: int = 5, k: int = 3) -> str:
    """IVF-PQ composite index (Jégou et al. TPAMI 2011 §V — the FAISS
    ``IndexIVFPQ``, THE standard billion-scale ANN layout): a coarse
    quantizer partitions the corpus into ``IVFPQ_NLIST`` inverted
    lists; each vector stores only the PQ code of its RESIDUAL from
    its list centroid; a query visits its ``IVFPQ_NPROBE`` nearest
    lists and scans codes with a per-list asymmetric distance table
    built from the query's residual w.r.t. THAT list's centroid.
    Combines q34's inverted-file pruning with q171's code
    compression: scan cost drops by nprobe/nlist AND each visited
    code costs M table lookups instead of a float dot product.

    Integer-exact end to end (scaled int64 coordinates, argmins as
    MIN(d*K + c), truncating-mean recenter) — bit-identical across
    engines. Every small relation (coarse centroids, PQ codebook,
    query distance tables, probe lists) carries an explicit BROADCAST
    hint (comments to DuckDB): the q171 lesson — these joins' key
    spaces are tiny (m x j = 64, lists = 8), so an unhinted CBO
    shuffle collapses parallelism onto a handful of keys.

    Scale shape: assignment and coding are map-side joins over the
    exploded relation with immediate partial aggregation (linear, no
    all-pairs); the ADC join meets only codes in probed lists (the
    dt.c = a.c conjunct IS the inverted-list pruning); at 100 TB the
    codes+assign relation is the persisted index — M bytes per vector
    plus a list id. The train-side relations are each multi-
    referenced, so the Spark entry (:func:`ivfpq`) materializes them
    as views (DuckDB pins them with MATERIALIZED in this folded
    text)."""
    m = "MATERIALIZED " if dialect == "duckdb" else ""
    parts = [
        f"iv AS {m}({_pq_iv_sql(dialect, table)})",
        f"coarse AS {m}({_ivfpq_coarse_sql('iv')})",
        f"cdist AS {m}({_ivfpq_cdist_sql('iv', 'coarse')})",
        f"assign AS {m}({_ivfpq_assign_sql('cdist')})",
        f"res AS {m}({_ivfpq_res_sql('iv', 'assign', 'coarse')})",
        _pq_c1_chain(dialect, "res"),
        f"codes AS {m}({_ivfpq_codes_sql('res', 'c1')})",
    ]
    return ("WITH " + ",\n".join(parts) + ","
            + _ivfpq_tail_sql("iv", "coarse", "cdist", "c1", "codes",
                              "assign", num_queries, k))


def ivfpq(spark, table: str, num_queries: int = 5, k: int = 3):
    """Engine-side IVF-PQ: materialize the multi-referenced train-side
    artifacts ONCE per (session, corpus) — exploded coords, coarse
    centroids, coarse distances, list assignment, residuals, PQ
    codebook, codes; together they ARE the persisted index — then run
    the single-reference query tail over the cached views (the
    :func:`pq_adc` pattern, composed)."""
    from .dedup import materialize


    def mk(stage, sql_text):
        return artifact_time.view(
            spark, "ivfpq_index", (table, stage),
            lambda: materialize(spark.sql(sql_text)))

    ivv = mk("iv", _pq_iv_sql("spark", table))
    coarse = mk("coarse", _ivfpq_coarse_sql(ivv))
    cdist = mk("cdist", _ivfpq_cdist_sql(ivv, coarse))
    assign = mk("assign", _ivfpq_assign_sql(cdist))
    res = mk("res", _ivfpq_res_sql(ivv, assign, coarse))
    c1 = mk("c1", _pq_c1_sql("spark", res))
    codes = mk("codes", _ivfpq_codes_sql(res, c1))
    return spark.sql("WITH " + _ivfpq_tail_sql(
        ivv, coarse, cdist, c1, codes, assign, num_queries, k).lstrip())


# ---------------------------------------------------------------------------
# k-center coreset selection (Gonzalez greedy, diversity-aware pruning)
# ---------------------------------------------------------------------------

KC_K = 8


def _kc_d2(a: str, b: str, dialect: str) -> str:
    """Squared L2 between two embedding columns — fixed left-to-right
    DOUBLE fold (the q22 cosine convention: identical operation order =
    bit-identical doubles in both engines)."""
    diffs = P.transform(
        P.sequence_1_to(str(DIM), dialect),
        "i",
        f"(CAST({P.element(a, 'i', dialect)} AS DOUBLE)"
        f" - CAST({P.element(b, 'i', dialect)} AS DOUBLE))"
        f" * (CAST({P.element(a, 'i', dialect)} AS DOUBLE)"
        f" - CAST({P.element(b, 'i', dialect)} AS DOUBLE))",
        dialect,
    )
    return P.fold(diffs, "CAST(0.0 AS DOUBLE)", "s", "x", "s + x", dialect)


def _kc_round_ctes(dialect: str, k: int) -> str:
    """The c{r}/d{r} CTE chain for rounds 1..k-1 plus the final update
    d{k-1}'' — shared text between the oracle (DuckDB materializes
    CTEs, so the double reference of d{r-1} by c{r} AND d{r} costs one
    evaluation) and the Spark driver loop (which materializes each
    d{r} as a temp view for the same reason — Spark INLINES
    single-pass CTEs, and a naive chain would re-derive 2^k plans)."""
    upd = _kc_d2("e.embedding", "c.embedding", dialect)
    parts = []
    for r in range(1, k):
        parts.append(
            f"c{r} AS (SELECT e.vec_id, e.embedding, d.bd\n"
            f"  FROM d{r - 1} d JOIN e ON e.vec_id = d.vec_id\n"
            f"  ORDER BY d.bd DESC, d.vec_id LIMIT 1)"
        )
        parts.append(
            f"d{r} AS (SELECT d.vec_id, LEAST(d.bd, {upd}) AS bd\n"
            f"  FROM d{r - 1} d JOIN e ON e.vec_id = d.vec_id\n"
            f"  CROSS JOIN c{r} c)"
        )
    return ",\n".join(parts)


def _kc_tail_sql(k: int) -> str:
    """Output rows: r = selection round, center_id, radius (the chosen
    point's distance to the already-selected set — 0 for the seed), and
    a final r = k summary row (center_id −1) carrying the k-center
    objective: max over the corpus of distance-to-nearest-center."""
    rows = ["SELECT 0 AS r, vec_id AS center_id, CAST(0.0 AS DOUBLE)"
            " AS radius FROM c0"]
    for r in range(1, k):
        rows.append(
            f"SELECT {r}, vec_id, round(bd, 6) FROM c{r}"
        )
    rows.append(
        f"SELECT {k}, CAST(-1 AS BIGINT), round(MAX(bd), 6)"
        f" FROM d{k - 1}"
    )
    return "\nUNION ALL\n".join(rows) + "\nORDER BY r"


def kcenter_sql(
    dialect: str, table: str = "embeddings", k: int = KC_K
) -> str:
    """Greedy k-center coreset selection over the embedding corpus
    (Gonzalez 1985's 2-approximation — the diversity-aware data-pruning
    primitive: pick the point farthest from everything picked so far,
    k times; 'coverage radius' after k picks bounds how well the
    coreset represents the corpus, cf. Sener & Savarese ICLR 2018
    core-set active learning).

    Seed = lowest vec_id (deterministic, same rationale as IVF's seed
    centroids); each round r: the running min-squared-L2 to the
    selected set is updated against ONE new center (an N x 1 cross
    join against a 1-row relation — never N x N), and the next center
    is the argmax with vec_id tie-break — TakeOrderedAndProject in
    Spark, a bounded top-1. All distances are fixed-order DOUBLE folds
    (bit-identical cross-engine); rounding happens only at output.

    Scale shape: k passes over the corpus, each a projection-width
    scan + one broadcast of a single row — O(k·N·dim) work, O(N)
    state, no shuffle wider than the top-1. This is exactly how
    k-center runs on a 1000-executor cluster; the Spark entry
    materializes each round's N-row min-dist relation to keep the
    plan linear (see :func:`_kc_round_ctes`)."""
    seed_d2 = _kc_d2("e.embedding", "c.embedding", dialect)
    return f"""
WITH e AS (SELECT vec_id, embedding FROM {table}),
c0 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1),
d0 AS (SELECT e.vec_id, {seed_d2} AS bd FROM e CROSS JOIN c0 c),
{_kc_round_ctes(dialect, k)}
{_kc_tail_sql(k)}
"""


def kcenter(spark, table: str, cache_key, k: int = KC_K):
    """Spark driver for :func:`kcenter_sql`: same CTE text, but each
    round's N-row min-dist relation is MATERIALIZED as a temp view so
    c{{r}} (top-1) and d{{r}} (update) both read the computed rows —
    Spark inlines single-reference CTEs, and the naive k-deep chain
    with two references per level re-derives an exponential plan (the
    q216 lesson applied k times). The per-round artifacts are cached
    per (session, corpus): selection is run once, consumers re-read."""
    from .dedup import materialize

    upd = _kc_d2("e.embedding", "c.embedding", "spark")
    e = f"(SELECT vec_id, embedding FROM {table})"

    def mk(stage, sql_text):
        return artifact_time.view(
            spark, "kcenter_coreset", (cache_key, k, stage),
            lambda: materialize(spark.sql(sql_text)))

    c = [mk("c0", f"SELECT vec_id, embedding FROM {e} e"
                  " ORDER BY vec_id LIMIT 1")]
    d = [mk("d0", f"SELECT e.vec_id, {upd} AS bd FROM {e} e"
                  f" CROSS JOIN {c[0]} c")]
    for r in range(1, k):
        c.append(mk(
            f"c{r}",
            f"SELECT e.vec_id, e.embedding, d.bd FROM {d[r - 1]} d"
            f" JOIN {e} e ON e.vec_id = d.vec_id"
            f" ORDER BY d.bd DESC, d.vec_id LIMIT 1",
        ))
        d.append(mk(
            f"d{r}",
            f"SELECT d.vec_id, LEAST(d.bd, {upd}) AS bd"
            f" FROM {d[r - 1]} d JOIN {e} e ON e.vec_id = d.vec_id"
            f" CROSS JOIN {c[r]} c",
        ))
    rows = ["SELECT 0 AS r, vec_id AS center_id,"
            f" CAST(0.0 AS DOUBLE) AS radius FROM {c[0]}"]
    for r in range(1, k):
        rows.append(f"SELECT {r}, vec_id, round(bd, 6) FROM {c[r]}")
    rows.append(f"SELECT {k}, CAST(-1 AS BIGINT), round(MAX(bd), 6)"
                f" FROM {d[k - 1]}")
    return spark.sql("\nUNION ALL\n".join(rows) + "\nORDER BY r")
