"""Cross-engine expression generators (Spark SQL dialect + DuckDB dialect).

Every extension operator in this package is differential-tested: the Spark
DataFrame result must value-hash-match a DuckDB oracle. Floating-point and
hash arithmetic only match when *both engines evaluate the same expression
in the same order*, so instead of writing each side by hand we generate
both from one template. The generators below emit a SQL expression string
for ``dialect in {"spark", "duckdb"}``; the Spark side consumes it via
``F.expr`` (JVM whole-stage-codegen — this is NOT a Python UDF path).

Portability rules baked in:

- all hash arithmetic is exact int64: multiplier/modulus chosen so no
  intermediate exceeds 2^62 (DuckDB raises on BIGINT overflow; Java would
  silently wrap — staying under 2^63 keeps them identical);
- all float folds are left-to-right over list elements in a fixed order,
  accumulated in DOUBLE — same order + same width ⇒ bit-identical results;
- DuckDB ``list_reduce`` has no init value, so we prepend it
  (``list_prepend(init, xs)`` ≡ Spark ``aggregate(xs, init, ...)``).
"""

from __future__ import annotations

# 2^31 - 1 (Mersenne prime): h < 2^31, so h*MULT + c < 2^39 — safe in int64
# for both engines.
HASH_P = 2_147_483_647
HASH_MULT = 131


def _check(dialect: str) -> None:
    if dialect not in ("spark", "duckdb"):
        raise ValueError(f"unknown dialect: {dialect}")


# ---------------------------------------------------------------------------
# list-op dialect shims
# ---------------------------------------------------------------------------


def transform(lst: str, var: str, body: str, dialect: str) -> str:
    _check(dialect)
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}({lst}, {var} -> {body})"


def fold(lst: str, init: str, acc: str, var: str, body: str, dialect: str) -> str:
    """Left fold with an initial value, identical semantics both engines."""
    _check(dialect)
    if dialect == "spark":
        return f"aggregate({lst}, {init}, ({acc}, {var}) -> {body})"
    return f"list_reduce(list_prepend({init}, {lst}), ({acc}, {var}) -> {body})"


def filter_(lst: str, var: str, pred: str, dialect: str) -> str:
    _check(dialect)
    fn = "filter" if dialect == "spark" else "list_filter"
    return f"{fn}({lst}, {var} -> {pred})"


def size(lst: str, dialect: str) -> str:
    _check(dialect)
    return f"size({lst})" if dialect == "spark" else f"len({lst})"


def element(lst: str, idx: str, dialect: str) -> str:
    """1-based element access (both engines are 1-based)."""
    _check(dialect)
    if dialect == "spark":
        return f"element_at({lst}, {idx})"
    return f"{lst}[{idx}]"


def sequence_1_to(n: str, dialect: str) -> str:
    """[1..n] inclusive."""
    _check(dialect)
    if dialect == "spark":
        return f"sequence(1, {n})"
    return f"range(1, ({n}) + 1)"


def int_div(a: str, b: str, dialect: str) -> str:
    _check(dialect)
    if dialect == "spark":
        return f"({a} div {b})"
    return f"({a} // {b})"


# ---------------------------------------------------------------------------
# text primitives
# ---------------------------------------------------------------------------


def norm_text(col: str, dialect: str) -> str:
    """lower + trim + collapse runs of whitespace to single spaces.

    Dialect traps handled here: Spark SQL string literals process
    backslash escapes ('\\\\s' → regex \\s) while DuckDB's do not
    ('\\s' is already the two-char regex); and DuckDB regexp_replace
    replaces only the FIRST match unless passed the 'g' flag (Spark
    replaces all matches by default).
    """
    _check(dialect)
    if dialect == "spark":
        return f"regexp_replace(trim(lower({col})), '\\\\s+', ' ')"
    return f"regexp_replace(trim(lower({col})), '\\s+', ' ', 'g')"


def tokens(col: str, dialect: str) -> str:
    """Normalized token list: :func:`norm_text` split on single space
    (Spark's split() treats the pattern as a regex, but a single space
    means the same either way)."""
    _check(dialect)
    norm = norm_text(col, dialect)
    if dialect == "spark":
        return f"split({norm}, ' ')"
    return f"string_split({norm}, ' ')"


def char_codes(s: str, dialect: str) -> str:
    """List of per-character code points of ``s``.

    Char-array based (split on '') rather than indexed substr: substr(s,i)
    is O(i) and — worse — any expression inside a lambda body is
    re-evaluated per element, so an indexed loop re-ran ``s``'s whole
    defining expression (regexes included) once per character, making
    hashing O(len²). Splitting evaluates ``s`` once per row and walks
    the string once.
    """
    _check(dialect)
    split = f"split({s}, '')" if dialect == "spark" else f"string_split({s}, '')"
    return transform(split, "c", "CAST(ascii(c) AS BIGINT)", dialect)


def rolling_hash(s: str, dialect: str) -> str:
    """Polynomial rolling hash of a string: fold h = (h*131 + code) % (2^31-1).

    Deterministic, order-sensitive, bounded in [0, 2^31) — the portable
    base hash for shingles/tokens (verified bit-identical across engines).
    """
    return fold(
        char_codes(s, dialect),
        "CAST(0 AS BIGINT)",
        "h",
        "c",
        f"(h * {HASH_MULT} + c) % {HASH_P}",
        dialect,
    )


def shingles(toks: str, n: int, dialect: str) -> str:
    """List of n-token shingle strings from a token list (space-joined).

    Empty when the doc has < n tokens (sequence/range over a non-positive
    bound is empty in both engines).
    """
    _check(dialect)
    join_parts = ", ".join(
        element(toks, f"i + {k}", dialect) for k in range(n)
    )
    seq = sequence_1_to(f"{size(toks, dialect)} - {n - 1}", dialect)
    return transform(seq, "i", f"concat_ws(' ', {join_parts})", dialect)


# ---------------------------------------------------------------------------
# float folds (bit-identical across engines: fixed order, DOUBLE width)
# ---------------------------------------------------------------------------


def dot(a: str, b: str, dim: int, dialect: str) -> str:
    """Left-to-right dot product of two 1-based list columns in DOUBLE."""
    prods = transform(
        sequence_1_to(str(dim), dialect),
        "i",
        f"CAST({element(a, 'i', dialect)} AS DOUBLE)"
        f" * CAST({element(b, 'i', dialect)} AS DOUBLE)",
        dialect,
    )
    return fold(prods, "CAST(0.0 AS DOUBLE)", "s", "x", "s + x", dialect)


def norm(a: str, dim: int, dialect: str) -> str:
    return f"sqrt({dot(a, a, dim, dialect)})"
