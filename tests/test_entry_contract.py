"""Mimic the driver: every queries() entry vs its oracle_sql() in DuckDB
at sf0.01 (row-count + schema-name + normalized-value equality)."""

import pytest

import __spark_entry__ as entry_mod

from tests.util import assert_same, duck_con

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_correct, name):
    result = QUERIES[name](spark, sf_correct)
    con = duck_con(sf_correct)
    oracle = con.execute(ORACLES[name]).df()
    assert_same(result, oracle)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_oracleless_query_runs(spark, sf_correct, name):
    df = QUERIES[name](spark, sf_correct)
    assert df.count() >= 0


def test_q222_insert_overwrite_matches_oracle_at_smoke_scale(spark,
                                                             sf_smoke):
    """At sf0.001 a nation named by the overwrite predicate has only
    odd-key suppliers, so its partition gets no restated row: it must
    still be replaced (emptied), as the oracle says."""
    name = "q222_insert_overwrite"
    oracle = duck_con(sf_smoke).execute(ORACLES[name]).df()
    assert_same(QUERIES[name](spark, sf_smoke), oracle)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "trx_seq" in df.columns


def test_driver_window_rotation():
    """The driver's CORRECTNESS gate hashes only the FIRST 50 queries()
    entries. Assert the prefix is exactly the never-driver-verified set
    (computed from the committed CORRECTNESS_r*.json files), padded with
    driver-green entries only once every never-verified entry is in the
    window — so a rotation mistake fails CI instead of costing a round."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            seen |= set(json.load(f))
    if not seen:
        pytest.skip("no committed CORRECTNESS_r*.json yet")
    names = list(QUERIES)
    never = [n for n in names if n not in seen]
    window = names[:50]
    missing = [n for n in never if n not in window and len(never) <= 50]
    assert not missing, (
        f"never-driver-verified entries outside the 50-row window: {missing}"
    )
    if len(never) > 50:
        assert window == never[:50]


def test_no_duplicate_module_level_names():
    """Module-level fixture caches must be singly defined: a second
    `_NAME = {}` rebinds the first, silently fusing two gates' caches
    (the q96/q260 _EVOLVE_CACHE collision served one gate the other's
    table). Parse the entry source and fail on any duplicate."""
    import re
    from pathlib import Path

    src = (Path(__file__).resolve().parent.parent
           / "__spark_entry__.py").read_text()
    names = re.findall(r"^(_[A-Z][A-Z_0-9]*)(?:\s*:[^=\n]+)?\s*= ",
                       src, re.M)
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"duplicate module-level definitions: {dupes}"
