"""The gate surface is frozen: every fact about a gate is declared once,
in its ``@gate`` decorator, and must match ``gates_golden.json``.

The golden file was captured from the name tables the decorators replaced
(``_canonical_queries()``, ``oracle_sql()``, ``WRITE_GATES`` and the
bench's collect set), so a change here is a change to the surface."""

import ast
import hashlib
import json
import re
from pathlib import Path

import __spark_entry__ as entry_mod
import bench

GOLDEN = json.loads(
    (Path(__file__).resolve().parent / "gates_golden.json").read_text())


class _ForceProbe:
    """Stands in for a DataFrame: records whether bench.force collected
    it or sent it to the no-op sink."""

    def __init__(self):
        self.how = None

    def collect(self):
        self.how = "collect"

    @property
    def write(self):
        return self

    def format(self, fmt):
        self.how = fmt
        return self

    def mode(self, _mode):
        return self

    def save(self):
        pass


def test_gate_order_matches_golden():
    assert list(entry_mod.GATES) == GOLDEN["gates"]


def test_oracle_texts_match_golden():
    oracles = entry_mod.oracle_sql()
    assert list(oracles) == GOLDEN["gates"]
    changed = [n for n, sql in oracles.items()
               if hashlib.sha256(sql.encode()).hexdigest()
               != GOLDEN["oracle_sha256"][n]]
    assert not changed, f"oracle text changed: {changed}"


def test_write_gates_match_golden():
    assert sorted(entry_mod.WRITE_GATES) == GOLDEN["write_gates"]


def test_force_modes_match_golden():
    how = {}
    for name in entry_mod.GATES:
        probe = _ForceProbe()
        bench.force(probe, name)
        how[name] = probe.how
    assert set(how.values()) == {"collect", "noop"}
    assert sorted(n for n, h in how.items() if h == "collect") \
        == GOLDEN["collect_gates"]


def test_every_gate_function_is_declared():
    """A module-level ``qNN_*(spark, ...)`` function without ``@gate``
    would silently drop out of queries(), the bench and the oracle
    contract."""
    src = (Path(__file__).resolve().parent.parent
           / "__spark_entry__.py").read_text()
    defined = {
        node.name for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
        and re.fullmatch(r"q\d+_\w+", node.name)
        and node.args.args and node.args.args[0].arg == "spark"
    }
    assert defined == set(entry_mod.GATES)
