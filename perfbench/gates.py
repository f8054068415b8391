"""gate_session: a fixed list of gates from ``__spark_entry__.queries()``
run once each per round, in a fixed order, on a corpus drawn from the seed.

Each execution builds the gate fresh and forces it as ``bench.force``
does.  A round is the whole list on a new session of the same
SparkContext, with the cache cleared first, so every round rebuilds the
session artifacts it needs (they are keyed by session) and pays for them
in the op that triggers them, as a user of a fresh session would.

The order is fixed, not drawn from the seed: in a fresh JVM the first
gates pay several seconds of first-use code generation, and a seeded
order moved that cost between ops, so medians depended on the seed.

The list is chosen for coverage per second of run: four session-artifact
gates, one that runs Python workers, two members of the write-gate floor
and the MERGE_ON_READ compaction gate.  Three write gates also keep the
write median off the tail of any single one.  README.md says which gates
were left out and why.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

import procstat

READ_GATES = (
    "q24_embedding_neardup",       # exploded embeddings (functions/similarity)
    "q262_source_overlap",         # source shingles (functions/dedup)
    "q276_hyperanf",               # ANF registers (functions/components)
    "q187_min_cost_supplier",      # q187's ps
    "q158_wav_decode",             # functions/multimodal: Python workers
)
WRITE_GATES = (
    "q15_bulk_insert_parity",      # write floor: bulk insert
    "q93_mor_compaction",          # MERGE_ON_READ deltas, compaction
    "q212_partial_update",         # write floor: partial-update merge
)
GATES = READ_GATES + WRITE_GATES


class GateRun:
    def __init__(self, spark, corpus: Path):
        import __spark_entry__ as entry
        import bench

        self.entry = entry
        self.force = bench.force
        self.base = spark
        self.corpus = str(corpus)
        queries = entry.queries()
        self.fns = {n: queries[n] for n in GATES}
        self.sessions = []  # kept alive: artifact caches key on id(session)
        self.first: dict[str, object] = {}  # gate -> DataFrame of round 0

    def warm_up(self) -> None:
        """JVM and codegen warm-up on the lightest gate, as bench.py does."""
        q01 = self.entry.queries()["q01_scan_projection"]
        self.force(q01(self.base, self.corpus))

    def round(self, clock) -> None:
        with clock.paused():
            self.base.catalog.clearCache()
            spark = self.base.newSession()
            self.sessions.append(spark)
        for name in GATES:
            kind = "write" if name in WRITE_GATES else "read"
            with clock.op(kind, name):
                with clock.span("gates.build"):
                    df = self.fns[name](spark, self.corpus)
                if clock.traced:
                    with clock.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                with clock.span("spark.exec"):
                    self.force(df, name)
            with clock.paused():
                self.first.setdefault(name, df)
                clock.probe.after_op(None)

    def lake_mb(self) -> float:
        """The write gates' temp lakes (they land under this run's temp
        dir and are never deleted) per round, so the figure does not grow
        with the number of rounds a run completes."""
        return procstat.du_mb(Path(tempfile.gettempdir())) / len(self.sessions)

    def check(self) -> list[str]:
        """Each gate's first-round result against its DuckDB oracle, under
        the tests/util.normalize rules."""
        from tests import util

        con = util.duck_con(self.corpus)
        oracles = self.entry.oracle_sql()
        errors = []
        try:
            for name, df in self.first.items():
                try:
                    util.assert_same(df, con.execute(oracles[name]).df())
                except AssertionError as exc:
                    errors.append(f"{name}: {str(exc)[:300]}")
        finally:
            con.close()
        return errors


def run_rounds(run: GateRun, clock, seconds: float) -> None:
    while True:
        run.round(clock)
        if clock.elapsed() >= seconds:
            return
