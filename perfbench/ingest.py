"""cow_upsert: DMS change batches synced into a COPY_ON_WRITE ``lineitem``.

One client, closed loop.  Each round lands one seeded change batch (not
timed), runs one ``Engine.run("hudi_delta")`` sync round (the write op)
and then a snapshot aggregate plus an incremental read of that commit
(the read op).  Results of every read op are kept and checked against the
DuckDB replay after the timed phase.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

import gen
import procstat
from oracle import Replay

IDENT = "tpch"
SPEC = gen.LINEITEM
TABLE = f"{IDENT}_public_{SPEC.name}"
BASE_ROWS = 60_000
# ~2% of keys per batch: 75% updates (13% of them changed twice),
# 10% deletes, 5% re-inserts, 5% new keys, 2.5% stale-delete pairs
MIX = gen.BatchMix(upd=900, rep=120, stale=30, dele=120, reins=60, new=60)
WARMUP_ROUNDS = 3


def config_items() -> list[dict]:
    hudi = {
        "record_key": ",".join(SPEC.key),
        "source_ordering_field": "trx_seq",
        "is_partitioned": True,
        "partition_path": SPEC.partition,
        "table_type": "COPY_ON_WRITE",
    }
    pipe = {"worker": {"count": "1"}, "step_parallelism": 1}
    return [
        {"config": "pipeline::hudi_bulk_insert", "identifier": IDENT, "emr_config": pipe},
        {"config": "pipeline::hudi_delta", "identifier": IDENT, "emr_config": pipe},
        {"config": f"table::public.{SPEC.name}", "identifier": IDENT,
         "enabled": True, "hudi_config": hudi},
    ]


def _dec(col: str):
    return F.sum(F.col(col).cast("decimal(18,2)"))


def _spark_agg(df) -> list[tuple]:
    out = df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*"), _dec("l_quantity"), _dec("l_extendedprice"))
    return sorted(tuple(r) for r in out.collect())


DUCK_AGG = ("SELECT l_returnflag, l_linestatus, count(*), "
            "sum(CAST(l_quantity AS DECIMAL(18,2))), "
            "sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM {} "
            "GROUP BY ALL ORDER BY ALL")
# every landed column but the delete flag; the timestamp as epoch
# microseconds on both sides, for exact comparison
COLUMNS = [f.name for f in gen.SCHEMA if f.name != "_hoodie_is_deleted"]
DUCK_COLS = ", ".join("epoch_us(l_shipdate) AS l_shipdate" if c == "l_shipdate" else c
                      for c in COLUMNS)


class IngestRun:
    """State of one cow_upsert run."""

    def __init__(self, spark, root: Path, seed: int):
        from aws_dms_to_hudi_spark.engine import Engine

        self.raw = root / "raw"
        self.lake = root / "lake"
        self.stream = gen.ChangeStream(BASE_ROWS, MIX, seed)
        self.engine = Engine(spark, IDENT, config_items(), self.raw, self.lake)
        self.batch_files: list[Path] = []
        self.n_setup = 0  # batches landed before the timed phase
        self.synced = 0  # timed rounds whose write op succeeded
        self.results: list[dict] = []  # one per timed round with both ops

    # ---- set-up ----
    def load(self) -> None:
        self.batch_files.append(gen.land(self.stream.base_table(), self.raw, 0))
        report = self.engine.run("hudi_bulk_insert")
        if not report.succeeded:
            raise RuntimeError(f"bulk insert failed: {report.steps}")

    def land_next(self) -> None:
        n = len(self.batch_files)
        self.batch_files.append(gen.land(self.stream.next_batch(), self.raw, n))

    # ---- ops ----
    def write_op(self) -> int:
        report = self.engine.run("hudi_delta")
        step = report.steps[0]
        if step.status != "SUCCEEDED":
            raise RuntimeError(f"sync round {step.status}: {step.error}")
        return step.version

    def read_op(self, version: int, span) -> dict:
        """The fixed read mix; returns what the check needs."""
        snap = self.engine.read_table(TABLE)
        inc = self.engine.read_table_incremental(TABLE, version - 1, version)
        with span("spark.exec"):
            agg = _spark_agg(snap)
            changed = {tuple(r) for r in inc.select(*SPEC.key, "trx_seq").collect()}
        return {"agg": agg, "inc": changed, "dfs": (snap, inc)}

    def lake_mb(self) -> float:
        return procstat.du_mb(self.lake)

    # ---- check ----
    def check(self) -> list[str]:
        """Replay every landed file in DuckDB; compare each recorded read
        and the final snapshot.  Returns a list of mismatches.  A round
        whose read op failed has no result to check, but its batch is in
        the lake; a batch whose write op failed is left out."""
        errors: list[str] = []
        rep = Replay(SPEC)
        try:
            for f in self.batch_files[: self.n_setup]:
                rep.apply(f)
            for i, res in enumerate(self.results):
                rep.apply(self.batch_files[self.n_setup + i])
                agg = [tuple(r) for r in rep.query(DUCK_AGG.format(rep.live()))]
                if res["agg"] != agg:
                    errors.append(f"round {i}: snapshot aggregate {res['agg']} != replay {agg}")
                if res["inc"] != rep.last_batch_changes():
                    errors.append(f"round {i}: incremental read differs from the batch's changes")
            for f in self.batch_files[self.n_setup + len(self.results):
                                      self.n_setup + self.synced]:
                rep.apply(f)
            snap = self.engine.read_table(TABLE)
            final = snap.select(*[F.unix_micros(c).alias(c) if c == "l_shipdate" else c
                                  for c in COLUMNS]).toPandas()
            rep.con.register("spark_final", final)
            full = f"(SELECT {DUCK_COLS} FROM {rep.full()})"
            diff = "SELECT count(*) FROM (SELECT * FROM {} EXCEPT ALL SELECT * FROM {})"
            only_spark = rep.query(diff.format("spark_final", full))[0][0]
            only_replay = rep.query(diff.format(full, "spark_final"))[0][0]
            if only_spark or only_replay:
                errors.append(f"final snapshot: {only_spark} rows only in the lake, "
                              f"{only_replay} only in the replay")
        finally:
            rep.close()
        return errors


def run_rounds(run: IngestRun, clock, seconds: float) -> None:
    """Timed phase: whole rounds of (land, write op, read op) until the
    run length is reached.  Landing and probes run with the clock paused."""
    probe = clock.probe
    run.n_setup = len(run.batch_files)
    while True:
        with clock.paused():
            run.land_next()
            probe.before_op(run.lake)
        with clock.op("write"):
            version = run.write_op()
        run.synced += 1
        with clock.paused():
            probe.after_op(run.lake)
        with clock.op("read"):
            res = run.read_op(version, clock.span)
        with clock.paused():
            probe.after_op(run.lake, res.pop("dfs"))
            run.results.append(res)
        if clock.elapsed() >= seconds:
            return
