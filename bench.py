"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR and
prints ONE JSON line with per-query wall-clock seconds.

Execution is forced with the no-op sink (``format("noop")``) so the full
plan runs distributed with zero collect/serialization overhead on the
driver — the measured time is the query, not pandas conversion.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import __spark_entry__ as entry_mod
from aws_dms_to_hudi_spark.session import get_spark


def force(df, name: str = "") -> None:
    """Run ``df`` the way gate ``name`` declares (``Gate.collect``):
    collect a handful-of-rows result, force anything else through the
    no-op sink."""
    gate = entry_mod.GATES.get(name)
    if gate is not None and gate.collect:
        df.collect()
    else:
        df.write.format("noop").mode("overwrite").save()


LOAD_LIMIT = 4.0  # 1-min loadavg above this means a co-running workload
LOAD_WAIT_S = 300  # wait up to this long for the machine to go idle


def wait_for_idle() -> bool:
    """Refuse to measure on a loaded machine (the r5 committed bench was
    ~1.4x inflated by a concurrent workload): wait up to LOAD_WAIT_S for
    the 1-min loadavg to drop under LOAD_LIMIT; if it never does, run
    anyway but tag the output ``load_contaminated`` so the number is
    never mistaken for a clean measurement."""
    deadline = time.time() + LOAD_WAIT_S
    while time.time() < deadline:
        load = os.getloadavg()[0]
        if load <= LOAD_LIMIT:
            return True
        print(
            f"bench: loadavg {load:.1f} > {LOAD_LIMIT}, waiting for idle",
            file=sys.stderr,
        )
        time.sleep(15)
    return os.getloadavg()[0] <= LOAD_LIMIT


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    idle = wait_for_idle()

    spark = get_spark("bench")
    # GATES is in gate-number order, independent of the driver-window
    # rotation in queries() — keeps bench timings comparable across rounds.
    gates = entry_mod.GATES

    # JVM/codegen warmup on the smallest query so q01 isn't charged for boot.
    force(gates["q01_scan_projection"].fn(spark, sf_dir))

    # min of N runs, each run a FRESH fn(spark, sf_dir) build + execute.
    # Rebuilding per run is the honest protocol (r8 verdict): re-executing
    # the same DataFrame object reuses the already-materialized AQE
    # shuffle query stages (the DAGScheduler skips map stages whose
    # outputs are registered), so a repeat action on the collect-path
    # gates timed only the final stage — measurement gaming, not
    # amortized planning. A fresh build replans and re-runs every stage;
    # min-of-N then only absorbs first-run codegen/classloading and the
    # host's minute-scale I/O bursts, never data-path work.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    timings: dict[str, float] = {}
    for name, gate in gates.items():
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            force(gate.fn(spark, sf_dir), name)
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # The host (virtualized) shows minute-scale I/O-throttle bursts that
    # can outlast both back-to-back runs of a query and inflate it >10x.
    # Re-time every query over 1.0s once more at the end — a fresh build
    # again, min with the earlier measurement — so a burst must span the
    # whole bench to survive into the recorded number. (Still a real
    # measurement: only ever the min of actual full executions.)
    retry = [n for n, t in timings.items() if t > 1.0]
    for name in retry:
        t0 = time.time()
        force(gates[name].fn(spark, sf_dir), name)
        timings[name] = round(min(timings[name], time.time() - t0), 3)

    total = round(sum(timings.values()), 3)

    # The driver captures only a bounded tail of stdout; the round-1 line
    # with 77 full query names (~2.4 KB) overflowed it and parsed as null.
    # Emit SHORT keys (qNN, disambiguated by first suffix letter) on the
    # one-line contract JSON and park the full-name map in a sidecar file.
    short: dict[str, float] = {}
    for name, sec in timings.items():
        key = name.split("_", 1)[0]
        if key in short or sum(n.startswith(key + "_") for n in timings) > 1:
            key = key + "_" + name.split("_")[1][0]
        short[key] = sec
    # Read/write split: write gates (engine write paths, streaming
    # ingest, commit-replay maintenance) have in-memory-replay oracles,
    # so ratio-vs-oracle is only meaningful over the read-query subset.
    # Emit both totals.
    wg = entry_mod.WRITE_GATES
    write_total = round(sum(t for n, t in timings.items() if n in wg), 3)
    read_total = round(total - write_total, 3)
    # One-time session-artifact build cost (token/graph/codebook index
    # views, CDC __rid, ...): built on first use inside whichever run
    # triggers them, so min-of-N would hide it. Each build site
    # attributes its wall time to artifact_time; report the sum beside
    # the query totals so Spark-vs-oracle ratios can be read honestly
    # (the DuckDB oracle re-derives these relations per query).
    from aws_dms_to_hudi_spark import artifact_time
    artifact_total = round(artifact_time.total(), 3)
    payload = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": short,
        "sf": sf,
        "read_only_value": read_total,
        "write_gate_value": write_total,
        "artifact_build_seconds": artifact_total,
    }
    detail = {"metric": "total_query_seconds", "value": total,
              "unit": "sec", "queries": timings, "sf": sf,
              "read_only_value": read_total,
              "write_gate_value": write_total,
              "artifact_build_seconds": artifact_total,
              "artifact_build_detail": artifact_time.snapshot(),
              "write_gates": sorted(n for n in timings if n in wg)}
    if not idle:
        payload["load_contaminated"] = True
        detail["load_contaminated"] = True
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_detail.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    sys.exit(main())
