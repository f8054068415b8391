"""Time individual queries in isolation, bench-identically.

Usage::

    python tools/isolate.py q208 q212 [...]    # substring match on names

Replicates bench.py's protocol (warmup q01, min-of-N with a FRESH
fn(spark, sf_dir) build every run — the honest r9 protocol — noop/
collect force) for an arbitrary subset, printing per-run times so
build vs execute cost and run-to-run variance are visible — the bench
only keeps the min.
"""

from __future__ import annotations

import os
import sys
import time

import __spark_entry__ as entry_mod
from aws_dms_to_hudi_spark.session import get_spark
from bench import force


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    pats = sys.argv[1:]
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = get_spark("isolate")
    gates = entry_mod.GATES
    force(gates["q01_scan_projection"].fn(spark, sf_dir))
    for name, gate in gates.items():
        if pats and not any(name.startswith(p) or p in name for p in pats):
            continue
        spark.sparkContext.setJobDescription(name)
        ts = []
        for _ in range(runs):
            t0 = time.time()
            df = gate.fn(spark, sf_dir)
            t_build = time.time() - t0
            force(df, name)
            ts.append((t_build, time.time() - t0))
        spark.sparkContext.setJobDescription(None)
        runs_s = " ".join(f"{b:.2f}/{t:.2f}" for b, t in ts)
        print(f"{name}: min={min(t for _, t in ts):.3f}  "
              f"[build/total per run: {runs_s}]", flush=True)


if __name__ == "__main__":
    main()
