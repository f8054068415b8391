"""Capture .explain("formatted") for every declared query.

Usage::

    python tools/capture_plans.py out_dir [name_substr ...]

Writes ``out_dir/<query>.txt`` with the formatted physical plan of each
query's DataFrame at $SPARK_GRAFT_SF_DIR (default sf0.1). Plan capture
builds the DataFrame exactly as the bench does (including any session
artifact builds and write-gate setup) but does not execute the final
plan, so it is cheap relative to the bench and safe to run alongside
other work — plans, unlike timings, do not degrade under load.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import __spark_entry__ as entry_mod
from aws_dms_to_hudi_spark.session import get_spark


def formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> int:
    out_dir = Path(sys.argv[1])
    out_dir.mkdir(parents=True, exist_ok=True)
    filters = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture_plans")
    failed = []
    for name, gate in entry_mod.GATES.items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            df = gate.fn(spark, sf_dir)
            plan = formatted_plan(spark, df)
        except Exception as exc:  # record, keep going — this doubles as
            failed.append(name)   # a does-every-query-build smoke test
            plan = f"BUILD FAILED: {type(exc).__name__}: {exc}"
        (out_dir / f"{name}.txt").write_text(plan)
        print(f"{name}: {time.time() - t0:.1f}s", flush=True)
    if failed:
        print("FAILED: " + ", ".join(failed))
        return 1
    print("all plans captured")
    return 0


if __name__ == "__main__":
    sys.exit(main())
