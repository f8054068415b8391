"""CDC-lake benchmark.

    python3 perfbench/run.py --workload cow_upsert --seed 1 --seconds 10 --trace 0

Runs one workload in this process against the package's public API, from
inputs drawn from ``--seed``, for ``--seconds`` of timed work (whole
rounds), checks every output against an independent oracle, and prints
one JSON object as the last line of stdout.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps each layer's public functions and
reports per-layer metrics instead.  Per-op samples, host figures and (when
traced) all spans go to ``.perfbench_out/`` at the repository root.

Everything the run writes (temp dirs, Spark local dirs, the landing area
and the lake) lives under ``.perfbench_tmp/<workload>-<pid>/`` and is
removed at exit.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

T_IMPORT = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import procstat  # noqa: E402

WORKLOADS = ("cow_upsert", "gate_session")
IDLE_WAIT_S = 20  # a run must finish well within its 180 s limit
# The workloads' inputs fit a 1 GB heap with room to spare. A larger heap
# let G1 grow to a different size in each process: peak RSS spread 21%
# over five runs at 2 GB against 9% at 1 GB, and latencies followed it.
HEAP_CAP_MB = 1024


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE_AT_IMPORT = _process_age_s()


def since_start() -> float:
    return AGE_AT_IMPORT + time.perf_counter() - T_IMPORT


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "heap_mb": min(HEAP_CAP_MB, mem_mb // 4),
        "mem_total_mb": mem_mb,
    }


def wait_for_idle(nproc: int) -> float:
    """Wait (bounded) for the 1-min loadavg to drop to the core count, as
    bench.wait_for_idle does; returns the seconds waited."""
    t0 = time.perf_counter()
    while os.getloadavg()[0] > nproc and time.perf_counter() - t0 < IDLE_WAIT_S:
        time.sleep(2)
    return time.perf_counter() - t0


class OpFailed(Exception):
    pass


class Clock:
    """Timed-phase clock: op samples, paused bookkeeping, span routing."""

    def __init__(self, tracer, probe):
        self.tracer = tracer
        self.traced = tracer is not None
        self.probe = probe
        self.samples: dict[str, list[float]] = {"write": [], "read": []}
        self.names: list[str] = []  # op name per completed op, in order
        self.failed = 0
        self.paused_s = 0.0
        self.paused_cpu = 0.0
        self.last_op = -1

    def start(self) -> None:
        self.t0 = time.perf_counter()
        self.paused_s = self.paused_cpu = 0.0

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0 - self.paused_s

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()

    def _set_op(self, op: int) -> None:
        if self.traced:
            self.tracer.op = op

    @contextmanager
    def paused(self):
        t, c = time.perf_counter(), time.process_time()
        self._set_op(-2)
        try:
            yield
        finally:
            self.paused_s += time.perf_counter() - t
            self.paused_cpu += time.process_time() - c

    @contextmanager
    def op(self, kind: str, name: str = ""):
        self.last_op = sum(len(v) for v in self.samples.values()) + self.failed
        self._set_op(self.last_op)
        t = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                yield
        except Exception as exc:
            self.failed += 1
            traceback.print_exc()
            raise OpFailed(kind) from exc
        self.samples[kind].append((time.perf_counter() - t) * 1e3)
        self.names.append(name or kind)


class NoProbe:
    def before_op(self, lake) -> None:
        pass

    def after_op(self, lake, dfs=()) -> None:
        pass


class Probe(NoProbe):
    """Per-op counts for traced runs, taken with the clock paused."""

    def __init__(self, tracer, clock, counters):
        self.tracer = tracer
        self.clock = clock
        self.counters = counters
        self.before: dict[str, int] | None = None

    @staticmethod
    def _files(lake: Path) -> dict[str, int]:
        return {str(p): p.stat().st_size for p in lake.rglob("*.parquet")}

    def before_op(self, lake) -> None:
        self.before = self._files(lake)

    def after_op(self, lake, dfs=()) -> None:
        op, counts = self.clock.last_op, self.tracer.counts
        for k, v in self.counters.collect().items():
            counts[(op, k)] += v
        if self.before is not None:
            new = {p: s for p, s in self._files(lake).items() if p not in self.before}
            counts[(op, "storage.files_written")] += len(new)
            counts[(op, "storage.written_mb")] += sum(new.values()) / 2**20
            self.before = None
        for df in dfs:
            counts[(op, "storage.files_scanned")] += len(df.inputFiles())


def contain(root: Path, info: dict) -> dict:
    """Point every temp location of this run, and of the JVM and Python
    workers it starts, under ``root``; return the Spark conf for it."""
    for sub in ("tmp", "jvmtmp", "spark-local", "warehouse"):
        (root / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(root / "tmp")
    tempfile.tempdir = str(root / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(root / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(info["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{info['heap_mb']}m"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(root / "spark-local"),
        "spark.sql.warehouse.dir": str(root / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root / 'jvmtmp'} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def pyworker_cpu_s(pids: list[int]) -> float:
    return procstat.cpu_s([p for p in pids if "pyspark" in procstat.cmdline(p)
                           and "daemon" in procstat.cmdline(p)])


LAYER_TIMES = {  # metric -> span name, self time per op in ms
    "engine.run_self_ms": "engine.run",
    "config.munge_ms": "config.munge",
    "catalog.sync_ms": "catalog.sync",
    "sources.list_ms": "sources.list",
    "sources.read_new_ms": "sources.read_new",
    "storage.upsert_ms": "storage.upsert",
    "storage.compact_ms": "storage.compact",
    "storage.clean_ms": "storage.clean",
    "storage.archive_ms": "storage.archive",
    "storage.read_ms": "storage.read",
    "storage.read_incremental_ms": "storage.read_incremental",
    "spark.plan_ms": "spark.plan",
    "spark.exec_ms": "spark.exec",
    "gates.build_ms": "gates.build",
    "artifacts.build_ms": "artifacts.build",
}
LAYER_COUNTS = {  # metric -> unit, a count per op
    "sources.files_listed": "count", "storage.manifest_reads": "count",
    "storage.files_written": "count", "storage.written_mb": "MB",
    "storage.files_scanned": "count", "operators.merge_calls": "count",
    "artifacts.built": "count", "spark.jobs": "count", "spark.tasks": "count",
    "spark.shuffle_mb": "MB", "spark.spill_mb": "MB",
}


def per_layer(tracer, n_ops: int, extra: dict) -> dict:
    timed = tracer.self_times(lambda op: op >= 0)
    setup = tracer.self_times(lambda op: op == -1)
    out = {m: {"value": timed.get(s, 0.0) * 1e3 / n_ops, "unit": "ms"}
           for m, s in LAYER_TIMES.items()}
    out["storage.bulk_insert_ms"] = {"value": setup.get("storage.bulk_insert", 0.0) * 1e3,
                                     "unit": "ms"}
    totals: dict[str, float] = {}
    for (op, k), v in tracer.counts.items():
        if op >= 0:
            totals[k] = totals.get(k, 0.0) + v
    for m, unit in LAYER_COUNTS.items():
        out[m] = {"value": totals.get(m, 0.0) / n_ops, "unit": unit}
    out.update(extra)
    return out


def layer_table(tracer, n_ops: int) -> str:
    """Self time per span name per op, op roots included (their self time
    is the part of each op no layer claims)."""
    timed = tracer.self_times(lambda op: op >= 0)
    total = sum(timed.values()) or 1.0
    lines = [f"{'span':28s} {'self ms/op':>11s} {'share':>7s}"]
    for name, s in sorted(timed.items(), key=lambda kv: -kv[1]):
        lines.append(f"{name:28s} {s * 1e3 / n_ops:11.2f} {s / total:7.1%}")
    return "\n".join(lines)


def run(args) -> dict:
    info = host()
    info["idle_wait_s"] = wait_for_idle(info["nproc"])
    info["loadavg_start"] = os.getloadavg()
    root = ROOT / ".perfbench_tmp" / f"{args.workload}-{os.getpid()}"
    spark = None
    try:
        conf = contain(root, info)
        tracer = None
        if args.trace:
            from spans import Tracer, install

            tracer = Tracer()
            install(tracer)
        from aws_dms_to_hudi_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        clock = Clock(tracer, NoProbe())
        if args.workload == "gate_session":
            import gates as workload
            from gen import write_corpus

            wl = workload.GateRun(spark, write_corpus(root / "corpus", args.seed))
            wl.warm_up()
        else:
            import ingest as workload

            wl = workload.IngestRun(spark, root, args.seed)
            wl.load()
            for _ in range(workload.WARMUP_ROUNDS):
                wl.land_next()
                wl.read_op(wl.write_op(), clock.span)
        counters = None
        if tracer is not None:
            from spans import SparkCounters

            counters = SparkCounters(spark)
            clock.probe = Probe(tracer, clock, counters)
            gc0 = counters.gc_ms()
        setup_s = since_start() - info["idle_wait_s"]

        pids = procstat.tree()
        cpu0, py0 = procstat.cpu_s(pids), pyworker_cpu_s(pids)
        clock.start()
        try:
            workload.run_rounds(wl, clock, args.seconds)
        except OpFailed:
            pass
        wall = clock.elapsed()
        pids = procstat.tree()
        n_ops = sum(len(v) for v in clock.samples.values())
        cpu = procstat.cpu_s(pids) - cpu0 - clock.paused_cpu
        rss = procstat.peak_rss_mb(pids)
        lake_mb = wl.lake_mb()
        layer_extra = {}
        if counters is not None:
            layer_extra = {
                "jvm.gc_ms": {"value": (counters.gc_ms() - gc0) / max(n_ops, 1), "unit": "ms"},
                "pyworker.cpu_s": {"value": (pyworker_cpu_s(pids) - py0) / max(n_ops, 1),
                                   "unit": "s"},
                "artifacts.cached_mb": {"value": counters.cached_mb(), "unit": "MB"},
            }
        info["loadavg_end"] = os.getloadavg()

        errors = wl.check() if n_ops else ["no op completed"]
        for e in errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        result = {
            "correct": not errors,
            "attempted": n_ops + clock.failed,
            "failed": clock.failed,
        }
        if tracer is None:
            w, r = clock.samples["write"], clock.samples["read"]
            result["metrics"] = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "write_p50_ms": {"value": statistics.median(w) if w else 0.0, "unit": "ms"},
                "read_p50_ms": {"value": statistics.median(r) if r else 0.0, "unit": "ms"},
                "ops_per_s": {"value": n_ops / wall, "unit": "1/s"},
                "cpu_s_per_op": {"value": cpu / max(n_ops, 1), "unit": "s"},
                "peak_rss_mb": {"value": rss, "unit": "MB"},
                "lake_mb": {"value": lake_mb, "unit": "MB"},
            }
        else:
            result["metrics"] = per_layer(tracer, max(n_ops, 1), layer_extra)
            print(layer_table(tracer, max(n_ops, 1)), file=sys.stderr)

        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        side = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "host": info, "timed_wall_s": wall,
                "samples_ms": clock.samples,
                "op_names": clock.names, "errors": errors, "result": result}
        if tracer is not None:
            side["spans"] = tracer.dump()
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
        (out_dir / name).write_text(json.dumps(side))
        print(json.dumps({k: info[k] for k in ("nproc", "heap_mb", "loadavg_start",
                                                "loadavg_end", "idle_wait_s")}),
              file=sys.stderr)
        return result
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
