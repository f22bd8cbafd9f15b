#!/usr/bin/env python3
"""Repository benchmark: seeded workloads driven through the public API.

    python3 docbench/run.py --workload doc_federation --seed 1 --seconds 10 --trace 0

Run from the repository root.  The harness generates the workload's inputs
from ``--seed`` under ``.docbench_work/`` (removed at exit), sets up the
engine three times in one session (session start, which launches the JVM
the first time, attach, schema resolution and the first query) and reports
the median set-up time, warms up with one untimed round of every op (and,
for curation_rw, extra untimed appends to a scratch collection), then
runs a closed loop with one client for ``--seconds`` (at least two whole
rounds of the workload's ops), each op building a fresh DataFrame and
draining it to Arrow, every answer checked.

BENCHMARK.json lists doc_federation and curation_rw.  columnar_analytics
(a parquet star schema checked against DuckDB) runs the same way but is
left out of that list: a third workload does not fit the time the full set
of benchmark runs may take.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instead runs a
fixed number of traced rounds (so counts repeat exactly for a seed), then
untraced rounds for the overhead line, and prints the per-layer metrics.
Human-readable lines go to stderr; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_ROUNDS = 3
MIN_ROUNDS = 2
TRACED_ROUNDS = {"doc_federation": 2, "columnar_analytics": 2, "curation_rw": 1}
MAX_CPUS = 4


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env(work: str, trace: bool) -> int:
    """Keep every file Spark, the JVM and the package write inside
    ``work``; pin the core count.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    paths = [ROOT] + ([os.path.join(HERE, "hooks")] if trace else [])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # every JVM (the spark-submit launcher too): temp files here, and
        # no hsperfdata directory under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(paths + [os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    })
    tempfile.tempdir = tmp
    return cpus


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Harness:
    def __init__(self, workload: str, seed: int, work: str):
        from gen import generate
        from workloads import WORKLOADS

        self.dms = __import__("duckdb_mongo_spark")
        t = time.perf_counter()
        self.manifest = generate(workload, seed, os.path.join(work, "data"))
        self.wl = WORKLOADS[workload](self.manifest)
        log(f"inputs generated and oracles computed in {time.perf_counter() - t:.2f} s")
        self.spark = None
        self.jvm = None
        self.session_ms: list[float] = []
        self.tracer = None
        self.walls: list[tuple[str, str, float]] = []  # (op, kind, seconds)
        self.round_docs = 0
        self.attempted = self.failed = 0
        self.warmup_failures = 0
        self.next_round = 0

    # -- engine lifetime
    def reset_catalog(self) -> None:
        for alias in ("fed", "fedpq", "col", "cur"):
            self.dms.detach(alias)
        self.dms.clear_cache()

    def shutdown(self) -> None:
        """Stop the session and the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def setup_once(self) -> float:
        """One set-up: session (the first call starts the JVM), attach,
        schema resolution and the first op of a round (the first query)."""
        self.reset_catalog()
        t = time.perf_counter()
        self.spark = self.dms.get_spark()
        self.session_ms.append((time.perf_counter() - t) * 1e3)
        self.jvm = self.spark.sparkContext._gateway.proc.pid
        self.wl.setup(self.spark)
        ok, _ = self.run_op(self.wl.round_ops(0)[0])
        self.warmup_failures += not ok
        return time.perf_counter() - t

    def warm_up(self) -> float:
        """One untimed round of every op in the current session, plus the
        workload's extra untimed writes, so JIT and codegen are warm before
        the timed loop."""
        t = time.perf_counter()
        for op in self.wl.round_ops(0):
            ok, _ = self.run_op(op)
            self.warmup_failures += not ok
        self.wl.warm_writes()
        self.next_round = 1
        return time.perf_counter() - t

    # -- ops
    def run_op(self, op) -> tuple[bool, float]:
        tr = self.tracer
        t0 = time.perf_counter()
        if tr is not None:
            tr.begin_op(op)
        try:
            if op.build is not None:
                df = op.build() if tr is None else tr.span("build", op.build)
                out = df.toArrow() if tr is None else tr.action(df)
            else:
                out = op.act() if tr is None else tr.span("act", op.act)
            wall = time.perf_counter() - t0
        except Exception:
            log(f"op {op.name} FAILED:\n{traceback.format_exc()}")
            return False, 0.0
        finally:
            if tr is not None:
                tr.end_op(op, time.perf_counter() - t0)
        try:
            op.check(out)
        except Exception as e:
            log(f"op {op.name} WRONG ANSWER: {e}")
            return False, wall
        return True, wall

    def run_round(self) -> None:
        ops = self.wl.round_ops(self.next_round)
        self.next_round += 1
        for op in ops:
            ok, wall = self.run_op(op)
            self.attempted += 1
            self.failed += not ok
            if ok:
                self.walls.append((op.name, op.kind, wall))
            log(f"  round {self.next_round - 1} {op.name:<16} {wall * 1e3:10.1f} ms")
        self.round_docs += sum(op.docs for op in ops)

    def closed_loop(self, seconds: float) -> float:
        """Whole rounds until ``seconds`` of wall have passed, and at least
        MIN_ROUNDS, so every op (and every write) has that many samples."""
        start = time.perf_counter()
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() - start < seconds:
            self.run_round()
            rounds += 1
        return time.perf_counter() - start

    def peak_rss_mb(self) -> float:
        kb = vm_hwm_kb(os.getpid()) + (vm_hwm_kb(self.jvm) if self.jvm else 0)
        return kb / 1024.0


def run_facts(h: Harness, cpus: int, seed: int) -> dict:
    import duckdb

    return {
        "nproc": len(os.sched_getaffinity(0)), "SPARK_GRAFT_CPUS": cpus, "seed": seed,
        "spark": h.spark.version,
        "java": h.spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__, "python": sys.version.split()[0],
        "inputs": h.manifest["collections"],
    }


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(h: Harness, setups: list[float]) -> dict:
    walls = [w for _, _, w in h.walls]
    writes = [w for _, k, w in h.walls if k == "write"]
    busy = sum(walls)
    m = {
        "setup_s": (statistics.median(setups), "s"),
        "op_p50_ms": (statistics.median(walls) * 1e3, "ms"),
        "op_p90_ms": (p90(walls) * 1e3, "ms"),
        "ops_per_s": (len(walls) / busy, "1/s"),
        "docs_per_s": (h.round_docs / busy, "1/s"),
        "write_p50_ms": (statistics.median(writes) * 1e3, "ms"),
        "stored_bytes_per_input_byte": (h.wl.stored_ratio(), "ratio"),
    }
    samples = {"setup_s": len(setups), "write_p50_ms": len(writes)}
    for k, (v, unit) in m.items():
        log(f"{k:>30} = {v:12.4f} {unit:<6} (n={samples.get(k, len(walls))})")
    # reported, not gated: the JVM's heap growth makes it vary by +-30%
    # between runs (it is the per-layer metric process.peak_rss_mb)
    log(f"{'peak_rss_mb':>30} = {h.peak_rss_mb():12.4f} MB")
    ratio = h.failed / max(h.attempted, 1)
    log(f"{'failed_op_ratio':>30} = {ratio:12.4f} ratio  ({h.failed}/{h.attempted})")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args, work: str) -> dict:
    trace = bool(args.trace)
    cpus = prepare_env(work, trace)
    sys.path.insert(0, ROOT)
    tracer = None
    if trace:
        from trace_layers import Tracer

        tracer = Tracer(work, cpus)
    h = Harness(args.workload, args.seed, work)
    try:
        setups = []
        for i in range(SETUP_ROUNDS):
            setups.append(h.setup_once())
            log(f"set-up {i + 1}/{SETUP_ROUNDS}: {setups[-1]:.3f} s")
        log(f"warm-up: {h.warm_up():.3f} s")
        log("run facts: " + json.dumps(run_facts(h, cpus, args.seed)))
        if not trace:
            steal0, total0 = cpu_ticks()
            loop = h.closed_loop(args.seconds)
            steal1, total1 = cpu_ticks()
            steal = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
            log(f"timed loop: {loop:.2f} s, {len(h.walls)} ops, cpus={cpus}, seed={args.seed}, "
                f"host steal {steal:.1f}% of CPU time")
            metrics = end_to_end(h, setups)
        else:
            h.tracer = tracer
            tracer.attach(h.spark)
            for _ in range(TRACED_ROUNDS[args.workload]):
                h.run_round()
            h.tracer = None
            tracer.detach()
            traced = [w for _, _, w in h.walls]
            h.walls = []
            h.closed_loop(args.seconds)
            untraced = [w for _, _, w in h.walls]
            metrics = tracer.per_layer(h, traced, untraced)
            tracer.write_spans(os.path.join(ROOT, ".docbench_work", f"spans-{args.workload}.jsonl"))
        correct = h.failed == 0 and h.warmup_failures == 0
        return {"correct": correct, "attempted": h.attempted, "failed": h.failed,
                "metrics": metrics}
    finally:
        t = time.perf_counter()
        h.shutdown()
        log(f"shutdown: {time.perf_counter() - t:.2f} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("doc_federation", "columnar_analytics", "curation_rw"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "duckdb_mongo_spark", "__init__.py")):
        log("duckdb_mongo_spark not found next to the benchmark; run from a repository checkout")
        return 2
    work = os.path.join(ROOT, ".docbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
