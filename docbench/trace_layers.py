"""Per-layer tracing for ``run.py --trace 1``, measured from outside.

The tracer wraps the package's public functions at runtime, patching each
name where it is looked up (``frame`` binds ``plan_scan``, ``catalog`` and
``scan`` bind ``resolve_schema``, the workloads bind
``build_text_stats_index``).  Every call becomes a span (name, start, end,
parent, op id) kept in memory and written out at exit.  Executor work is
read per op from Spark's own status stores: job and stage totals from the
application store, planning phases from the query's tracker.  Documents
the backends hand out are counted by ``hooks/docbench_counters.py``, both
in the driver and in the executor Python workers.  ``exec.plan_ms`` and
``drain.*`` cover the read ops' Arrow drains; a write or index op's
planning counts in its own wall only.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from collections import Counter

HOOKS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "hooks")
if HOOKS not in sys.path:
    sys.path.insert(0, HOOKS)

import docbench_counters  # noqa: E402

OPS_KERNELS = {
    "text": ("with_analysis", "with_text_stats"),
    "dedup": ("dedup_exact", "near_dup_pairs_minhash_lsh"),
    "span_dedup": ("duplicate_spans", "remove_duplicate_spans"),
    "similarity": ("cosine_topk",),
}

# (metric, unit) in print order; BENCHMARK.json lists the same names.
PER_LAYER = [
    ("process.peak_rss_mb", "MB"),
    ("session.start_ms", "ms"),
    ("schema.resolve_ms", "ms"), ("schema.resolve_calls", "count"),
    ("catalog.schema_cache_hit_ratio", "ratio"),
    ("pushdown.plan_ms", "ms"), ("pushdown.pushed_filter_ratio", "ratio"),
    ("pushdown.agg_pushed_ratio", "ratio"),
    ("frame.build_ms", "ms"), ("frame.route_direct", "count"),
    ("frame.route_native", "count"), ("frame.route_datasource", "count"),
    ("frame.route_routed", "count"),
    ("exec.plan_ms", "ms"), ("exec.job_ms", "ms"), ("exec.task_ms", "ms"),
    ("exec.core_busy_ratio", "ratio"), ("exec.tasks", "count"),
    ("exec.shuffle_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("datasource.scan_tasks", "count"), ("backends.docs_read", "count"),
    ("backends.docs_read_per_row_returned", "ratio"),
    ("backends.decode_docs_per_s", "1/s"),
    ("mql.interpret_ms", "ms"), ("mql.docs_interpreted", "count"),
    ("drain.ms", "ms"), ("drain.rows", "count"), ("drain.bytes", "bytes"),
    *[(f"ops.{k}.{m}", "ms") for k in OPS_KERNELS for m in ("build_ms", "exec_ms")],
    ("sidecar.build_ms", "ms"), ("sidecar.builds", "count"),
    ("sidecar.hit_ratio", "ratio"),
    ("sinks.write_ms", "ms"), ("sinks.files_written", "count"),
    ("sinks.files_per_collection", "count"),
    ("sinks.bytes_written_per_input_byte", "ratio"),
    ("trace.op_p50_ms", "ms"), ("trace.untraced_op_p50_ms", "ms"),
    ("trace.overhead_ms", "ms"),
]


def _files(root: str) -> dict:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def _counting(docs, counts: Counter, key: str):
    for d in docs:
        counts[key] += 1
        yield d


class Tracer:
    def __init__(self, work: str, cpus: int):
        self.cpus = cpus
        self.count_dir = os.path.join(work, "counts")
        os.makedirs(self.count_dir, exist_ok=True)
        # executor Python workers inherit this through the JVM
        os.environ["DOCBENCH_COUNT_DIR"] = self.count_dir
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id = 0
        self.paused = 0
        self.t = Counter()  # summed milliseconds and counts
        self.kernel_exec = Counter()
        self.patches: list = []

    # -- spans
    def span(self, name: str, fn, *args, **kwargs):
        if self.paused:
            return fn(*args, **kwargs)
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            self.stack.pop()
            rec["end"] = time.perf_counter()
            self.t[name + "_ms"] += (rec["end"] - rec["start"]) * 1e3
            self.t[name + "_calls"] += 1

    def _patch(self, owner, attr: str, name: str, before=None, after=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer.paused:
                return orig(*args, **kwargs)
            if before is not None:
                args, kwargs = before(args, kwargs)
            out = tracer.span(name, orig, *args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self.patches.append((owner, attr, orig))

    # -- install / remove
    def attach(self, spark) -> None:
        import duckdb_mongo_spark as dms
        import workloads
        from duckdb_mongo_spark import catalog, frame, scan, sinks
        from duckdb_mongo_spark.mql import interpreter
        from duckdb_mongo_spark.ops import text_index
        from duckdb_mongo_spark.schema import infer

        self.spark = spark
        for mod in (catalog, scan, infer):
            self._patch(mod, "resolve_schema", "schema.resolve")
        self._patch(catalog.AttachedCatalog, "schema_for", "catalog.schema_for",
                    before=self._schema_lookup)
        self._patch(frame, "plan_scan", "pushdown.plan")
        self._patch(frame.MongoFrame, "df", "frame.build", after=self._frame_built)
        run_pipeline = interpreter.run_pipeline
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("duckdb_mongo_spark") and \
                    getattr(mod, "run_pipeline", None) is run_pipeline:
                self._patch(mod, "run_pipeline", "mql.interpret", before=self._count_docs)
        for kernel, fns in OPS_KERNELS.items():
            mod = getattr(dms.ops, kernel)
            for fn in fns:
                self._patch(mod, fn, f"ops.{kernel}.build")
        for owner in (workloads, text_index):
            self._patch(owner, "build_text_stats_index", "sidecar.build")
        self._patch(text_index, "cached_stats", "sidecar.lookup")
        for owner in (dms, sinks):
            self._patch(owner, "write_collection", "sinks.write", before=self._sink_before,
                        after=self._sink_after)
        self.text_index = text_index
        self.ti0 = (text_index.build_count, text_index.hit_count)
        docbench_counters.install(self.count_dir)

    def detach(self) -> None:
        for owner, attr, orig in reversed(self.patches):
            setattr(owner, attr, orig)
        self.patches.clear()
        docbench_counters.uninstall()
        ti = self.text_index
        self.t["sidecar.builds"] = ti.build_count - self.ti0[0]
        self.t["sidecar.hits"] = ti.hit_count - self.ti0[1]

    # -- per-call hooks
    def _schema_lookup(self, args, kwargs):
        cat, coll = args[0], args[1]
        db = kwargs.get("db") or (args[2] if len(args) > 2 else None)
        self.paused += 1
        try:
            db = db or cat._default_db()
        finally:
            self.paused -= 1
        self.t["catalog.lookups"] += 1
        self.t["catalog.hits"] += (db, coll) in cat._schema_cache
        return args, kwargs

    def _frame_built(self, args, kwargs, df) -> None:
        mf = args[0]
        route = getattr(mf, "last_exec_path", "") or ""
        route = "routed" if route.startswith("routed") else route
        self.t[f"frame.route_{route}"] += 1
        self.paused += 1
        try:
            desc = mf.scan_description()
        finally:
            self.paused -= 1
        if mf._preds or mf.manual_filter:
            self.t["pushdown.filtered"] += 1
            self.t["pushdown.filter_pushed"] += "residual=" not in desc
        if mf._aggs:
            self.t["pushdown.aggs"] += 1
            self.t["pushdown.agg_pushed"] += "scan_method=aggregate" in desc

    def _count_docs(self, args, kwargs):
        return (_counting(args[0], self.t, "mql.docs_interpreted"),) + tuple(args[1:]), kwargs

    def _sink_before(self, args, kwargs):
        backend = args[1]
        self._sink_root = getattr(backend, "root", None)
        self._sink_files = _files(self._sink_root) if self._sink_root else {}
        return args, kwargs

    def _sink_after(self, args, kwargs, out) -> None:
        if not self._sink_root:
            return
        after = _files(self._sink_root)
        new = [p for p, v in after.items() if self._sink_files.get(p) != v]
        self.t["sinks.files_written"] += len(new)
        self.t["sinks.bytes_written"] += sum(after[p][1] for p in new)

    # -- ops
    def begin_op(self, op) -> None:
        """Open the op's root span; every span until ``end_op`` nests in it."""
        self.op_id += 1
        self.op_span = {"id": len(self.spans), "name": f"op.{op.name}", "op": self.op_id,
                        "parent": None, "start": time.perf_counter(), "end": None}
        self.spans.append(self.op_span)
        self.stack = [self.op_span["id"]]
        self.counts0 = docbench_counters.totals(self.count_dir, os.getpid())
        self.kernel_ms0 = {k: self.t[f"ops.{k}.build_ms"] for k in OPS_KERNELS}
        self.sink_bytes0 = self.t["sinks.bytes_written"]
        self.jobs_group = f"docbench-op-{self.op_id}"
        self.spark.sparkContext.setJobGroup(self.jobs_group, op.name)

    def action(self, df):
        t0 = time.perf_counter()
        out = self.span("drain", df.toArrow)
        wall = (time.perf_counter() - t0) * 1e3
        ph = df._jdf.queryExecution().tracker().phases()
        plan = 0.0
        for phase in ("optimization", "planning"):
            o = ph.get(phase)
            if o.isDefined():
                plan += o.get().durationMs()
        job_ms = self._exec_totals(record=False)
        self.t["exec.plan_ms"] += plan
        self.t["drain.ms_net"] += max(wall - job_ms - plan, 0.0)
        self.t["drain.rows"] += out.num_rows
        self.t["drain.bytes"] += out.nbytes
        return out

    def _exec_totals(self, record: bool) -> float:
        """Wall ms from the first job's submission to the last job's end,
        over the jobs the current op ran; with ``record`` also adds their
        stage totals."""
        sc = self.spark._jsc.sc()
        sc.listenerBus().waitUntilEmpty(30_000)  # the store is fed asynchronously
        app = sc.statusStore()
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.jobs_group)
        first, last = None, None
        task_ms = tasks = shuffle = spill = 0
        for jid in ids:
            job = app.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                s, e = sub.get().getTime(), done.get().getTime()
                first = s if first is None else min(first, s)
                last = e if last is None else max(last, e)
            if not record:
                continue
            stages = job.stageIds()
            for i in range(stages.size()):
                st = app.lastStageAttempt(stages.apply(i))
                task_ms += st.executorRunTime()
                tasks += st.numCompleteTasks()
                shuffle += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        job_ms = float(last - first) if first is not None else 0.0
        if record:
            self.t["exec.job_ms"] += job_ms
            self.t["exec.task_ms"] += task_ms
            self.t["exec.tasks"] += tasks
            self.t["exec.shuffle_bytes"] += shuffle
            self.t["exec.spill_bytes"] += spill
        return job_ms

    def end_op(self, op, wall: float) -> None:
        self.op_span["end"] = time.perf_counter()
        self.stack = []
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self._exec_totals(record=True)
        reads0, docs0, secs0 = self.counts0
        reads, docs, secs = docbench_counters.totals(self.count_dir, os.getpid())
        self.t["datasource.scan_tasks"] += reads - reads0
        self.t["backends.docs_read"] += docs - docs0
        self.t["backends.read_s"] += secs - secs0
        if op.in_bytes:  # writes of generated documents, not derived tables
            self.t["sinks.doc_bytes_written"] += self.t["sinks.bytes_written"] - self.sink_bytes0
            self.t["sinks.input_bytes"] += op.in_bytes
        # a kernel's exec time is the rest of the op that called it
        for k in OPS_KERNELS:
            built = self.t[f"ops.{k}.build_ms"] - self.kernel_ms0[k]
            if built > 0:
                self.kernel_exec[k] += wall * 1e3 - built

    # -- results
    def per_layer(self, h, traced: list[float], untraced: list[float]) -> dict:
        t = self.t

        def ratio(a, b):
            return t[a] / t[b] if t[b] else 0.0

        v = {
            "process.peak_rss_mb": h.peak_rss_mb(),
            "session.start_ms": h.session_ms[0],
            "schema.resolve_ms": t["schema.resolve_ms"],
            "schema.resolve_calls": t["schema.resolve_calls"],
            "catalog.schema_cache_hit_ratio": ratio("catalog.hits", "catalog.lookups"),
            "pushdown.plan_ms": t["pushdown.plan_ms"],
            "pushdown.pushed_filter_ratio": ratio("pushdown.filter_pushed", "pushdown.filtered"),
            "pushdown.agg_pushed_ratio": ratio("pushdown.agg_pushed", "pushdown.aggs"),
            "frame.build_ms": t["frame.build_ms"],
            "frame.route_direct": t["frame.route_direct"],
            "frame.route_native": t["frame.route_native"],
            "frame.route_datasource": t["frame.route_datasource"],
            "frame.route_routed": t["frame.route_routed"],
            "exec.plan_ms": t["exec.plan_ms"],
            "exec.job_ms": t["exec.job_ms"],
            "exec.task_ms": t["exec.task_ms"],
            "exec.core_busy_ratio": (t["exec.task_ms"] / (t["exec.job_ms"] * self.cpus)
                                     if t["exec.job_ms"] else 0.0),
            "exec.tasks": t["exec.tasks"],
            "exec.shuffle_bytes": t["exec.shuffle_bytes"],
            "exec.spill_bytes": t["exec.spill_bytes"],
            "datasource.scan_tasks": t["datasource.scan_tasks"],
            "backends.docs_read": t["backends.docs_read"],
            "backends.docs_read_per_row_returned": ratio("backends.docs_read", "drain.rows"),
            "backends.decode_docs_per_s": ratio("backends.docs_read", "backends.read_s"),
            "mql.interpret_ms": t["mql.interpret_ms"],
            "mql.docs_interpreted": t["mql.docs_interpreted"],
            "drain.ms": t["drain.ms_net"],
            "drain.rows": t["drain.rows"],
            "drain.bytes": t["drain.bytes"],
            "sidecar.build_ms": t["sidecar.build_ms"],
            "sidecar.builds": t["sidecar.builds"],
            "sidecar.hit_ratio": ratio("sidecar.hits", "sidecar.lookup_calls"),
            "sinks.write_ms": t["sinks.write_ms"],
            "sinks.files_written": t["sinks.files_written"],
            "sinks.files_per_collection": h.wl.out_files(),
            "sinks.bytes_written_per_input_byte": ratio("sinks.doc_bytes_written", "sinks.input_bytes"),
            "trace.op_p50_ms": statistics.median(traced) * 1e3,
            "trace.untraced_op_p50_ms": statistics.median(untraced) * 1e3,
        }
        v["trace.overhead_ms"] = v["trace.op_p50_ms"] - v["trace.untraced_op_p50_ms"]
        for k in OPS_KERNELS:
            v[f"ops.{k}.build_ms"] = t[f"ops.{k}.build_ms"]
            v[f"ops.{k}.exec_ms"] = self.kernel_exec[k]
        units = dict(PER_LAYER)
        for name, _ in PER_LAYER:
            print(f"{name:>38} = {v[name]:14.4f} {units[name]}", file=sys.stderr)
        return {name: {"value": float(v[name]), "unit": units[name]} for name, _ in PER_LAYER}

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
