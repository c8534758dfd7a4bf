"""In-memory spans and counters for the traced benchmark run.

The spans are recorded from the benchmark's side of each layer boundary:
``install`` replaces the public functions of the engine modules with
wrappers that open a span per call.  A span is ``(name, start, end,
parent, op)``: ``parent`` is the index of the enclosing span (or -1) and
``op`` the id shared by every span of one workload operation.  Recording
is on only while an operation runs, so set-up and the output checks
leave no spans.

Spark's own counters are read per traced operation: the operation runs
under its own job group, and when it ends the jobs of that group are
looked up in the status tracker and their stages in the JVM status
store (which keeps stage metrics with the UI disabled).
"""

from __future__ import annotations

import functools
import json
import time
import types
from collections import Counter, defaultdict

# The functions wrapped are those whose spans feed a metric.  Every
# LocalFS method is wrapped because fs.busy_s covers them all (the seven
# FS_COUNTED also report a call count), and every public function of the
# three core modules because core.busy_s covers them.  The fs, store,
# core and toArrow spans under reader.get_slice are also what its self
# time subtracts.
FS_METHODS = (
    "listdir", "exists", "isdir", "read_text", "create_exclusive",
    "rename", "rmtree", "makedirs", "write_text", "replace_text",
    "tree_size",
)
FS_COUNTED = (
    "listdir", "exists", "isdir", "read_text", "create_exclusive",
    "rename", "rmtree",
)
STORE_METHODS = (
    "version_ids", "finish_version", "index_map", "blobs_for",
    "resolve_index_df",
)
READER_FUNCS = ("get_slice",)
WRITER_FUNCS = (
    "write_variable", "ingest_aligned", "write_pieces", "reconcile_version",
    "materialize_full_index",
)
MAINTENANCE_FUNCS = ("vacuum",)

# Span names whose busy time is reported as a metric.
BUSY_SPANS = (
    "store.finish_version", "store.index_map", "store.blobs_for",
    "reader.toArrow", "writer.write_variable", "writer.ingest_aligned",
    "writer.write_pieces", "writer.reconcile_version",
    "writer.materialize_full_index", "maintenance.vacuum",
)


class Tracer:
    """Span recorder plus the wrappers that feed it.

    Single-threaded by design: the benchmark is a one-client closed loop
    and the engine's driver-side calls run on the calling thread."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []
        self.counts: Counter = Counter()
        self.recording = False
        self.op: str | None = None
        self._stack: list[int] = []
        self._originals: list[tuple[object, str, object]] = []
        self._n_ops = 0
        self.ops: list[dict] = []  # one record per traced operation
        self.collect_s = 0.0
        self.hook_s = 0.0
        self.per_span_s = self._calibrate()

    # -- wrappers ------------------------------------------------------------

    def _wrap(self, holder, attr: str, name: str, pre=None, post=None):
        fn = holder.__dict__[attr] if isinstance(holder, type) else getattr(
            holder, attr
        )

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.recording:
                return fn(*args, **kwargs)
            if pre is not None:
                t0 = time.perf_counter()
                pre(*args, **kwargs)
                self.hook_s += time.perf_counter() - t0
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else -1
            span = [name, time.perf_counter(), None, parent, self.op]
            self.spans.append(span)
            self._stack.append(idx)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._stack.pop()
                span[2] = time.perf_counter()
            if post is not None:
                t0 = time.perf_counter()
                post(out)
                self.hook_s += time.perf_counter() - t0
            return out

        setattr(holder, attr, wrapper)
        self._originals.append((holder, attr, fn))

    def install(self) -> None:
        from mandoline_spark import fs, maintenance, reader, writer
        from mandoline_spark.core import chunk, slab, slice as slice_mod
        from mandoline_spark.store import Connection

        for m in FS_METHODS:
            self._wrap(fs.LocalFS, m, f"fs.{m}")
        for m in STORE_METHODS:
            pre = None
            if m == "index_map":
                pre = self._pre_index_map
            elif m == "blobs_for":
                pre = self._pre_blobs_for
            self._wrap(Connection, m, f"store.{m}", pre=pre)
        for f in READER_FUNCS:
            self._wrap(reader, f, f"reader.{f}")
        for f in WRITER_FUNCS:
            self._wrap(writer, f, f"writer.{f}")
        for f in MAINTENANCE_FUNCS:
            self._wrap(maintenance, f, f"maintenance.{f}")
        for mod, short in ((chunk, "chunk"), (slab, "slab"), (slice_mod, "slice")):
            for f in _public_functions(mod):
                self._wrap(mod, f, f"core.{short}.{f}")
        df_cls = type(self.spark.range(1))
        self._wrap(df_cls, "toArrow", "reader.toArrow", post=self._post_to_arrow)

    def uninstall(self) -> None:
        for holder, attr, fn in reversed(self._originals):
            setattr(holder, attr, fn)
        self._originals.clear()

    # counters read at the boundary, before the call mutates the caches
    def _pre_index_map(self, conn, version, var):
        if conn.cache_reads:
            self.counts["store.index_map.asked"] += 1
            if (version, var) in conn._index_map_cache:
                self.counts["store.index_map.hits"] += 1

    def _pre_blobs_for(self, conn, hashes):
        if conn.cache_reads:
            want = set(hashes)
            self.counts["store.blob_cache.asked"] += len(want)
            self.counts["store.blob_cache.hits"] += sum(
                1 for h in want if h in conn._blob_lru
            )

    def _post_to_arrow(self, table):
        self.counts["reader.arrow_bytes"] += table.nbytes

    # -- operations ----------------------------------------------------------

    def begin(self, kind: str) -> None:
        self._n_ops += 1
        self.op = f"{kind}-{self._n_ops}"
        self.spark.sparkContext.setJobGroup(self.op, kind)
        self.recording = True

    def end(self, kind: str) -> None:
        t0 = time.perf_counter()
        self.recording = False
        self.spark.sparkContext._jsc.clearJobGroup()
        rec = {"op": self.op, "kind": kind}
        rec.update(spark_counters(self.spark, self.op))
        self.ops.append(rec)
        self.op = None
        self.collect_s += time.perf_counter() - t0

    def overhead_s(self) -> float:
        """Estimate of the wall time the tracing added to the run: the
        counter collection after each operation and the counter hooks
        around the wrapped calls, both timed directly, plus the wrappers'
        own cost, i.e. the calibrated cost of one recorded call times the
        number of spans."""
        return (self.collect_s + self.hook_s
                + self.per_span_s * len(self.spans))

    def _calibrate(self, calls: int = 20_000) -> float:
        """Cost of one recorded wrapper call over the bare call."""
        probe = types.SimpleNamespace(f=lambda: None)
        bare = probe.f
        t0 = time.perf_counter()
        for _ in range(calls):
            bare()
        bare_s = time.perf_counter() - t0
        self._wrap(probe, "f", "probe")
        self._originals.pop()
        wrapped = probe.f
        self.recording = True
        t0 = time.perf_counter()
        for _ in range(calls):
            wrapped()
        wrapped_s = time.perf_counter() - t0
        self.recording = False
        self.spans.clear()
        return max(0.0, (wrapped_s - bare_s) / calls)

    # -- aggregation ---------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(
                    json.dumps(
                        {"name": name, "start": t0, "end": t1,
                         "parent": parent, "op": op}
                    )
                    + "\n"
                )

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer counts, busy and self times over the traced spans."""
        spans = self.spans
        child_s = [0.0] * len(spans)
        for name, t0, t1, parent, _ in spans:
            if parent >= 0:
                child_s[parent] += t1 - t0
        n: Counter = Counter()
        busy: defaultdict = defaultdict(float)
        self_s: defaultdict = defaultdict(float)
        layer_busy: defaultdict = defaultdict(float)
        for i, (name, t0, t1, parent, _) in enumerate(spans):
            n[name] += 1
            self_s[name] += (t1 - t0) - child_s[i]
            layer = name.split(".", 1)[0]
            # busy time counts a span only when no ancestor carries the
            # same name (busy) or the same layer (layer busy), so
            # re-entrant calls are not counted twice
            same_name = same_layer = False
            p = parent
            while p >= 0 and not (same_name and same_layer):
                pname = spans[p][0]
                same_name = same_name or pname == name
                same_layer = same_layer or pname.split(".", 1)[0] == layer
                p = spans[p][3]
            if not same_name:
                busy[name] += t1 - t0
            if not same_layer:
                layer_busy[layer] += t1 - t0
        out: dict[str, float] = {}
        for m in FS_COUNTED:
            out[f"fs.{m}.n"] = n[f"fs.{m}"]
        out["fs.busy_s"] = layer_busy["fs"]
        out["store.version_ids.n"] = n["store.version_ids"]
        out["store.resolve_index_df.n"] = n["store.resolve_index_df"]
        out["store.index_map.hit_ratio"] = _ratio(
            self.counts["store.index_map.hits"],
            self.counts["store.index_map.asked"],
        )
        out["store.blob_cache.hit_ratio"] = _ratio(
            self.counts["store.blob_cache.hits"],
            self.counts["store.blob_cache.asked"],
        )
        for name in BUSY_SPANS:
            out[f"{name}.busy_s"] = busy[name]
        out["reader.get_slice.self_s"] = self_s["reader.get_slice"]
        out["reader.arrow_bytes"] = self.counts["reader.arrow_bytes"]
        out["core.busy_s"] = layer_busy["core"]
        out["writer.materialize_full_index.n"] = n[
            "writer.materialize_full_index"
        ]
        return out

    def spark_totals(self) -> dict[str, float]:
        keys = ("jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
                "input_bytes")
        return {k: sum(r[k] for r in self.ops) for k in keys}

    def jobs_per_op(self, kinds: tuple[str, ...]) -> float:
        recs = [r for r in self.ops if r["kind"] in kinds]
        return _ratio(sum(r["jobs"] for r in recs), len(recs))


def _public_functions(mod) -> list[str]:
    return sorted(
        name
        for name, obj in vars(mod).items()
        if not name.startswith("_")
        and callable(obj)
        and getattr(obj, "__module__", None) == mod.__name__
        and not isinstance(obj, type)
    )


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def spark_counters(spark, group: str) -> dict[str, float]:
    """Sum the stage metrics of every job run under job group ``group``.

    The status store is fed asynchronously by the listener bus, so the
    bus is drained first; skipped stages (reused shuffle output) count
    neither as stages nor as tasks."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "input_bytes": 0}
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info is not None else []):
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                out["executor_run_s"] += d.executorRunTime() / 1e3
                out["executor_cpu_s"] += d.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                out["input_bytes"] += d.inputBytes()
    return out
