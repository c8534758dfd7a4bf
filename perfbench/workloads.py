"""The benchmark's workloads: seeded inputs, the operations of the
closed loop, their output checks, and the metrics each reports.

``array_read``  a read-only loop over the reference's perf shape with
                the t extent cut to 150 (400x600x150 short, 30^3
                chunks, 1,400 chunks, 72 MB) and four committed
                versions.
``array_write`` a fixed cycle of commits on a 120x140x160 short array
                (20^3 chunks), each commit read back and checked
                against a numpy model of the array.

Both report every end-to-end metric of ``END_TO_END`` and every
per-layer metric of ``PER_LAYER``; perfbench/README.md says what each
one measures on each workload.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from mandoline_spark import maintenance, reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl
from mandoline_spark.store import Store

END_TO_END = (
    ("setup_s", "s"),
    ("driver_peak_rss_mb", "MB"),
    ("read_p50_ms", "ms"),
    ("spark_read_p50_ms", "ms"),
    ("scan_mb_s", "MB/s"),
    ("commit_p50_s", "s"),
    ("ingest_mb_s", "MB/s"),
    ("space_amp", "ratio"),
)

# Printed and recorded but not bounded: the tail of the cached reads is
# set by the cold draws, which slow by up to 1.8x with host load (on a
# 4-core host its quartile spread over ten seeds was 0.40, above the
# 0.25 cap on a bound).
REPORTED = (("read_tail_ms", "ms"),)

PER_LAYER = (
    ("session.start_s", "s"),
    ("fs.listdir.n", "count"),
    ("fs.exists.n", "count"),
    ("fs.isdir.n", "count"),
    ("fs.read_text.n", "count"),
    ("fs.create_exclusive.n", "count"),
    ("fs.rename.n", "count"),
    ("fs.rmtree.n", "count"),
    ("fs.busy_s", "s"),
    ("store.version_ids.n", "count"),
    ("store.finish_version.busy_s", "s"),
    ("store.index_map.busy_s", "s"),
    ("store.index_map.hit_ratio", "ratio"),
    ("store.blobs_for.busy_s", "s"),
    ("store.blob_cache.hit_ratio", "ratio"),
    ("store.resolve_index_df.n", "count"),
    ("reader.get_slice.self_s", "s"),
    ("reader.toArrow.busy_s", "s"),
    ("reader.arrow_bytes", "B"),
    ("reader.spark_jobs_per_read", "count"),
    ("core.busy_s", "s"),
    ("writer.write_variable.busy_s", "s"),
    ("writer.ingest_aligned.busy_s", "s"),
    ("writer.write_pieces.busy_s", "s"),
    ("writer.reconcile_version.busy_s", "s"),
    ("writer.spark_jobs_per_commit", "count"),
    ("writer.materialize_full_index.n", "count"),
    ("writer.materialize_full_index.busy_s", "s"),
    ("writer.bytes_written_per_user_byte", "ratio"),
    ("maintenance.vacuum.busy_s", "s"),
    ("maintenance.vacuum.bytes_removed", "B"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.sched_floor_s", "s"),
    ("spark.jobs_x_floor_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.input_bytes", "B"),
    ("trace.overhead_s", "s"),
)

MB = 1e6
READ_BOX = 10  # edge of the slab reads, in cells


def metric_spec() -> dict:
    return {"end_to_end": END_TO_END, "reported": REPORTED,
            "per_layer": PER_LAYER}


def make(name: str, spark, work: str, seed: int, seconds: float):
    cls = {"array_read": ArrayRead, "array_write": ArrayWrite}[name]
    return cls(spark, os.path.join(work, "store"), seed, seconds)


@dataclass
class Op:
    """One closed-loop operation: ``run`` is timed; ``prepare`` (run
    before the clock starts) and ``check`` are not, and ``check``
    returns None when the output is right, else what is wrong."""

    kind: str
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    extra: dict = field(default_factory=dict)
    prepare: Callable[[], None] | None = None


# -- shared helpers -----------------------------------------------------------


def _box(lo, hi):
    return sl.mk_slice(tuple(int(v) for v in lo), tuple(int(v) for v in hi))


def _mismatch(got, want) -> str | None:
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    bad = np.argwhere(got != want)
    if len(bad):
        i = tuple(int(v) for v in bad[0])
        return (f"{len(bad)} cells differ, first at offset {i}: "
                f"{got[i]} != {want[i]}")
    return None


def _balanced_median(by_path: dict[str, list[float]]) -> tuple[float, str]:
    """Mean of the per-write-path medians: the aligned and the partial
    write path differ in cost by about 2x, so a plain median of a mix
    would sit on whichever path has the middle sample."""
    meds = {k: statistics.median(v) for k, v in sorted(by_path.items()) if v}
    note = ", ".join(f"{k} p50 of {len(by_path[k])}" for k in meds)
    return statistics.fmean(meds.values()), f"[{note}]"


def _by_path(records, scale: float = 1.0) -> dict[str, list[float]]:
    by_path: dict[str, list[float]] = {}
    for r in records:
        by_path.setdefault(r["path"], []).append(r["s"] * scale)
    return by_path


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it
    (50 when the sample is too small to support one above the median)."""
    return max(50, (100 * (n - 10)) // n)


def _latency_metrics(out, notes, name, values, tail=False):
    """``<name>_p50_ms`` (and ``<name>_tail_ms``) of latencies in s."""
    out[f"{name}_p50_ms"] = percentile(values, 50) * 1e3
    notes[f"{name}_p50_ms"] = f"[p50 of {len(values)}]"
    if tail:
        p = tail_percentile(len(values))
        out[f"{name}_tail_ms"] = percentile(values, p) * 1e3
        notes[f"{name}_tail_ms"] = f"[p{p} of {len(values)}]"


def _of(records, *kinds):
    return [r for r in records if r["kind"] in kinds and r["error"] is None]


def _layer_common(tracer, records, read_kinds, commit_kinds) -> dict:
    out = tracer.layer_metrics()
    for k, v in tracer.spark_totals().items():
        out[f"spark.{k}"] = v
    out["reader.spark_jobs_per_read"] = tracer.jobs_per_op(read_kinds)
    out["writer.spark_jobs_per_commit"] = tracer.jobs_per_op(commit_kinds)
    commits = [r for r in records if r["kind"] in commit_kinds]
    user = sum(r["user_bytes"] for r in commits)
    disk = sum(r["disk_bytes"] for r in commits)
    out["writer.bytes_written_per_user_byte"] = disk / user if user else 0.0
    out["maintenance.vacuum.bytes_removed"] = sum(
        r["bytes_removed"] for r in records if r["kind"] == "vacuum"
    )
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _store_bytes(conn) -> int:
    return sum(conn.get_stats().values())


def _warm_up(spark, store) -> None:
    """Drive both delta write paths and both read paths once on a
    throwaway three-dimensional dataset, so the first timed operation of
    each kind does not pay first-use compilation and Python worker
    start-up."""
    conn = store.create_dataset("warmup")
    metadata = {
        "dimensions": {"x": 8, "y": 4, "z": 4},
        "chunk-dimensions": {"x": 4, "y": 4, "z": 4},
        "variables": {"v": {"type": "short", "shape": ["x", "y", "z"],
                            "fill-value": 0}},
    }
    # a partial write (write_pieces), then a chunk-aligned one
    # (ingest_aligned), both as delta generations
    for data, lo in ((np.ones((3, 2, 2), "<i2"), (1, 1, 1)),
                     (np.full((4, 4, 4), 2, "<i2"), (4, 0, 0))):
        tok = conn.add_version(metadata)
        hi = [a + n for a, n in zip(lo, data.shape)]
        writer.write_variable(
            conn, tok, "v", [sb.Slab(data, _box(lo, hi))], index_mode="delta"
        )
        conn.finish_version(tok)
    cached = store.connect("warmup", cache_reads=True)
    for c in (conn, cached):
        reader.get_slice(
            c, reader.on_last_version(c), "v", _box((0, 0, 0), (8, 4, 4))
        )
    store.destroy_dataset("warmup")


# -- array_read ---------------------------------------------------------------

PX, PY, PT, PC = 400, 600, 150, 30  # the perf shape with t cut to 150
PFILL = -3
NCX, NCY, NCT = -(-PX // PC), -(-PY // PC), -(-PT // PC)
HOT_CHUNKS = 4  # the hot region is 4^3 chunks: well inside the 1,000-blob LRU
OLD_READS = 0.2  # share of cached reads on version 1; the rest read the tip
# Every fifth cached read is cold.  A fixed pattern, not a draw, so the
# hot share of every run is the same and read_p50_ms stays on the hot
# reads, whose p50 is the 62.5th percentile of the hot latencies.
COLD_EVERY = 5
SETUP_COMMITS = 3  # versions 2-4; commit_p50_s is their median
SPARK_READS = 3  # default-connection reads per run, spread evenly


def perf_values(lo, hi, offset: int) -> np.ndarray:
    """Closed form of the perf-shape array over the box [lo, hi): the
    reference's ramp (7x + 3y + t) mod 1000 plus a seeded offset, the
    chunk's linear index minus 16384 at each chunk's origin cell, and
    the fill value beyond the x extent.  The origin marker makes every
    chunk's blob distinct, so no two chunks share a cache entry."""
    x = np.arange(lo[0], hi[0], dtype=np.int32)[:, None, None]
    y = np.arange(lo[1], hi[1], dtype=np.int32)[None, :, None]
    t = np.arange(lo[2], hi[2], dtype=np.int32)[None, None, :]
    v = ((7 * x + 3 * y + t) % 1000 + offset).astype("<i2")
    k = (x // PC) * (NCY * NCT) + (y // PC) * NCT + t // PC - 16384
    origin = (x % PC == 0) & (y % PC == 0) & (t % PC == 0)
    v = np.where(origin, k.astype("<i2"), v)
    return np.where(x < PX, v, np.int16(PFILL))


def _perf_chunks(batches, offset: int):
    """mapInPandas body: one full-size chunk piece per chunk coordinate."""
    cols = ["ckey", "c0", "c1", "c2", "ord", "pstart", "pstop", "data"]
    for pdf in batches:
        rows = []
        for r in pdf.itertuples():
            c = (int(r.c0), int(r.c1), int(r.c2))
            lo = [v * PC for v in c]
            hi = [v + PC for v in lo]
            rows.append({
                "ckey": "_".join(map(str, c)), "c0": c[0], "c1": c[1],
                "c2": c[2], "ord": 0, "pstart": lo, "pstop": hi,
                "data": perf_values(lo, hi, offset).tobytes(),
            })
        yield pd.DataFrame(rows, columns=cols)


class ArrayRead:
    """Read-only loop over the perf-shape array, cut to t=150 (1,400
    chunks, 72 MB) so that a run fits the benchmark's time budget.

    Set-up warms the write and read paths, ingests version 1 with
    ``ingest_aligned`` (executor-generated chunks, full index), then
    commits versions 2-4: one chunk-aligned delta write each inside the
    hot region.  The loop draws 10^3-cell reads on a
    ``cache_reads=True`` connection, each on version 1 (20%) or the
    tip: four in five hot, anywhere inside a 4^3-chunk region that fits
    the 1,000-blob LRU, and every fifth cold, each inside one chunk
    outside the hot
    region.  The cold chunks are taken in a seeded order of all 1,336
    of them, so no cold chunk repeats before 1,335 others were fetched:
    every cold draw misses the LRU however many reads a run holds.  At
    fixed points of the run it interleaves three reads of the tip
    through a default connection, which runs Spark jobs for every read
    (boxes straddling eight chunks, at seeded chunks), and two
    full-extent scans through that connection: of the tip at one third
    and of version 1 at two thirds.  The loop ends at the deadline once
    all of these have run."""

    def __init__(self, spark, root: str, seed: int, seconds: float):
        self.spark = spark
        self.root = root
        self.seed = seed

    def describe(self, state) -> dict:
        return {
            "shape": [PX, PY, PT], "chunk": PC, "type": "short",
            "chunks": state["n_chunks"],
            "logical_bytes": PX * PY * PT * 2,
            "versions": len(state["versions"]),
            "hot_origin": state["hot_lo"],
        }

    def build(self) -> dict:
        spark = self.spark
        rng = np.random.default_rng([self.seed, 0])
        offset = int(rng.integers(0, 1000))
        store = Store(spark, self.root)
        _warm_up(spark, store)
        conn = store.create_dataset("perf")
        tok = conn.add_version({
            "dimensions": {"x": PX, "y": PY, "t": PT},
            "chunk-dimensions": {"x": PC, "y": PC, "t": PC},
            "variables": {"v": {"type": "short", "shape": ["x", "y", "t"],
                                "fill-value": PFILL}},
        })
        coords = pd.DataFrame(
            [(a, b, c) for a in range(-(-PX // PC)) for b in range(NCY)
             for c in range(NCT)],
            columns=["c0", "c1", "c2"],
        )
        pieces = (
            spark.createDataFrame(coords)
            .repartition(32)
            .mapInPandas(
                lambda it: _perf_chunks(it, offset), writer.piece_schema(3)
            )
        )
        t0 = time.perf_counter()
        writer.ingest_aligned(conn, tok, "v", pieces)
        conn.finish_version(tok)
        ingest_s = time.perf_counter() - t0
        n_chunks = sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d, _, fs in os.walk(conn.chunks_path()) for f in fs
            if f.endswith(".parquet")
        )
        if n_chunks != len(coords):
            raise RuntimeError(
                f"perf fixture stored {n_chunks} distinct chunks, "
                f"expected {len(coords)}"
            )

        hot_lo = [int(rng.integers(0, d // PC - HOT_CHUNKS)) * PC
                  for d in (PX, PY, PT)]
        # versions 2-4: one chunk-aligned delta write each, at distinct
        # chunks inside the hot region
        picks = rng.choice(HOT_CHUNKS ** 3, size=SETUP_COMMITS, replace=False)
        overlays = []  # (version index, lo, data), in commit order
        commits = {"aligned": []}
        for vidx, k in enumerate(picks, 1):
            c = np.unravel_index(k, (HOT_CHUNKS,) * 3)
            lo = [h + int(v) * PC for h, v in zip(hot_lo, c)]
            hi = [v + PC for v in lo]
            data = rng.integers(-30000, 30000, size=(PC, PC, PC)).astype("<i2")
            t0 = time.perf_counter()
            tok = conn.add_version(conn.metadata())
            writer.write_variable(
                conn, tok, "v", [sb.Slab(data, _box(lo, hi))],
                index_mode="delta",
            )
            conn.finish_version(tok)
            commits["aligned"].append(time.perf_counter() - t0)
            overlays.append((vidx, lo, data))
        hot = {tuple(h // PC + i for h, i in zip(hot_lo, c))
               for c in np.ndindex(*(HOT_CHUNKS,) * 3)}
        cold = [c for c in np.ndindex(NCX, NCY, NCT) if c not in hot]
        cold_order = [cold[i] for i in rng.permutation(len(cold))]
        versions = sorted(conn.version_ids())
        cached = store.connect("perf", cache_reads=True)
        tokens = [reader.on_version(conn, v) for v in versions]
        # warm the cached connection (index maps, the hot region of the
        # versions read) and the default connection's Spark read path
        hot_hi = [h + HOT_CHUNKS * PC for h in hot_lo]
        for tk in (tokens[0], tokens[-1]):
            reader.get_slice(cached, tk, "v", _box(hot_lo, hot_hi))
        reader.get_slice(conn, tokens[-1], "v", _box(hot_lo, [v + 1 for v in hot_lo]))
        return {
            "conn": conn, "cached": cached, "tokens": tokens,
            "offset": offset, "overlays": overlays, "hot_lo": hot_lo,
            "n_chunks": n_chunks, "ingest_s": ingest_s,
            "cold_order": cold_order, "n_cold": 0, "n_cached": 0,
            "commits": commits, "versions": versions,
            # (due at this fraction of the run, kind, version index)
            "schedule": sorted(
                [((i + 0.5) / SPARK_READS, "read_spark", len(tokens) - 1)
                 for i in range(SPARK_READS)]
                + [(1 / 3, "scan", len(tokens) - 1), (2 / 3, "scan", 0)]
            ),
        }

    def expected(self, state, vidx: int, lo, hi) -> np.ndarray:
        want = perf_values(lo, hi, state["offset"])
        for ov, olo, data in state["overlays"]:
            if ov > vidx:
                continue
            a = [max(l, o) for l, o in zip(lo, olo)]
            b = [min(h, o + s) for h, o, s in zip(hi, olo, data.shape)]
            if all(x < y for x, y in zip(a, b)):
                want[tuple(slice(x - l, y - l) for x, y, l in zip(a, b, lo))] = (
                    data[tuple(slice(x - o, y - o) for x, y, o in zip(a, b, olo))]
                )
        return want

    def check_full(self, state, vidx: int, got) -> str | None:
        """Compare a full-extent read with the closed form, ten x-planes
        at a time (the expected array is never whole)."""
        if got.shape != (PX, PY, PT):
            return f"shape {got.shape}"
        for x0 in range(0, PX, 10):
            x1 = min(PX, x0 + 10)
            err = _mismatch(
                got[x0:x1], self.expected(state, vidx, (x0, 0, 0), (x1, PY, PT))
            )
            if err:
                return f"x slab {x0}: {err}"
        return None

    def next_ops(self, state, rng, frac: float) -> list[Op]:
        tokens = state["tokens"]
        due = state["schedule"]
        if frac >= 1 and not due:
            return []
        if due and frac >= due[0][0]:
            _, kind, vidx = due.pop(0)
            tk = tokens[vidx]
            if kind == "scan":
                box = _box((0, 0, 0), (PX, PY, PT))
                return [Op(
                    "scan", f"scan v{vidx + 1}",
                    lambda: reader.get_slice(state["conn"], tk, "v", box).data,
                    lambda got: self.check_full(state, vidx, got),
                    {"bytes": PX * PY * PT * 2},
                )]
            # a box straddling 2x2x2 chunks, at a seeded chunk
            conn = state["conn"]
            lo = [int(rng.integers(0, -(-d // PC) - 1)) * PC + PC - READ_BOX // 2
                  for d in (PX, PY, PT)]
        elif state["n_cached"] % COLD_EVERY != COLD_EVERY - 1:
            kind, conn = "read_hot", state["cached"]
            state["n_cached"] += 1
            lo = [h + int(rng.integers(0, HOT_CHUNKS * PC - READ_BOX))
                  for h in state["hot_lo"]]
            vidx = 0 if rng.random() < OLD_READS else len(tokens) - 1
        else:
            kind, conn = "read_cold", state["cached"]
            state["n_cached"] += 1
            order = state["cold_order"]
            c = order[state["n_cold"] % len(order)]
            state["n_cold"] += 1
            # anywhere inside the chunk (the last x chunk is cut at PX)
            lo = [v * PC + int(rng.integers(0, min(PC, d - v * PC) - READ_BOX + 1))
                  for v, d in zip(c, (PX, PY, PT))]
            vidx = 0 if rng.random() < OLD_READS else len(tokens) - 1
        hi = [v + READ_BOX for v in lo]
        tk = tokens[vidx]
        box = _box(lo, hi)
        return [Op(
            kind, f"{kind} v{vidx + 1} {lo}",
            lambda: reader.get_slice(conn, tk, "v", box).data,
            lambda got: _mismatch(got, self.expected(state, vidx, lo, hi)),
        )]

    def final_ops(self, state) -> list[Op]:
        return []

    def end_to_end(self, state, records) -> tuple[dict, dict]:
        out, notes = {}, {}
        reads = [r["s"] for r in _of(records, "read_hot", "read_cold")]
        _latency_metrics(out, notes, "read", reads, tail=True)
        spark_reads = [r["s"] for r in _of(records, "read_spark")]
        _latency_metrics(out, notes, "spark_read", spark_reads)
        scans = _of(records, "scan")
        out["scan_mb_s"] = statistics.median(r["bytes"] / MB / r["s"] for r in scans)
        notes["scan_mb_s"] = f"[p50 of {len(scans)} full-extent reads]"
        out["commit_p50_s"], notes["commit_p50_s"] = _balanced_median(
            state["commits"]
        )
        notes["commit_p50_s"] += " set-up commits"
        out["ingest_mb_s"] = PX * PY * PT * 2 / MB / state["ingest_s"]
        notes["ingest_mb_s"] = "[set-up ingest of version 1]"
        out["space_amp"] = _store_bytes(state["conn"]) / (PX * PY * PT * 2)
        return out, notes

    def per_layer(self, tracer, records) -> dict:
        return _layer_common(
            tracer, records, ("read_hot", "read_cold", "read_spark", "scan"), ()
        )


# -- array_write --------------------------------------------------------------

WX, WY, WZ, WC = 120, 140, 160, 20
WFILL = -3
PARTIAL_EDGE = 12
# One cycle of commits, as (write path, slabs per commit).  Every run
# makes the same list of operations whatever the speed of the code under
# test: round(seconds / CYCLE_S) cycles (at least one), a cycle taking
# about CYCLE_S seconds on a 4-core host.
CYCLE = (("partial", 1), ("aligned", 2), ("partial", 3), ("aligned", 4))
CYCLE_S = 16.0
BULK_INGESTS = 3  # set-up bulk ingests; ingest_mb_s is their median
READ_REPEATS = 6  # cached reads of each written box, and scans, per commit


class ArrayWrite:
    """Fixed cycle of commits, each read back and checked.

    Each commit is ``add_version``, ``write_variable`` of 1-4 seeded
    random-valued slabs with ``index_mode="delta"``, ``finish_version``.
    A cycle is four commits: partial 12^3 slabs straddling eight chunks
    (the ``write_pieces`` merge path) and whole-chunk slabs (the
    ``ingest_aligned`` path) in turn, with 1, 2, 3 and 4 slabs, at
    seeded chunks.  After each commit: six cached-connection reads of
    every written box and six full-extent cached reads, each right
    after cache invalidation, and after each partial commit a read of
    the first box through a default connection; all checked against a
    numpy model.  Set-up warms
    the write and read paths and writes the whole array with a bulk
    ``ingest_aligned`` three times (two throwaway datasets, then the one
    the loop commits to); the run ends with a ``vacuum`` and a check of
    the whole array after it.

    The loop stops when the planned commits are done, not at a deadline,
    so a faster or slower change leaves the make-up of every median as
    it is.  The writes keep the shipped auto-compaction default (every
    16 generations); a run holds only a few commits, so it does not fire
    inside one run and its counters should stay at zero."""

    def __init__(self, spark, root: str, seed: int, seconds: float):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.cycles = max(1, round(seconds / CYCLE_S))

    def describe(self, state) -> dict:
        return {
            "shape": [WX, WY, WZ], "chunk": WC, "type": "short",
            "chunks": (WX // WC) * (WY // WC) * (WZ // WC),
            "logical_bytes": WX * WY * WZ * 2,
            "commits": len(CYCLE) * self.cycles,
        }

    def build(self) -> dict:
        store = Store(self.spark, self.root)
        _warm_up(self.spark, store)
        rng = np.random.default_rng([self.seed, 0])
        model = rng.integers(-1000, 1000, size=(WX, WY, WZ)).astype("<i2")
        names = [f"bulk-{i}" for i in range(BULK_INGESTS - 1)] + ["write"]
        ingest_s = []
        for name in names:
            conn = store.create_dataset(name)
            tok = conn.add_version({
                "dimensions": {"x": WX, "y": WY, "z": WZ},
                "chunk-dimensions": {"x": WC, "y": WC, "z": WC},
                "variables": {"v": {"type": "short", "shape": ["x", "y", "z"],
                                    "fill-value": WFILL}},
            })
            # chunk-aligned, so write_variable routes it to ingest_aligned
            t0 = time.perf_counter()
            writer.write_variable(
                conn, tok, "v",
                [sb.Slab(model.copy(), _box((0, 0, 0), (WX, WY, WZ)))],
            )
            conn.finish_version(tok)
            ingest_s.append(time.perf_counter() - t0)
            if name != "write":
                store.destroy_dataset(name)
        return {
            "store": store, "conn": conn, "model": model,
            "cached": store.connect("write", cache_reads=True),
            "plan": list(CYCLE) * self.cycles, "n_commits": 0,
            "ingest_s": ingest_s,
        }

    def _slabs(self, rng, n: int, aligned: bool):
        """``n`` non-overlapping slabs at seeded chunks: whole chunks, or
        partial 12^3 boxes that straddle 2x2x2 chunks, so that every
        seed gives commits and reads of the same cost structure."""
        dims = (WX, WY, WZ)
        span = 1 if aligned else 2  # chunks a slab touches per dimension
        chunks: set = set()
        while len(chunks) < n:
            chunks.add(tuple(int(rng.integers(0, d // WC - span + 1))
                             for d in dims))
        slabs = []
        for c in sorted(chunks):
            if aligned:
                lo, shape = [v * WC for v in c], (WC, WC, WC)
            else:
                lo = [v * WC + WC - PARTIAL_EDGE // 2 for v in c]
                shape = (PARTIAL_EDGE,) * 3
            hi = [a + e for a, e in zip(lo, shape)]
            data = rng.integers(-30000, 30000, size=shape).astype("<i2")
            slabs.append(sb.Slab(data, _box(lo, hi)))
        return slabs

    def _commit_op(self, state, name, path, slabs) -> Op:
        conn = state["conn"]

        def run():
            # the directory walks stay outside the commit's latency
            before = _dir_bytes(conn.path)
            t0 = time.perf_counter()
            tok = conn.add_version(conn.metadata())
            writer.write_variable(conn, tok, "v", slabs, index_mode="delta")
            conn.finish_version(tok)
            op.extra["timed_s"] = time.perf_counter() - t0
            op.extra["disk_bytes"] = _dir_bytes(conn.path) - before

        def check(_):
            # the model follows the commit only once it succeeded
            for s in slabs:
                state["model"][tuple(
                    slice(a, b) for a, b in zip(s.slice.start, s.slice.stop)
                )] = s.data
            return None

        op = Op("commit", name, run, check,
                {"user_bytes": sum(s.data.nbytes for s in slabs),
                 "path": path})
        return op

    def _read_ops(self, state, path, slabs) -> list[Op]:
        def read(conn, s):
            return reader.get_slice(
                conn, reader.on_last_version(conn), "v", s.slice
            ).data

        def want(s):
            return state["model"][tuple(
                slice(a, b) for a, b in zip(s.slice.start, s.slice.stop)
            )]

        # every cached read starts from an invalidated cache, as a
        # reader told of the commit would, so all of them pay the same
        # index resolution and blob fetches
        cached = state["cached"]
        ops = [
            Op("raw_read", f"raw_read {list(s.slice.start)}",
               lambda s=s: read(cached, s),
               lambda got, s=s: _mismatch(got, want(s)),
               {"path": path}, prepare=cached.invalidate_cache)
            for s in slabs for _ in range(READ_REPEATS)
        ]
        full = _box((0, 0, 0), (WX, WY, WZ))
        ops += [
            Op("raw_scan", "raw_scan",
               lambda: reader.get_slice(
                   cached, reader.on_last_version(cached), "v", full
               ).data,
               lambda got: _mismatch(got, state["model"]),
               {"bytes": WX * WY * WZ * 2},
               prepare=cached.invalidate_cache)
            for _ in range(READ_REPEATS)
        ]
        if path != "partial":
            return ops
        s0 = slabs[0]
        ops.append(Op(
            "raw_spark", f"raw_spark {list(s0.slice.start)}",
            lambda: read(state["conn"], s0),
            lambda got: _mismatch(got, want(s0)),
        ))
        return ops

    def next_ops(self, state, rng, frac: float) -> list[Op]:
        if not state["plan"]:
            return []
        path, n = state["plan"].pop(0)
        state["n_commits"] += 1
        slabs = self._slabs(rng, n, path == "aligned")
        op = self._commit_op(
            state, f"commit {state['n_commits']} {path}", path, slabs
        )
        return [op, *self._read_ops(state, path, slabs)]

    def final_ops(self, state) -> list[Op]:
        conn = state["conn"]

        def vacuum():
            before = _dir_bytes(conn.path)
            maintenance.vacuum(conn)
            op.extra["bytes_removed"] = before - _dir_bytes(conn.path)

        def check(_):
            state["cached"].invalidate_cache()
            got = reader.get_slice(
                state["cached"], reader.on_last_version(state["cached"]), "v",
                _box((0, 0, 0), (WX, WY, WZ)),
            ).data
            err = _mismatch(got, state["model"])
            return f"after vacuum: {err}" if err else None

        op = Op("vacuum", "vacuum", vacuum, check)
        return [op]

    def end_to_end(self, state, records) -> tuple[dict, dict]:
        out, notes = {}, {}
        reads = _of(records, "raw_read")
        out["read_p50_ms"], notes["read_p50_ms"] = _balanced_median(
            _by_path(reads, 1e3)
        )
        p = tail_percentile(len(reads))
        out["read_tail_ms"] = percentile([r["s"] for r in reads], p) * 1e3
        notes["read_tail_ms"] = f"[p{p} of {len(reads)}]"
        _latency_metrics(out, notes, "spark_read",
                         [r["s"] for r in _of(records, "raw_spark")])
        scans = _of(records, "raw_scan")
        out["scan_mb_s"] = statistics.median(r["bytes"] / MB / r["s"] for r in scans)
        notes["scan_mb_s"] = f"[p50 of {len(scans)} full-extent reads]"
        out["commit_p50_s"], notes["commit_p50_s"] = _balanced_median(
            _by_path(_of(records, "commit"))
        )
        out["ingest_mb_s"] = (
            WX * WY * WZ * 2 / MB / statistics.median(state["ingest_s"])
        )
        notes["ingest_mb_s"] = (
            f"[p50 of {len(state['ingest_s'])} set-up bulk ingests: "
            + ", ".join(f"{s:.2f}" for s in state["ingest_s"]) + " s]"
        )
        out["space_amp"] = _store_bytes(state["conn"]) / (WX * WY * WZ * 2)
        notes["space_amp"] = "[after vacuum]"
        return out, notes

    def per_layer(self, tracer, records) -> dict:
        return _layer_common(
            tracer, records, ("raw_read", "raw_scan", "raw_spark"), ("commit",)
        )
