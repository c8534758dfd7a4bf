"""Index resolution through ``Connection.index_plan``: a delta chain of
any depth, within one version or across versions, resolves as two
Parquet relations read under the schemas the writers declare — so a
read's Spark job count does not grow with the chain, and generations of
every era, rank and variable name resolve to the numpy oracle."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from mandoline_spark import reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl

DDS = {
    "dimensions": {"x": 8, "y": 8},
    "chunk-dimensions": {"x": 4, "y": 4},
    "variables": {
        "foo": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
    },
}
FULL = sl.mk_slice((0, 0), (8, 8))


def _box(lo, hi):
    return sl.mk_slice(tuple(lo), tuple(hi))


def _write(conn, token, var, lo, hi, value, model, mode="delta"):
    writer.write_variable(
        conn, token, var, [sb.empty("int", _box(lo, hi), value)],
        index_mode=mode,
    )
    model[tuple(slice(a, b) for a, b in zip(lo, hi))] = value


def _commit(conn, var, lo, hi, value, model, mode="delta"):
    token = conn.add_version(conn.metadata())
    _write(conn, token, var, lo, hi, value, model, mode)
    return conn.finish_version(token)


def _jobs(spark, fn):
    """Spark jobs launched by ``fn`` — DataFrame construction through
    collect — and its result."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return len(set(tracker.getJobIdsForGroup(None)) - before), out


def test_default_read_jobs_do_not_grow_across_versions(store, spark):
    """The same 4-generation chain (full + 3 deltas) costs a default-
    connection read the same Spark jobs whether it lives in one
    version or spans four."""
    # one version: full + 3 deltas
    within = store.create_dataset("within")
    t = within.add_version(DDS)
    w_model = np.zeros((8, 8), np.int32)
    _write(within, t, "foo", (0, 0), (8, 8), 1, w_model, mode="full")
    for k, lo in enumerate([(0, 0), (4, 4), (0, 4)]):
        _write(within, t, "foo", lo, (lo[0] + 4, lo[1] + 4), k + 2, w_model)
    v_within = within.finish_version(t)
    # four versions: full, then one delta-only version each
    across = store.create_dataset("across")
    t = across.add_version(DDS)
    a_model = np.zeros((8, 8), np.int32)
    _write(across, t, "foo", (0, 0), (8, 8), 1, a_model, mode="full")
    v_across = across.finish_version(t)
    for k, lo in enumerate([(0, 0), (4, 4), (0, 4)]):
        v_across = _commit(
            across, "foo", lo, (lo[0] + 4, lo[1] + 4), k + 2, a_model
        )
    assert len(within.index_plan(v_within, "foo")) == 4
    assert {v for v, _ in across.index_plan(v_across, "foo")} == set(
        across.version_ids()
    )

    counts = []
    for conn, vid, model in (
        (within, v_within, w_model), (across, v_across, a_model),
    ):
        token = conn.metadata(vid)
        reader.get_slice(conn, token, "foo", FULL)  # warm codegen
        n, got = _jobs(
            spark, lambda: reader.get_slice(conn, token, "foo", FULL).data
        )
        np.testing.assert_array_equal(got, model)
        counts.append(n)
    assert counts[0] == counts[1], counts


def _strip_wb(conn, vid, var, g):
    """Rewrite a generation's part files without the ``wb`` column —
    the shape of an index written before cross-writer masks existed."""
    d = conn.index_path(vid, var, g)
    for fn in os.listdir(d):
        if fn.endswith(".parquet"):
            p = os.path.join(d, fn)
            tbl = pq.read_table(p)
            pq.write_table(tbl.drop_columns(["wb"]), p)
            # the Hadoop checksum sidecar would no longer match
            crc = os.path.join(d, f".{fn}.crc")
            if os.path.exists(crc):
                os.remove(crc)


def test_mixed_era_generations_match_numpy(store):
    """Old-era generations (no ``wb`` column) under a new-era delta
    resolve as wholesale rows, on the Spark path and the pyarrow
    index map alike."""
    conn = store.create_dataset("ds")
    model = np.zeros((8, 8), np.int32)
    t = conn.add_version(DDS)
    _write(conn, t, "foo", (0, 0), (8, 8), 1, model, mode="full")
    v1 = conn.finish_version(t)
    v2 = _commit(conn, "foo", (0, 0), (4, 4), 2, model)
    m2 = model.copy()
    for vid in (v1, v2):
        _strip_wb(conn, vid, "foo", 0)
    v3 = _commit(conn, "foo", (4, 0), (8, 8), 3, model)
    assert "wb" in pq.read_schema(
        next(
            os.path.join(conn.index_path(v3, "foo", 0), f)
            for f in os.listdir(conn.index_path(v3, "foo", 0))
            if f.endswith(".parquet")
        )
    ).names
    cached = store.connect("ds", cache_reads=True)
    for c in (conn, cached):
        for vid, want in ((v2, m2), (v3, model)):
            got = reader.get_slice(c, conn.metadata(vid), "foo", FULL)
            np.testing.assert_array_equal(got.data, want)
    wb = conn.resolve_index_df(v3, "foo").select("wb").collect()
    assert [r["wb"] for r in wb] == [None] * 4


def test_scalar_and_1d_dotted_names_match_numpy(store):
    """A 0-d and a 1-d variable, named with ``-`` and ``.`` so the
    ``var=`` partition directory is parsed, resolve their cross-version
    delta chains to the numpy oracle."""
    spec = {
        "dimensions": {"x": 10},
        "chunk-dimensions": {"x": 4},
        "variables": {
            "s-0.d": {"type": "int", "shape": [], "fill-value": 0},
            "a-1.x": {"type": "int", "shape": ["x"], "fill-value": -1},
        },
    }
    conn = store.create_dataset("ds")
    scalar = np.zeros((), np.int32)
    line = np.full(10, -1, np.int32)
    t = conn.add_version(spec)
    _write(conn, t, "s-0.d", (), (), 5, scalar, mode="full")
    _write(conn, t, "a-1.x", (0,), (10,), 1, line, mode="full")
    conn.finish_version(t)
    for k, (lo, hi) in enumerate([((2,), (6,)), ((5,), (9,))]):
        t = conn.add_version(conn.metadata())
        _write(conn, t, "s-0.d", (), (), 10 + k, scalar)
        _write(conn, t, "a-1.x", lo, hi, 20 + k, line)
        vid = conn.finish_version(t)
    assert len(conn.index_plan(vid, "a-1.x")) == 3
    token = conn.metadata(vid)
    got = reader.get_slice(conn, token, "s-0.d", sl.mk_slice((), ()))
    assert got.data[()] == scalar[()]
    got = reader.get_slice(conn, token, "a-1.x", _box((0,), (10,)))
    np.testing.assert_array_equal(got.data, line)
    cols = conn.resolve_index_df(vid, "a-1.x").columns
    assert cols == ["ckey", "c0", "chunk_hash", "wb"], cols
