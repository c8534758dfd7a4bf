"""Chunk-table join safety: the blob column must NEVER be on a
broadcast build side.

Chunk blobs of regular data compress extremely well under zstd, so the
chunk table's ON-DISK footprint (what size-based broadcast planning
sees) can fall below the auto-broadcast threshold while the
DECOMPRESSED blobs are hundreds of MB — the planner would then build
the whole decompressed table as one driver-side hash relation
(observed 4-8x scan regressions, bimodal run to run as dedup nudged
file sizes around the threshold).  reader._join_blobs pins the build
side to the pruned index; cells/diff/writer joins carry shuffle_hash
hints on the blob side."""

from __future__ import annotations

import os
import re

import numpy as np

from mandoline_spark import reader, writer
from mandoline_spark.core import slab as sb
from mandoline_spark.core import slice as sl
from mandoline_spark.plans import explain_str


def _mkds(store):
    conn = store.create_dataset("ds")
    t = conn.add_version(
        {
            "dimensions": {"x": 40, "y": 40},
            "chunk-dimensions": {"x": 4, "y": 4},
            "variables": {
                "v": {"type": "int", "shape": ["x", "y"], "fill-value": 0}
            },
        }
    )
    writer.write_variable(
        conn,
        t,
        "v",
        [sb.Slab(np.ones((40, 40), np.int32), sl.mk_slice((0, 0), (40, 40)))],
    )
    conn.finish_version(t)
    return conn


def _broadcast_carries_blob(plan: str) -> bool:
    """True iff any BroadcastExchange subtree's input carries a blob
    column.  In formatted explain every operator lists
    ``Input [n]: [col1, col2, ...]``; the exchange node id appears as
    ``BroadcastExchange`` followed by its own Input line."""
    for m in re.finditer(
        r"BroadcastExchange[^\n]*\n(?:[^\n]*\n){0,3}?[^\n]*Input"
        r" \[\d+\]: \[([^\]]*)\]",
        plan,
    ):
        if "blob" in m.group(1):
            return True
    return False


def test_scan_join_broadcasts_index_not_blobs(store):
    conn = _mkds(store)
    token = reader.on_last_version(conn)
    req = sl.mk_slice((0, 0), (40, 40))
    idx = reader.pruned_index_df(conn, token, "v", req)
    chunks = conn.chunks_df()
    joined = reader._join_blobs(conn, token, "v", req, idx, chunks)
    plan = explain_str(joined)
    # the pinned build side: a broadcast join whose broadcast subtree
    # is the index (no blob column inside the exchange)
    assert "BroadcastHashJoin" in plan, plan
    assert not _broadcast_carries_blob(plan), plan


def test_cells_join_never_broadcasts_blobs(store):
    conn = _mkds(store)
    token = reader.on_last_version(conn)
    cells = reader.cells_df(conn, token, "v")
    plan = explain_str(cells)
    assert not _broadcast_carries_blob(plan), plan


def _exchange_carries_blob(plan: str) -> bool:
    """True iff any shuffle Exchange node's input carries a blob
    column (formatted explain: ``(n) Exchange`` then its Input line)."""
    for m in re.finditer(
        r"\(\d+\) Exchange\n(?:[^\n]*\n){0,3}?Input \[\d+\]: \[([^\]]*)\]",
        plan,
    ):
        if "blob" in m.group(1):
            return True
    return False


def _write_pieces(conn, token, value, start, stop, **kw):
    shape = tuple(b - a for a, b in zip(start, stop))
    rows = writer.slabs_to_piece_rows(
        token,
        "v",
        [sb.Slab(np.full(shape, value, np.int32), sl.mk_slice(start, stop))],
    )
    pieces = conn.spark.createDataFrame(rows, schema=writer.piece_schema(2))
    writer.write_pieces(conn, token, "v", pieces, **kw)


def test_writer_base_attach_never_broadcasts_blobs(store):
    conn = _mkds(store)
    # second version: overlapping write forces the base-blob attach join
    t2 = conn.add_version(conn.metadata())
    _write_pieces(conn, t2, 7, (2, 2), (6, 6))
    conn.finish_version(t2)
    got = reader.get_slice(
        conn, reader.on_last_version(conn), "v", sl.mk_slice((2, 2), (6, 6))
    )
    np.testing.assert_array_equal(got.data, np.full((4, 4), 7, np.int32))

    # plan pins on the layer attach itself, in both modes, over a
    # delta chain whose top generation carries a _MASKED marker
    t3 = conn.add_version(conn.metadata())
    _write_pieces(conn, t3, 3, (0, 0), (6, 6), index_mode="delta")
    _write_pieces(conn, t3, 4, (4, 4), (8, 8), index_mode="delta")
    vid = t3["version-id"]
    top = conn.index_gens(vid, "v")[-1]
    conn.fs.write_text(
        os.path.join(conn.index_path(vid, "v", top), "_MASKED"), ""
    )
    _, plan, masked = writer._write_base(conn, t3, "v", "delta")
    assert masked and len(plan) == 3
    touched = conn.spark.createDataFrame([("0_0",), ("1_1",)], "ckey string")
    for stack in (False, True):
        layers = writer._touched_layers(
            conn, "v", 2, plan, touched, lambda: 2, stack
        )
        text = explain_str(layers)
        # the chunk scan streams past a broadcast of blob-free rows
        assert "BroadcastHashJoin" in text, text
        assert not _broadcast_carries_blob(text), text
        if not stack:
            # the one-layer attach moves no blob through a shuffle
            assert not _exchange_carries_blob(text), text
        got = {
            r.ckey: sorted(x.lyr for x in r._layers)
            for r in layers.collect()
        }
        # winner: one wholesale layer; stack: one layer per generation
        # holding the chunk (1_1 is in all three, 0_0 not in the top)
        assert got == (
            {"0_0": [0], "1_1": [0]}
            if not stack
            else {"0_0": [1, 2], "1_1": [1, 2, 3]}
        )
    # past the broadcast budget: a shuffled hash join, still never a
    # broadcast of blobs (the blob side is the partition-sized build)
    conn.spark.conf.set("spark.mandoline.broadcastIndexBudget", "0")
    try:
        text = explain_str(
            writer._touched_layers(
                conn, "v", 2, plan, touched, lambda: 2, False
            )
        )
    finally:
        conn.spark.conf.unset("spark.mandoline.broadcastIndexBudget")
    assert "ShuffledHashJoin" in text, text
    assert not _broadcast_carries_blob(text), text
    assert _exchange_carries_blob(text), text
