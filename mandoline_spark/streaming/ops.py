"""Streaming operators: watermarked event-time windows + stateful sessions.

Scale notes (1000-executor / 100 TB design intent):
- Every aggregation here keys its state store on the shuffle key
  (window × event_type, session_window × user, or user), so state is
  hash-partitioned across ``spark.sql.shuffle.partitions`` RocksDB/HDFS
  state stores — no single-node state.
- Watermarks bound state size: windows (and sessions) older than
  ``max(event time) - delay`` are finalized and evicted, so state is
  O(active windows), not O(stream history).
- The file source scales by splitting input into many files; each
  micro-batch is an ordinary Spark job with full parallelism.
- ``applyInPandasWithState`` ships per-key Arrow batches to Python
  workers; state round-trips per key per batch, so keep per-key state
  small (three scalars here).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over an events directory.  One micro-batch per
    file by default so tests (and replays) get deterministic batch
    boundaries; files are ordered by modification time."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(path)
    )


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "15 minutes"
) -> DataFrame:
    """Watermarked tumbling event-time aggregation (streaming Q25).
    Late rows older than the watermark are dropped; closed windows are
    emitted exactly once in append mode."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 3).alias("s"))
        .select(
            F.col("w.start").alias("ws"),
            F.col("w.end").alias("we"),
            "event_type",
            "c",
            "s",
        )
    )


def sliding_sums(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Watermarked sliding event-time aggregation (streaming Q26)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("c"), F.round(F.sum("value"), 3).alias("s"))
        .select(F.col("w.start").alias("ws"), "event_type", "c", "s")
    )


def session_counts(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "15 minutes"
) -> DataFrame:
    """Gap-based session windows per user (streaming Q27): a session
    closes when no event arrives within ``gap``; the watermark finalizes
    sessions and evicts their state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 3).alias("s"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "s",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "10 minutes",
    watermark: str = "15 minutes",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with right
    events for the same key whose timestamp falls in
    ``[left_ts - lookback, left_ts]`` — the enrichment shape (clicks
    joined to the views that preceded them, readings to calibration
    events).

    Both sides carry watermarks and the join condition bounds the
    event-time range in BOTH directions, which is what lets Spark evict
    buffered rows: without the time bound a stream-stream join must
    keep every row forever.  State per key is O(events within
    lookback + watermark)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    rcols = [
        F.col(c).alias(f"{right_prefix}{c}")
        for c in rw.columns
        if c != on
    ]
    rw = rw.select(F.col(on), *rcols)
    rts = f"{right_prefix}{right_ts}"
    cond = (
        (lw[on] == rw[on])
        & (F.col(rts) <= F.col(left_ts))
        & (F.col(rts) >= F.col(left_ts) - F.expr(f"interval {lookback}"))
    )
    return lw.join(rw, cond).drop(rw[on])


_SESSION_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

# per-key state: (session_start_us, last_ts_us, n_events)
_SESSION_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def dedup_stream(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    hash_fn: str = "md5",
) -> DataFrame:
    """Streaming exact dedup: drop any record whose CONTENT hash was
    already seen — the ingestion-side gate a training-data pipeline
    runs so duplicates never reach storage.

    ``dropDuplicates`` on the content hash keeps per-key state in the
    state store (first writer wins, exactly-once under replay because
    the state is checkpointed with the batch).  Without ``ts_col`` the
    state grows with the number of DISTINCT contents forever — the
    correct global-dedup semantics.  With ``ts_col`` the check is
    bounded to the watermark horizon
    (``dropDuplicatesWithinWatermark``): duplicates farther apart than
    the delay are admitted, and state is evicted — the shape for
    unbounded streams where near-in-time duplicates are the target
    (crawler re-fetches, retry storms).

    ``hash_fn`` sizes the state key and sets the collision exposure —
    a hash collision here silently DROPS a distinct document, which is
    data loss, not dedup:

    - ``"md5"`` (default): 128-bit, 32 bytes state/distinct doc;
      expected collisions n²/2¹²⁹ ≈ 10⁻¹⁹ even at n = 10 billion docs
      — the safe choice at target scale, and the same key the batch
      exact-dedup (q29) groups on.
    - ``"sha256"``: 64 bytes; for pipelines that standardize on sha2.
    - ``"xxhash64"``: 8 bytes, cheapest state, but expected collisions
      reach 1 around n ≈ 6×10⁹ distinct docs — only for bounded
      (watermarked) scopes where n is the in-horizon count.
    - ``"none"``: dedup on the content itself (state stores the full
      text — zero collision risk, heaviest state).

    Checkpoint compatibility: the state key is derived from
    ``hash_fn``, so changing it (including upgrading from a build whose
    default was xxhash64) changes the state schema — an existing
    query CANNOT resume from its old checkpoint (Spark fails state
    validation; even forced, old keys would never match new ones).
    Pick the hash per pipeline and keep it; migrations start a fresh
    checkpoint and re-seed state from storage."""
    exprs = {
        "md5": lambda c: F.md5(c.cast("binary")),
        "sha256": lambda c: F.sha2(c.cast("binary"), 256),
        "xxhash64": F.xxhash64,
    }
    if hash_fn == "none":
        hashed, key = df, content_col
    elif hash_fn in exprs:
        hashed = df.withColumn("_h", exprs[hash_fn](F.col(content_col)))
        key = "_h"
    else:
        raise ValueError(
            f"hash_fn must be one of {sorted(exprs) + ['none']}, "
            f"got {hash_fn!r}"
        )
    if ts_col is None:
        out = hashed.dropDuplicates([key])
    else:
        out = hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([key])
    return out.drop("_h") if key == "_h" else out


def sessionize_stateful(
    events: DataFrame, gap_minutes: int = 10, watermark: str = "5 minutes"
) -> DataFrame:
    """Custom stateful operator (Q27's engine-op form, the
    ``applyInPandasWithState`` surface from SURVEY §2B/Q33): tracks one
    open session per user across micro-batches and emits a row per
    CLOSED session — closed by a later event arriving after the gap, or
    by event-time timeout once the watermark passes last_event + gap.

    Unlike :func:`session_counts` this keeps custom per-key state, the
    pattern for operators Spark's built-ins can't express (the
    reference-engine analogue would be incremental chunk-merge state).
    Event-time (not processing-time) timeouts keep the operator
    deterministic and replayable — state eviction depends only on the
    data, so a backfill produces byte-identical output.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1000

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[int, int, int]] = []
        if state.hasTimedOut:
            if state.exists:
                start_us, last_us, n = state.get
                closed.append((start_us, last_us, n))
            state.remove()
        else:
            cur = tuple(state.get) if state.exists else None
            ts_us: list[int] = []
            for pdf in pdfs:
                ts_us.extend(
                    int(t.value // 1000) for t in pd.to_datetime(pdf["ts"])
                )
            for t in sorted(ts_us):
                if cur is None:
                    cur = (t, t, 1)
                elif t - cur[1] > gap_us:
                    closed.append(cur)
                    cur = (t, t, 1)
                else:
                    cur = (cur[0], t, cur[2] + 1)
            if cur is not None:
                state.update(cur)
                # fire once the watermark passes last_event + gap; the
                # timestamp must sit above the current watermark
                state.setTimeoutTimestamp(
                    max(cur[1] // 1000 + gap_ms,
                        state.getCurrentWatermarkMs() + 1)
                )
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [
                        pd.Timestamp(c[0], unit="us") for c in closed
                    ],
                    "session_end": [
                        pd.Timestamp(c[1], unit="us") for c in closed
                    ],
                    "n_events": [c[2] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def neardup_gate_stream(
    stream: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    mode: str = "broadcast",
) -> DataFrame:
    """Streaming near-duplicate gate against a KNOWN reference corpus:
    MinHash-LSH band keys on both sides; an incoming document sharing
    ANY band key with the reference is a near-dup candidate.

    Two scale shapes (both pure-projection on the stream side — no
    stream aggregation, so append mode and arbitrary sinks work):

    - ``mode="broadcast"`` (default): the reference band-key set is
      collected ONCE at query-definition time and shipped as a
      broadcast numpy array inside an Arrow-batched pandas UDF; each
      micro-batch row does a vectorized sorted-membership test.
      Returns the stream of documents that are NOT candidates (the
      kept/novel docs).  The reference must be gate-sized — an eval
      suite, a blocklist, yesterday's benchmark set — the same
      bounded-side contract as the batch contamination screen (q98).
      A reference that changes after definition is not seen (the
      gate is a snapshot), matching broadcast semantics.
    - ``mode="join"``: stream-static LEFT SEMI join on the exploded
      band key; returns the stream of FLAGGED candidate doc ids —
      STATELESS, so a doc appears once per distinct matching band key
      (≤ bands rows; dedup downstream, e.g.
      ``dropDuplicatesWithinWatermark``).  The static side is re-read
      per micro-batch, so it scales to any reference size and picks up
      reference updates between batches.

      .. warning:: CONTRACT CHANGE (r4): ``mode="join"`` previously
         emitted ONE row per flagged doc via ``dropDuplicates`` —
         which on a stream is a global stateful dedup (one state-store
         entry per flagged doc FOREVER, and a doc legitimately
         re-flagged in a later batch is silently suppressed), so it
         was removed.  Downstream aggregations that COUNT flagged docs
         must now dedup within their own watermark
         (``.withWatermark(...).dropDuplicatesWithinWatermark(id)``)
         or they over-count by up to ``bands``x.

    Candidate semantics are banding-recall (same as
    ``minhash_lsh_pairs`` BEFORE its exact-Jaccard verify): a gate
    errs toward flagging, and callers needing exact thresholds verify
    the flagged minority downstream."""
    from ..functions.dedup import band_key_array

    strm = band_key_array(
        stream, text_col, id_col, n, k, bands, seed,
        empty_salt="__gate_stream__",
    )
    ref_keys = (
        band_key_array(
            reference, text_col, id_col, n, k, bands, seed,
            empty_salt="__gate_ref__",
        )
        .select(F.explode("_band_keys").alias("key"))
        .distinct()
    )
    if mode == "join":
        # distinct band keys per doc BEFORE the join (array_distinct is
        # per-row, stateless), then left_semi: a doc appears once per
        # DISTINCT matching band key (≤ bands rows).  Deliberately NOT
        # dropDuplicates(id): on a stream that is a GLOBAL stateful
        # dedup — one state-store entry per flagged doc forever, and a
        # doc legitimately re-flagged in a later batch would be
        # silently suppressed.  Callers needing unique ids per horizon
        # apply dropDuplicatesWithinWatermark downstream with their own
        # watermark.
        flagged = (
            strm.select(
                F.col(id_col),
                F.explode(F.array_distinct("_band_keys")).alias("key"),
            )
            .join(ref_keys, "key", "left_semi")
            .select(id_col)
        )
        return flagged
    if mode != "broadcast":
        raise ValueError(f"mode must be 'broadcast' or 'join': {mode!r}")

    import numpy as np

    keys = np.sort(
        np.array([r["key"] for r in ref_keys.collect()], dtype=np.int64)
    )
    out_schema = stream.schema
    out_cols = [f.name for f in out_schema.fields]

    # mapInPandas, not a pandas_udf filter: a Python predicate in a
    # streaming WHERE gets pushed into the source scan (where it cannot
    # evaluate); mapInPandas is an explicit Arrow-batched barrier.  The
    # membership test is one vectorized searchsorted over the
    # flattened batch (bands keys/doc), then a per-doc any-fold.
    def gate(batches):
        for pdf in batches:
            if len(pdf) == 0 or keys.size == 0:
                yield pdf[out_cols]
                continue
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in pdf["_band_keys"]]
            )
            idx = np.searchsorted(keys, flat)
            idx[idx == keys.size] = 0
            hit = keys[idx] == flat
            n = np.array([len(a) for a in pdf["_band_keys"]])
            doc_hit = np.add.reduceat(hit, np.r_[0, n[:-1].cumsum()]) > 0
            yield pdf.loc[~doc_hit, out_cols]

    return strm.mapInPandas(gate, out_schema)


def run_available_now(
    df: DataFrame, name: str, output_mode: str, checkpoint: str
) -> None:
    """Run a streaming DataFrame to a memory sink with the available-now
    trigger (process everything queued, then stop) and block until done.

    Memory sinks hold the entire result as driver-resident rows for the
    session lifetime, and every scan of the sink table re-serializes
    those rows out of the driver (``LocalTableScan``) — fine for the
    fixture-scale pytest pins that use this helper, an anti-pattern for
    anything sized (guide §5).  Corpus-scale replays (q106-q109) use
    :func:`run_available_now_to_parquet` instead."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now_to_parquet(
    df: DataFrame, path: str, checkpoint: str
) -> None:
    """Run a streaming DataFrame to a parquet FILE sink with the
    available-now trigger and block until done — the production-shaped
    sink (append mode, exactly-once via the sink's ``_spark_metadata``
    commit log).  Unlike the memory sink, the result lands as files:
    nothing stays pinned in the driver heap, and downstream scans of
    the admitted rows are ordinary parallel parquet reads instead of a
    ``LocalTableScan`` that ships every row from the driver per query
    (r15: the memory-sink tables of the four corpus replays were the
    measured driver-heap contaminant of the sf1 segmented record —
    PROBE_Q10_SF1_r15.json)."""
    q = (
        df.writeStream.format("parquet")
        # the file sink supports append only; stated rather than
        # inherited from writeStream's default (ADVICE r15)
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# -- streaming array ingest ---------------------------------------------------


def read_pieces_stream(
    spark: SparkSession, path: str, ndim: int, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream of chunk pieces in
    :func:`mandoline_spark.writer.piece_schema` form — the streaming
    twin of ``write_pieces``'s bulk input."""
    from ..writer import piece_schema

    return (
        spark.readStream.schema(piece_schema(ndim))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(path)
    )


def stream_ingest(
    conn,
    spec: dict,
    var: str,
    pieces: DataFrame,
    checkpoint: str,
    index_mode: str = "delta",
    compact_every: int | None = None,
):
    """Continuous array ingestion: every micro-batch of pieces becomes
    one COMMITTED dataset version (MVCC over the stream — readers time
    travel across micro-batches, and an in-flight batch is invisible
    until its commit, exactly the reference's ingest semantics).

    Built on ``foreachBatch``: the batch function runs on the driver and
    replays the full distributed write path (merge → hash → dedup →
    index append).  ``index_mode="delta"`` keeps each commit
    O(batch-touched chunks) — the right default for an unbounded stream
    of small writes; ``compact_every`` (below) bounds the read-time
    overlay chain.

    Exactly-once: ``foreachBatch`` is at-least-once under retries, so a
    per-batch marker file (``_ingest_batches/<id>``) makes the
    version-commit idempotent — a replayed batch is skipped before it
    can double-write.  The marker alone leaves one window — a crash
    AFTER ``finish_version`` but BEFORE the marker write — so each
    commit also stamps its ``batch-id`` into the version token: on
    replay, a newest committed version carrying this batch id means
    the commit already happened, the marker is repaired, and the batch
    is skipped (the stream's driver is the dataset's single writer, so
    only the newest version can be an unmarked batch commit).  Returns
    the ``DataStreamWriter`` (callers pick the trigger and call
    ``start()``).

    ``compact_every=N`` is the write path's auto-compaction trigger
    (see :func:`mandoline_spark.writer.write_variable`): once a batch's
    delta write leaves a read of its version scanning N generation
    directories, the write re-materializes a full index generation
    before the version commits, so the overlay chain stays shorter than
    N however long the stream runs (``None`` = session conf
    ``spark.mandoline.compactEvery``, default 16; 0 disables).
    """
    import os

    from .. import writer as _writer

    marker_dir = os.path.join(conn.path, "_ingest_batches")
    conn.fs.makedirs(marker_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(marker_dir, str(batch_id))
        if conn.fs.exists(marker):
            return
        if batch_df.isEmpty():
            return
        # commit-without-marker replay window: the commit itself is the
        # durable record (token carries batch-id); repair the marker
        # and skip instead of double-committing
        last = conn.last_version()
        if last is not None and conn.metadata(last).get(
            "batch-id"
        ) == batch_id:
            conn.fs.write_text(marker, str(last))
            return
        token = conn.add_version(spec)
        token["batch-id"] = batch_id
        _writer.write_pieces(
            conn, token, var, batch_df,
            index_mode=index_mode, compact_every=compact_every,
        )
        conn.finish_version(token)
        conn.fs.write_text(marker, str(token["version-id"]))

    return (
        pieces.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
    )
