"""Dataset catalog, version commit log, and MVCC semantics on Parquet.

Physical layout (one directory per dataset under a store root):

    <root>/<dataset>/
        versions/<version_id>.json   one file per committed version
                                     (content = metadata token JSON)
        index/v=<vid>/var=<name>/g=<gen>/
                                     Parquet: (ckey string,
                                     c0..c{n-1} int, chunk_hash string,
                                     wb array<int> cross-writer mask).
                                     A generation is either a FULL
                                     copy-forward index or a DELTA
                                     (only coords one job wrote, marked
                                     by a _DELTA file); readers overlay
                                     deltas on the newest full gen,
                                     last writer wins
        chunks/                      Parquet: (hash string, blob binary,
                                     nbytes long), content-addressed

Semantics mirrored from the reference:
- commit = single metadata write; "second committer to the same parent
  fails" (mandoline.clj:292-310, linear_versions.clj:61-67).  The
  commit POINT is the exclusive create of a latch named by the PARENT
  (``versions/n<parent>.json``, full token as content): version ids
  are per-writer timestamps, so an id-named create alone cannot
  arbitrate two children of one parent — the reference admits exactly
  that window on its file backend and closes it only on DynamoDB's
  conditional put.  A parent-named latch closes it on ANY backend with
  a conditional create (O_EXCL, HDFS overwrite=false, S3
  ``If-None-Match``), stale listings included: the check-then-create
  race collapses into the create.  ``versions/<vid>.json`` remains as
  the id-named MIRROR so hot paths list ids from one listdir; a
  committer dying between latch and mirror leaves one repairable
  orphan (see ``_repair_unmirrored``).
- uncommitted writes are invisible: readers resolve versions only
  through ``versions/*.json`` (failed_ingest.clj:26-150).
- version listing reverse-chronological, nth-version with negative
  indexing, timestamp→version = latest version ≤ ts
  (mandoline.clj:76-141, impl.clj:53-75).

Scale notes: a full copy-forward index keeps reads O(request) (no
fallback walk over version history) at the cost of O(chunk-count) rows
per commit; rows are just (coord, 40-byte hash) so even a 100 TB /
~2e9-chunk dataset is a ~100 GB Parquet index that Spark writes in one
shuffle-free job and prunes by the c0..cK columns.  When commits must
be O(touched chunks) instead — frequent small writes into a huge
dataset — writers pass ``index_mode="delta"`` and periodically run
``maintenance.compact_index`` to collapse the read-time overlay chain
back to one full generation.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import fs as fsmod
from .core import metadata as md

# dots allowed INSIDE names, but a name may not BE dots: "." / ".."
# resolve to the root itself / its parent on path-based backends —
# create would traverse out of the store and destroy could rmtree the
# parent (caught by the MemFS backend parameterization, r8: LocalFS
# only rejected ".." by accident, via the parent dir "already
# existing")
_NAME_RE = re.compile(r"^(?!\.+$)[A-Za-z0-9_.-]+$")

# sentinel: a local (pyarrow) index resolution whose footer row-count
# bound exceeded the driver-map cap — delegate to the Spark
# limit-collect, which decides exactly
_SPARK_RESOLVE = object()

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("hash", T.StringType(), False),
        T.StructField("blob", T.BinaryType(), False),
        T.StructField("nbytes", T.LongType(), False),
    ]
)


def index_schema(ndim: int) -> T.StructType:
    fields = [T.StructField("ckey", T.StringType(), False)]
    fields += [T.StructField(f"c{i}", T.IntegerType(), False) for i in range(ndim)]
    fields.append(T.StructField("chunk_hash", T.StringType(), False))
    return T.StructType(fields)


def _gen_schema(ndim: int) -> T.StructType:
    """An index generation as read back: :func:`index_schema`, the
    cross-writer mask column ``wb``, and the partition columns of its
    ``v=<vid>/var=<name>/g=<gen>`` directory (declared, so ``v``/``g``
    are numeric whatever the session's partition type inference)."""
    return T.StructType(
        index_schema(ndim).fields
        + [
            T.StructField("wb", T.ArrayType(T.IntegerType())),
            T.StructField("v", T.LongType()),
            T.StructField("var", T.StringType()),
            T.StructField("g", T.IntegerType()),
        ]
    )


def parse_uri(uri: str) -> tuple[str, str, int | None]:
    """``mand://<store-root>/<dataset>[#<version>]`` → (root, dataset,
    version | None) — the engine's dataset-spec syntax, mirroring the
    reference's ``ddb://root/name`` parsing and backend alias resolution
    (impl.clj:34-51, 77-119; one Parquet backend here, so the scheme
    carries no backend choice).  The optional fragment pins a version
    for time travel."""
    m = re.match(r"^mand://(?P<path>/?.+?)/(?P<ds>[A-Za-z0-9_.-]+)"
                 r"(?:#(?P<v>-?\d+))?$", uri)
    if not m:
        raise ValueError(f"invalid dataset URI: {uri!r}")
    version = m.group("v")
    return (
        m.group("path"),
        m.group("ds"),
        int(version) if version is not None else None,
    )


def connect_uri(spark: SparkSession, uri: str) -> "Connection":
    """Open a dataset by URI (the catalog entry point the reference's
    `(mandoline/dataset-reader spec)` flow starts from)."""
    root, ds, _ = parse_uri(uri)
    return Store(spark, root).connect(ds)


def resume_writer(
    spark: SparkSession, token_str: str
) -> tuple["Connection", dict]:
    """Rehydrate a writer serialized by :meth:`Connection.writer_token`
    in a DIFFERENT process/driver (the reference's
    ``token->dataset-writer``, mandoline.clj:168-176): returns the
    (connection, in-flight version token) pair, ready for
    ``writer.write_pieces`` / ``finish_version``."""
    d = json.loads(token_str)
    return connect_uri(spark, d["uri"]), md.parse_metadata(d["token"])


class VersionConflict(Exception):
    """Another writer committed against the same parent first."""


@dataclass
class Store:
    """Catalog of datasets under a root directory or filesystem URI
    (Schema protocol semantics, protocol.clj:105-123).  Plain roots use
    POSIX calls; ``hdfs://``/``s3a://``/``file:/`` roots route every
    catalog operation through the Hadoop FileSystem client — the same
    client the Parquet data path already uses — so the catalog works
    wherever the data lives (the reference's pluggable store backends,
    impl.clj:77-119)."""

    spark: SparkSession
    root: str
    fs: Any = None

    def __post_init__(self):
        if self.fs is None:
            self.fs = fsmod.for_path(self.spark, self.root)

    def create_dataset(self, name: str) -> "Connection":
        if not _NAME_RE.match(name):
            raise ValueError(f"invalid dataset name: {name!r}")
        path = os.path.join(self.root, name)
        if self.fs.exists(path):
            raise ValueError(f"dataset already exists: {name}")
        self.fs.makedirs(os.path.join(path, "versions"))
        self.fs.makedirs(os.path.join(path, "index"))
        self.fs.makedirs(os.path.join(path, "chunks"))
        # makedirs is idempotent on every backend, so two racing
        # creators would both succeed and both believe they won; the
        # exclusive marker is the arbiter — exactly one create returns
        # (the reference's concurrent-create contract, test/protocol/
        # schema.clj:145-182).  The loser raises without deleting
        # anything: the directories are the winner's.
        if not self.fs.create_exclusive(os.path.join(path, ".created"), ""):
            raise ValueError(f"dataset already exists: {name}")
        return self.connect(name)

    def connect_or_create(self, name: str) -> "Connection":
        """Connect to ``name``, creating it if absent — race-safe: two
        importers can both see the dataset absent and race into
        create_dataset; the loser of the exclusive-marker arbitration
        falls back to connect instead of surfacing 'already exists'."""
        if not _NAME_RE.match(name):
            raise ValueError(f"invalid dataset name: {name!r}")
        if self.dataset_exists(name):
            return self.connect(name)
        try:
            return self.create_dataset(name)
        except ValueError:
            return self.connect(name)  # lost the create race

    def destroy_dataset(self, name: str) -> None:
        """Idempotent (protocol.clj:111-116)."""
        self.fs.rmtree(os.path.join(self.root, name))

    def list_datasets(self) -> list[str]:
        if not self.fs.isdir(self.root):
            return []
        return sorted(
            d
            for d in self.fs.listdir(self.root)
            if self.fs.isdir(os.path.join(self.root, d, "versions"))
        )

    def dataset_exists(self, name: str) -> bool:
        return name in self.list_datasets()

    def connect(self, name: str, cache_reads: bool = False) -> "Connection":
        path = os.path.join(self.root, name)
        if not self.fs.isdir(os.path.join(path, "versions")):
            raise ValueError(f"no such dataset: {name}")
        return Connection(
            self.spark, path, name, cache_reads=cache_reads, fs=self.fs
        )


@dataclass
class Connection:
    """Per-dataset handle (Connection protocol, protocol.clj:44-103).

    ``cache_reads`` is the Spark shape of the reference's read-through
    chunk/index caches (CachingChunkStore / CachingIndex, cache.clj:
    9-14, 87-113 — "most queries are dominated by requests for the same
    chunk"): table DataFrames are memoized and ``.cache()``d, so
    repeated slice reads hit the block manager instead of re-reading
    Parquet.  Safe for readers; writers invalidate on append (the
    reference's write-back index cache is deliberately NOT reproduced —
    it was disabled for its lost-update bug, impl.clj:144-156)."""

    spark: SparkSession
    path: str
    name: str
    cache_reads: bool = False
    fs: Any = None
    _df_cache: dict = field(default_factory=dict, repr=False)
    # driver-side read-through caches (reference wrapper stack,
    # impl.clj:127-162): an LRU of raw chunk blobs (CachingChunkStore,
    # cache.clj:83-113, default 1000 entries) and a coord→hash map per
    # (version, var) (read-only CachingIndex — safe; the write-back
    # variant is deliberately not reproduced).  Only consulted when
    # ``cache_reads`` is on; invalidated with the table caches.
    _blob_lru: dict = field(default_factory=dict, repr=False)
    _index_map_cache: dict = field(default_factory=dict, repr=False)
    blob_lru_size: int = 1000
    index_map_max_entries: int = 2_000_000
    # Driver-side blob point-fetch eligibility: when the LOCAL chunk
    # table's on-disk footprint is under this bound, LRU misses are
    # read with pyarrow on the driver (statistics-pruned, zero Spark
    # jobs — the interactive point-read path); above it, misses go
    # through the filtered Spark scan.  The measured size is memoized
    # and cleared with the table caches, so it can go stale against a
    # CONCURRENT writer — the consequence is bounded extra driver
    # bytes on one fetch, never wrong data (content addressing).
    blob_local_fetch_max_bytes: int = 256 << 20
    _chunks_disk_bytes: int | None = field(default=None, repr=False)
    # Serializes the driver-side cache mutations (blob LRU eviction,
    # index-map memo): one Connection is routinely shared by
    # concurrent reader threads (the bench's concurrent8 run, any
    # multi-threaded driver), and the LRU's read-then-evict sequence
    # is not atomic under the GIL.  Guards dict bookkeeping only —
    # Spark actions and pyarrow reads run outside it.
    _cache_lock: object = field(default_factory=threading.Lock, repr=False)
    # Invalidation epoch: bumped (under the lock) by invalidate_cache.
    # A reader computing a memoized value captures the epoch FIRST and
    # inserts only if it is unchanged — otherwise a writer's
    # invalidation landing mid-compute would be undone by the insert
    # and the stale map/DataFrame served indefinitely (r11 review).
    _cache_epoch: int = field(default=0, repr=False)

    def __post_init__(self):
        if self.fs is None:
            self.fs = fsmod.for_path(self.spark, self.path)

    # -- version log ---------------------------------------------------------

    def _versions_dir(self) -> str:
        return os.path.join(self.path, "versions")

    @staticmethod
    def _mirror_ids(names: list[str]) -> list[int]:
        return [
            int(fn[:-5])
            for fn in names
            if fn.endswith(".json") and fn[:-5].isdigit()
        ]

    def _repair_unmirrored(self, names: list[str]) -> bool:
        """Publish the id-named mirror of a commit whose committer died
        between the latch create and the mirror write.  At most ONE
        such orphan can exist: its latch is named by the then-visible
        tip, so every later commit attempt fails the latch until the
        mirror appears — history cannot advance past it.  Detection is
        by EXISTENCE, not count arithmetic: a latch named by the
        current tip (``n<max mirrored id>.json``, or ``n0.json`` on an
        empty history) whose child mirror is missing IS the orphan.
        Counting latches against mirrors (the r10 shape) went blind on
        datasets carrying pre-latch commits — mirrors without latches
        skew the arithmetic, so a dead committer's version stayed
        invisible to a read-only workload indefinitely (r10 ADVICE).
        The one extra read happens only while a tip-named latch exists
        (an in-flight commit's two-create window, or the orphan
        itself).  The mirror write is an atomic-content exclusive
        create, so racing repairers — or the resurrected committer —
        collapse to one winner."""
        vids = self._mirror_ids(names)
        tip_latch = f"n{max(vids) if vids else 0}.json"
        if tip_latch not in names:
            return False
        d = self._versions_dir()
        try:
            body = self.fs.read_text(os.path.join(d, tip_latch))
        except OSError:
            return False
        vid = md.parse_metadata(body)["version-id"]
        if f"{vid}.json" in names:
            # The tip-named latch's vid is ALREADY mirrored, yet the
            # tip did not advance past the latch's parent.  Because
            # {vid}.json is in THIS listing, vid <= max(vids) = the
            # latch's parent by construction — so this is either a
            # version-id collision from a dead pre-floor committer
            # (live committers are floored past their parent by
            # metadata.new_version(after=...)), or a COMPLETED
            # pre-floor commit whose child id sorted below its parent,
            # leaving its latch as residue that wedges the commit
            # point.  Both are safely deletable — the occupying child
            # never advanced the id-ordered tip, so reopening the
            # commit point just lets history resume from the parent —
            # but only delete after a SUCCESSFUL occupant read (r11
            # ADVICE): an unreadable mirror means the collision cannot
            # be classified at all, and a wedged-but-intact latch is
            # recoverable where a wrongly deleted one is not.
            try:
                self.fs.read_text(os.path.join(d, f"{vid}.json"))
            except OSError:
                return False
            try:
                self.fs.rmtree(os.path.join(d, tip_latch))
            except OSError:
                return False
            return True
        self.fs.create_exclusive(os.path.join(d, f"{vid}.json"), body)
        return True

    def versions(self) -> list[tuple[int, dict]]:
        """Committed (version_id, token) pairs, newest first."""
        names = self.fs.listdir(self._versions_dir())
        if self._repair_unmirrored(names):
            names = self.fs.listdir(self._versions_dir())
        out = []
        for fn in names:
            if fn.endswith(".json") and fn[:-5].isdigit():
                token = md.parse_metadata(
                    self.fs.read_text(
                        os.path.join(self._versions_dir(), fn)
                    )
                )
                out.append((int(fn[:-5]), token))
        out.sort(key=lambda kv: kv[0], reverse=True)
        return out

    def version_ids(self) -> list[int]:
        """Committed ids, newest first — from the FILENAMES alone (the
        id IS the mirror's name), so the hot paths (every commit
        conflict check, every version fallback walk) cost one listdir,
        not O(history) file reads + JSON parses on a remote store.
        The same listing detects a missing mirror (dead committer) and
        triggers the one-read repair."""
        names = self.fs.listdir(self._versions_dir())
        if self._repair_unmirrored(names):
            names = self.fs.listdir(self._versions_dir())
        ids = self._mirror_ids(names)
        ids.sort(reverse=True)
        return ids

    def last_version(self) -> int | None:
        ids = self.version_ids()
        return ids[0] if ids else None

    def nth_version(self, n: int) -> int:
        """0 = oldest; negative = from the end (-1 = newest), matching
        the reference's nth-version (impl.clj:53-75)."""
        ids = sorted(self.version_ids())
        return ids[n]

    def timestamp_to_version(self, ts_millis: int) -> int:
        """Latest committed version with id ≤ ts (time travel)."""
        ids = [v for v in self.version_ids() if v <= ts_millis]
        if not ids:
            raise ValueError(f"no version at or before {ts_millis}")
        return max(ids)

    def metadata(self, version: int | None = None) -> dict:
        vid = self.last_version() if version is None else version
        if vid is None:
            raise ValueError("dataset has no committed versions")
        fp = os.path.join(self._versions_dir(), f"{vid}.json")
        if not self.fs.exists(fp):
            raise ValueError(f"no such committed version: {vid}")
        return md.parse_metadata(self.fs.read_text(fp))

    # -- version lifecycle ---------------------------------------------------

    def add_version(self, metadata: Mapping[str, Any]) -> dict:
        """Begin a new version atop the last committed one
        (mandoline.clj:143-158): validate, inherit, stamp version-id.
        Returns the writer token."""
        last = self.last_version()
        if last is None:
            md.validate_dataset_definition(metadata)
            token = md.create(metadata)
        else:
            # inherit FIRST: a child omitting chunk-dimensions inherits
            # the parent's (dataset.clj:88-110); validating the raw
            # child before the defaulting would reject that documented
            # form.  The inherited result is then fully validated.
            token = md.inherit(dict(metadata), self.metadata(last))
            md.validate_dataset_definition(token)
        token = md.new_version(token, after=last)
        return token

    def writer_token(self, token: Mapping[str, Any]) -> str:
        """Serialize an in-flight writer to a portable string — the
        reference's ``dataset-writer->token`` (mandoline.clj:160-176):
        a coordinator starts a version, hands the token string to any
        number of OTHER processes (separate Spark drivers entirely),
        each resumes with :func:`resume_writer`, writes its shard of
        pieces, and any one of them commits with ``finish_version``.
        The string carries the dataset URI plus the version token, so
        it crosses process/host boundaries as plain text."""
        return json.dumps(
            {
                "uri": f"mand://{self.path}",
                "token": md.generate_metadata(dict(token)),
            }
        )

    def finish_version(self, token: Mapping[str, Any]) -> int:
        """Commit: succeeds iff the token's parent is still the last
        committed version (optimistic concurrency,
        mandoline.clj:292-310 / linear_versions.clj:61-67).  The
        commit point is the exclusive create of the PARENT-named latch
        ``n<parent>.json``: only one child of a given parent can ever
        create it, so second-committer-fails holds atomically on any
        conditional-create backend — even when the ``last_version``
        pre-check ran against a stale (object-store, list-after-write
        lagged) listing.  The reference admits this race on its file
        backend and closes it only via DynamoDB's conditional put; the
        latch closes it everywhere.  The id-named mirror written after
        the latch serves the one-listdir hot paths and is repairable
        if this committer dies first (``_repair_unmirrored``)."""
        vid = token["version-id"]
        parent = token.get("parent")
        if self.last_version() != parent:
            raise VersionConflict(
                f"parent {parent} is no longer the last "
                f"committed version ({self.last_version()})"
            )
        # Version ids must strictly advance past the parent: the tip is
        # max(ids), so committing vid <= parent would never move it —
        # and worse, the latch this commit is about to create would be
        # a permanently unrepairable orphan (its mirror name is already
        # taken by the parent's own mirror), wedging every future
        # commit.  add_version floors fresh tokens past the parent
        # (metadata.new_version(after=...)); this guard catches tokens
        # stamped by pre-floor code or hand-built across skewed clocks,
        # and fails BEFORE any latch exists so a restamped retry goes
        # through cleanly.
        if parent is not None and vid <= parent:
            raise VersionConflict(
                f"version id {vid} does not advance past parent "
                f"{parent} (cross-process same-millisecond stamp or "
                "clock skew); restamp via add_version and retry"
            )
        # Cross-writer same-chunk reconcile: concurrent shard jobs that
        # interleaved writes INSIDE one chunk left masked (written-box)
        # index rows; merge them cell-correct before this version
        # becomes visible, so committed versions always resolve to one
        # winning blob per chunk (the invariant every read/compact/diff
        # consumer assumes).  Pure fs-metadata no-op when no generation
        # carries a mask marker.  Mirrors the reference's update-chunk!
        # CAS merge (impl.clj:246-278) at commit time instead of
        # per-chunk write time.
        from . import writer as _writer

        _writer.reconcile_version(self, token)
        d = self._versions_dir()
        body = md.generate_metadata(dict(token))
        latch = os.path.join(d, f"n{parent if parent is not None else 0}.json")
        if not self.fs.create_exclusive(latch, body):
            # event-driven repair: the existing latch may be a dead
            # committer's orphan (latch written, mirror not).  Reading
            # it and re-publishing the mirror is idempotent and makes
            # the winning commit visible, so this loser's caller can
            # rebase onto it — covers histories where the count
            # heuristic in _repair_unmirrored cannot see the orphan
            # (datasets carrying pre-latch commits).
            try:
                won = self.fs.read_text(latch)
                wvid = md.parse_metadata(won)["version-id"]
                self.fs.create_exclusive(
                    os.path.join(d, f"{wvid}.json"), won
                )
            except OSError:
                pass
            raise VersionConflict(
                f"a version atop parent {parent} is already committed "
                f"(version {vid} loses the race)"
            )
        # the mirror: a second create of the same name is benign ONLY
        # when it holds this commit's bytes (a repairer racing this
        # committer republishes the latch body verbatim).  Any other
        # occupant is a version-id collision — two cross-process
        # writers committing DIFFERENT parents inside one
        # epoch-millisecond stamp the same vid (new_version's bump
        # counter is per-process), and before this check the second
        # commit "succeeded" while its mirror silently carried the
        # other writer's token (r10 ADVICE).
        mirror = os.path.join(d, f"{vid}.json")
        if not self.fs.create_exclusive(mirror, body):
            # Read the occupant to classify the collision.  A transient
            # read failure must NOT be conflated with "foreign occupant"
            # (r11 ADVICE): the occupant may hold THIS commit's body —
            # a repairer racing us republished the latch verbatim — and
            # deleting the latch then reports a VISIBLE commit as
            # failed while removing parent's sole fork guard.  Retry
            # the read; if it never succeeds, raise without touching
            # the latch (wedged-but-safe, the pre-collision-latch
            # behavior) rather than guess.
            occupant = None
            read_ok = False
            for _ in range(5):
                try:
                    occupant = self.fs.read_text(mirror)
                    read_ok = True
                    break
                except OSError:
                    time.sleep(0.02)
            if not read_ok:
                raise VersionConflict(
                    f"version id {vid}'s mirror exists but is unreadable; "
                    "cannot classify the collision — retry the commit "
                    "(latch left in place)"
                )
            if occupant != body:
                # abort: roll the latch back first so the dataset does
                # not wedge (a latch whose mirror name is permanently
                # occupied by foreign bytes can never be repaired — the
                # repairer's exclusive mirror create always fails).  A
                # racing repairer cannot have published OUR body under
                # this name (it is occupied), so no reader can have
                # observed this commit as visible; deleting the latch
                # merely reopens the commit point for a sibling.
                try:
                    self.fs.rmtree(latch)
                except OSError:
                    pass
                raise VersionConflict(
                    f"version id {vid} already names a different commit "
                    "(cross-process id collision); retry the commit"
                )
        return vid

    # -- physical table handles ----------------------------------------------

    def chunks_path(self) -> str:
        """Active chunk-table directory.  Normally ``<path>/chunks``;
        after a :func:`mandoline_spark.maintenance.vacuum` a pointer
        file ``<path>/CHUNKS`` names the live generation instead —
        vacuum writes the surviving blobs BESIDE the old directory and
        flips the pointer, so a concurrent reader never observes a
        moment with no chunk directory at all (the r2 rename-swap
        window)."""
        ptr = os.path.join(self.path, "CHUNKS")
        try:
            if self.fs.exists(ptr):
                return os.path.join(
                    self.path, self.fs.read_text(ptr).strip()
                )
        except OSError:
            pass  # pointer mid-flip (Hadoop delete+rename): fall through
        default = os.path.join(self.path, "chunks")
        if self.fs.isdir(default):
            return default
        # pointer absent mid-flip after an earlier vacuum already
        # removed the default dir: newest surviving generation wins
        gens = [
            d
            for d in self.fs.listdir(self.path)
            if d.startswith("chunks.g")
        ]
        if gens:
            return os.path.join(
                self.path, max(gens, key=lambda d: int(d.rsplit(".g", 1)[1]))
            )
        return default

    def index_path(self, version: int, var: str, gen: int | None = None) -> str:
        base = os.path.join(self.path, "index", f"v={version}", f"var={var}")
        return base if gen is None else os.path.join(base, f"g={gen}")

    def index_gens(self, version: int, var: str) -> list[int]:
        """Index generations for (version, var), ascending.  A write job
        appends a new immutable generation: either a complete
        copy-forward index (``full``) or, for large datasets where
        commits must be O(touched chunks) not O(total chunks), only the
        coordinates it wrote (``delta``, marked by a ``_DELTA`` file the
        Parquet readers ignore).  Resolution merges the newest full
        generation with every later delta, last writer wins;
        :func:`mandoline_spark.maintenance.compact_index` re-materializes
        a full generation to bound the chain."""
        base = self.index_path(version, var)
        if not self.fs.isdir(base):
            return []
        gens = []
        for d in self.fs.listdir(base):
            if d.startswith("g=") and _has_parquet(
                self.fs, os.path.join(base, d)
            ):
                gens.append(int(d[2:]))
        return sorted(gens)

    def index_gen_is_delta(self, version: int, var: str, gen: int) -> bool:
        return self.fs.exists(
            os.path.join(self.index_path(version, var, gen), "_DELTA")
        )

    def _scan(
        self,
        key: tuple,
        paths: list[str],
        schema: T.StructType,
        **options: str,
    ) -> DataFrame:
        """Parquet scan of engine-written ``paths`` under the schema the
        engine itself wrote.  Declaring it is what keeps relation
        construction job-free: an inferred read launches one
        footer-merge Spark job per relation.  Columns a file lacks read
        as null."""

        def read() -> DataFrame:
            return (
                self.spark.read.options(**options)
                .schema(schema)
                .parquet(*paths)
            )

        if not self.cache_reads:
            return read()
        with self._cache_lock:
            hit = self._df_cache.get(key)
            epoch = self._cache_epoch
        if hit is not None:
            return hit
        # Build the plain frame OUTSIDE the lock (relation construction
        # lists files), but mark it cached only under the lock and only
        # if no invalidation landed mid-construction.  Never .cache()
        # first and unpersist on mismatch: Spark's CacheManager matches
        # by LOGICAL PLAN, so unpersisting our stale same-plan frame
        # would also uncache a fresh frame another thread legitimately
        # memoized for the same path (r12 review) — and never return a
        # cached-but-unmemoized frame either, which nothing would ever
        # unpersist (r11 ADVICE).
        plain = read()
        with self._cache_lock:
            if self._cache_epoch == epoch:
                hit = self._df_cache.get(key)
                if hit is not None:
                    return hit
                df = plain.cache()  # metadata-only persist mark; no I/O
                self._df_cache[key] = df
                return df
        # invalidated mid-construction: `plain`'s file-list snapshot
        # predates the writer's invalidation — rebuild AFTER observing
        # the bump so the frame sees the post-write file set (r12
        # second review pass: returning `plain` served pre-write data
        # to a reader that provably raced a completed write)
        return read()

    def invalidate_cache(self) -> None:
        """Drop memoized table DataFrames and driver-side read caches
        (called after writes)."""
        with self._cache_lock:
            dropped = list(self._df_cache.values())
            self._df_cache.clear()
            self._blob_lru.clear()
            self._index_map_cache.clear()
            self._chunks_disk_bytes = None
            self._cache_epoch += 1
        for df in dropped:  # Spark call outside the lock
            df.unpersist()

    # -- driver-side read-through caches -------------------------------------

    def index_plan(
        self, version: int, var: str
    ) -> list[tuple[int, int]] | None:
        """The resolved (version, var) index as the (version,
        generation) pairs to overlay, in the order they apply — the one
        place resolution is decided (Spark resolution, the local
        pyarrow index map, the writers' bases and layer stacks and
        ``overlay_depth`` all follow it).  A version that never wrote
        the variable falls back to the highest *committed* version
        below it that did (mem.clj:45-49 — a variable not rewritten in
        a version reads its most recent data; uncommitted versions are
        invisible, failed_ingest.clj; history is linear, so the
        committed-ids walk IS the parent chain).  A version's newest
        FULL generation and every later delta apply; a version holding
        only deltas takes its base from that fallback's plan,
        recursively.  Pure fs metadata: no Spark.  None ⇔ no version
        has written the variable."""
        gens = self.index_gens(version, var)
        fulls = [
            g for g in gens if not self.index_gen_is_delta(version, var, g)
        ]
        own = [(version, g) for g in gens if not fulls or g >= fulls[-1]]
        if fulls:
            return own
        for vid in self.version_ids():  # newest first
            if vid < version and self.index_gens(vid, var):
                return self.index_plan(vid, var) + own
        return own or None

    def index_footers(self, var: str, plan: list[tuple[int, int]]) -> list:
        """pyarrow ``ParquetFile`` handles of every generation in
        ``plan``, in plan order — LOCAL stores only.  Their footer row
        counts sum to an upper bound on the resolved index size with
        zero Spark jobs."""
        import pyarrow.parquet as pq

        files = []
        for vid, g in plan:
            d = self.index_path(vid, var, g)
            for fn in sorted(self.fs.listdir(d)):
                if fn.endswith(".parquet"):
                    files.append(pq.ParquetFile(os.path.join(d, fn)))
        return files

    def _local_index_map(self, version: int, var: str, cap: int):
        """Driver-side index resolution for LOCAL stores: read the
        generation parquet files with pyarrow and fold the overlay into
        a dict — ZERO Spark jobs.  Scale guard rides the parquet
        FOOTERS (:meth:`index_footers`): if their row-count bound
        exceeds ``cap`` the answer is delegated to the Spark
        limit-collect (returns ``_SPARK_RESOLVE``), which decides
        exactly.  Bytes read stay ≤ the index generations a Spark
        resolution would scan anyway."""
        plan = self.index_plan(version, var)
        if plan is None:
            return None
        files = self.index_footers(var, plan)
        if sum(pf.metadata.num_rows for pf in files) > cap:
            return _SPARK_RESOLVE
        m: dict = {}
        # plan order is application order: later gens overwrite
        for pf in files:
            ccols = sorted(
                (
                    c
                    for c in pf.schema_arrow.names
                    if re.match(r"^c\d+$", c)
                ),
                key=lambda c: int(c[1:]),
            )
            tbl = pf.read(columns=ccols + ["chunk_hash"])
            cols = [tbl.column(c).to_pylist() for c in ccols]
            hashes = tbl.column("chunk_hash").to_pylist()
            for i, h in enumerate(hashes):
                m[tuple(int(c[i]) for c in cols)] = h
        return m

    def index_map(self, version: int, var: str) -> dict | None:
        """coord-tuple → chunk hash for the RESOLVED (version, var)
        index, collected to the driver once and memoized.  Returns None
        (and caches the refusal) when the index exceeds
        ``index_map_max_entries`` — huge datasets stay on the
        distributed path."""
        if not self.cache_reads:
            return None
        key = (version, var)
        with self._cache_lock:
            if key in self._index_map_cache:
                return self._index_map_cache[key]
            epoch = self._cache_epoch
        value = self._compute_index_map(version, var)
        with self._cache_lock:
            # insert only if no invalidation landed mid-compute — a
            # writer's invalidate_cache would otherwise be undone and
            # the pre-write map served indefinitely (r11 review)
            if self._cache_epoch == epoch:
                self._index_map_cache[key] = value
        return value

    def _compute_index_map(self, version: int, var: str) -> dict | None:
        cap = self.index_map_max_entries
        if isinstance(self.fs, fsmod.LocalFS):
            local = self._local_index_map(version, var, cap)
            if local is not _SPARK_RESOLVE:
                return local
        idx = self.resolve_index_df(version, var)
        if idx is None:
            return None
        ccols = sorted(
            (c for c in idx.columns if re.match(r"^c\d+$", c)),
            key=lambda c: int(c[1:]),
        )
        # ONE job for both the size probe and the data: collect
        # max+1 rows under a limit — if the limit is hit the index is
        # too big for a driver map (cache the refusal, distributed
        # path takes over).  The former separate limit+count probe
        # doubled the job count of every small-read resolution
        # (~80ms/job of local-mode floor, and a real scheduling
        # round-trip per read on a cluster).  Collected bytes stay
        # bounded: ≤ (max+1) rows of ints + one 40-char hash.
        rows = idx.select(*ccols, "chunk_hash").limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        return {
            tuple(int(row[c]) for c in ccols): row["chunk_hash"]
            for row in rows
        }

    def _local_blobs(self, hashes: list[str]) -> dict[str, bytes] | None:
        """Driver-side point fetch of chunk blobs for LOCAL stores whose
        chunk table fits ``blob_local_fetch_max_bytes`` on disk: a
        pyarrow dataset scan filtered on the content hash — zero Spark
        jobs (the Spark path's filtered scan costs a scheduling
        round-trip per cold read, the dominant cost of interactive
        point reads).  Returns None when not eligible (remote fs, big
        table, no chunks yet) — the caller falls back to the Spark
        scan.  pyarrow prunes row groups on hash statistics where they
        help; worst case it reads a table already bounded by the byte
        cap."""
        if not isinstance(self.fs, fsmod.LocalFS):
            return None
        path = self.chunks_path()
        if not _has_parquet(self.fs, path):
            return None
        if self._chunks_disk_bytes is None:
            self._chunks_disk_bytes = self.fs.tree_size(path)
        if self._chunks_disk_bytes > self.blob_local_fetch_max_bytes:
            return None
        import pyarrow.dataset as pads

        want = set(hashes)
        tbl = pads.dataset(path, format="parquet").to_table(
            columns=["hash", "blob"],
            filter=pads.field("hash").isin(list(want)),
        )
        h = tbl.column("hash").to_pylist()
        b = tbl.column("blob")
        out = {h[i]: b[i].as_py() for i in range(len(h))}
        if set(out) != want:
            return None  # store inconsistency; let the caller decide
        return out

    def blobs_for(self, hashes: list[str]) -> dict[str, bytes] | None:
        """hash → raw blob bytes through the LRU (read-through: misses
        are fetched in one filtered job, hits cost nothing)."""
        if not self.cache_reads:
            return None
        out: dict[str, bytes] = {}
        missing = []
        # DISTINCT misses: content addressing dedups identical chunks,
        # so a read of n chunks may carry repeated hashes — counting
        # occurrences instead of distinct keys made the inconsistency
        # check below false-fire and silently pushed every such read
        # off the cached path (latent until a test wrote same-content
        # chunks)
        with self._cache_lock:
            for h in dict.fromkeys(hashes):
                if h in self._blob_lru:
                    # mark recent
                    self._blob_lru[h] = self._blob_lru.pop(h)
                    out[h] = self._blob_lru[h]
                else:
                    missing.append(h)
        if missing:
            got = self._local_blobs(missing)
            if got is None:
                chunks = self.chunks_df()
                if chunks is None:
                    return None
                pdf = chunks.filter(chunks.hash.isin(missing)).toPandas()
                got = {
                    r.hash: bytes(r.blob)
                    for r in pdf.itertuples(index=False)
                }
            if len(got) < len(missing):
                return None  # store inconsistency; let caller fall back
            with self._cache_lock:
                for h, b in got.items():
                    out[h] = b
                    self._blob_lru[h] = b
                    while len(self._blob_lru) > self.blob_lru_size:
                        self._blob_lru.pop(next(iter(self._blob_lru)))
        return out

    def chunks_df(self) -> DataFrame | None:
        """(hash, blob, nbytes) or None when no chunks exist yet."""
        path = self.chunks_path()
        if not _has_parquet(self.fs, path):
            return None
        # chunk batches land in per-job subdirectories (concurrent
        # writers cannot share one append's _temporary staging);
        # recursive lookup reads the whole tree, flat legacy layouts
        # included
        return self._scan(
            ("chunks", path), [path], CHUNK_SCHEMA,
            recursiveFileLookup="true",
        )

    def gens_df(
        self, var: str, gens: list[tuple[int, int]], ndim: int
    ) -> DataFrame:
        """ONE parquet scan over the (version, generation) directories
        ``gens`` of ``var``: the writers' index columns plus ``wb`` (a
        generation written before cross-writer masks lacks it and reads
        null — wholesale, the semantics an unmasked row has) and the
        numeric ``v``/``g`` partition columns from the directory
        names."""
        return self._scan(
            ("index", var, tuple(gens)),
            [self.index_path(v, var, g) for v, g in gens],
            _gen_schema(ndim),
            basePath=os.path.join(self.path, "index"),
        ).drop("var")

    @staticmethod
    def _stack_winner(stack: DataFrame, *order: str) -> DataFrame:
        """One row per ckey from a generation stack: the one with the
        highest ``order`` columns (last writer wins)."""
        payload = [c for c in stack.columns if c != "ckey" and c not in order]
        return (
            stack.groupBy("ckey")
            .agg(
                F.max_by(F.struct(*payload), F.struct(*order)).alias("_w")
            )
            .select("ckey", *[F.col(f"_w.{c}").alias(c) for c in payload])
        )

    def _index_ndim(self, var: str, plan: list[tuple[int, int]]) -> int:
        """Coordinate-column count of ``var``'s index, from one part
        file's footer, read through the Hadoop client without a Spark
        job: the version metadata that also holds it is not on disk
        until the version commits, and in-flight versions are resolved
        too."""
        v0, g0 = plan[0]
        d = self.index_path(v0, var, g0)
        part = next(
            fn for fn in sorted(self.fs.listdir(d))
            if fn.endswith(".parquet") and not fn.startswith(("_", "."))
        )
        jvm = self.spark._jvm
        hadoop = jvm.org.apache.parquet.hadoop
        f = hadoop.ParquetFileReader.open(
            hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(os.path.join(d, part)),
                self.spark._jsc.hadoopConfiguration(),
            )
        )
        try:
            fields = f.getFooter().getFileMetaData().getSchema().getFields()
            return sum(1 for t in fields if re.match(r"^c\d+$", t.getName()))
        finally:
            f.close()

    def _plan_df(
        self, var: str, plan: list[tuple[int, int]] | None
    ) -> DataFrame | None:
        """The index an :meth:`index_plan` resolves to, as TWO relations
        whatever the chain's depth: the base full generation, never
        shuffled, and one multi-path scan over every delta in the plan,
        across versions, reduced to one winner per ckey by (v, g).  The
        winners apply to the base with a single broadcast anti-join —
        the delta side is O(touched chunks).  A plan that starts with a
        delta has no base (a delta written with no index below it)."""
        if plan is None:
            return None
        ndim = self._index_ndim(var, plan)
        base = None
        v0, g0 = plan[0]
        if not self.index_gen_is_delta(v0, var, g0):
            base = self.gens_df(var, plan[:1], ndim).drop("v", "g")
            plan = plan[1:]
        if not plan:
            return base
        winner = self._stack_winner(self.gens_df(var, plan, ndim), "v", "g")
        if base is None:
            return winner
        return winner.unionByName(
            base.join(F.broadcast(winner.select("ckey")), "ckey", "left_anti")
        )

    def resolve_index_df(self, version: int, var: str) -> DataFrame | None:
        """Resolved index of (version, var) with version fallback (see
        :meth:`index_plan`).  None when no version at or below
        ``version`` wrote the variable."""
        return self._plan_df(var, self.index_plan(version, var))

    def index_df(self, version: int, var: str) -> DataFrame | None:
        """:meth:`resolve_index_df` without the fallback: None when this
        version never wrote the variable."""
        if not self.index_gens(version, var):
            return None
        return self._plan_df(var, self.index_plan(version, var))

    def existing_hashes_df(self) -> DataFrame | None:
        c = self.chunks_df()
        return c.select("hash") if c is not None else None

    # -- stats (protocol.clj get-stats) ---------------------------------------

    def get_stats(self) -> dict:
        return {
            "metadata-size": self.fs.tree_size(self._versions_dir()),
            "index-size": self.fs.tree_size(os.path.join(self.path, "index")),
            "data-size": self.fs.tree_size(self.chunks_path()),
        }


def _has_parquet(fs, path: str) -> bool:
    """True when the directory (recursively) holds any COMMITTED
    parquet file — the cheap emptiness probe before handing a path to
    the reader.  Underscore/dot-prefixed entries (``_temporary``
    staging, ``_SUCCESS``, hidden files) are skipped with the same rule
    Spark's own readers use: without it, an IN-FLIGHT write's staging
    files would make the generation visible to `index_gens` while
    `spark.read.parquet` still (correctly) sees nothing — a reader
    would resolve an empty or partial index and return fill for data
    that exists."""
    if not fs.isdir(path):
        return False
    for name in fs.listdir(path):
        if name.startswith(("_", ".")):
            continue
        sub = os.path.join(path, name)
        if name.endswith(".parquet"):
            return True
        if fs.isdir(sub) and _has_parquet(fs, sub):
            return True
    return False

