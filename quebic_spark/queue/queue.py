"""Durable schema-typed FIFO queue — the reference's full public surface,
Spark-native.

Reference surface re-expressed (Queue.scala:26-307):
  * ``Queue(path, schema, capacity, codec)`` — create/open + validate
  * ``Queue.publisher()`` -> ``Publisher.try_push / push / push_all / latest``
  * ``Queue.subscriber()`` -> ``Subscriber.try_pop / pop / consume / peek``
  * ``size / is_empty / disk_space / close / dispose / verify / dump``

Execution model: single-record push/pop are driver-edge operations over
the Parquet append log (pyarrow fast path — a Spark job per record would
add ~100ms scheduling floor for no benefit); bulk ingestion and
consumption are Spark DataFrame operations (``append_dataframe``,
``read_pending``, ``quebic_spark.streaming``), which is where the 100 TB
design lives. Semantic parity notes appear per method.

Semantic fine print preserved (SURVEY §2.7):
  1. global FIFO by monotonic ``seq`` (single writer, like the
     reference's 1-producer contract, README.md:5,12-13);
  2. capacity counts journal+queue -> here: all unacked records;
  3. expired records count toward size until encountered at consume
     time (JournaledFile.scala:244-264);
  4. poison pills move to a DLQ after ``error_permit`` failures
     (superset of the reference's silent discard,
     JournaledFile.scala:250-256);
  5. ``latest`` survives emptiness (Queue.scala:234-237) — compaction
     always retains the max-seq record;
  6. at-least-once consume: the ack pointer advances only after the
     callback succeeds (JournaledFile.scala:266-282).
"""

from __future__ import annotations

import logging
import os
import shutil
import time
from typing import Any, Callable, Iterable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq

log = logging.getLogger(__name__)

from quebic_spark.codec import PLAIN, Codec
from quebic_spark.errors import FormatException, QueueClosedError
from quebic_spark.queue.storage import (
    QueueStorage,
    SYSTEM_COLUMNS,
    arrow_schema,
    bounded_row_group_rows,
    fsync_path,
    large_offset_schema,
    read_log_file,
    spark_ddl,
    staged_seq_ranges,
    write_json_atomic,
)
from quebic_spark.schema import Schema

# The reference polls every 200 ms in every blocking loop
# (Queue.scala:190,220,281). Configurable here; same default.
DEFAULT_POLL_INTERVAL = 0.2

# Bulk frames expected to hold at most this many rows go through one
# partition: ``append_dataframe``'s single-reducer seq window and the
# streaming consumer's one-partition micro-batch sort (see
# ``fits_one_partition``).
SMALL_BATCH_ROWS = 1_000_000


def estimated_rows(df) -> int:
    """Rows Catalyst expects ``df`` to produce, read from its optimized
    plan's statistics without running a Spark job: the exact
    ``rowCount`` where Spark knows it (local relations, ``range``, a
    materialised cache), else ``sizeInBytes`` over the schema's
    per-row size (Spark's own 8-byte row overhead plus each column's
    default size). File scans report their on-disk bytes, so the
    estimate for compressed input runs low; a plan Spark cannot size
    (an RDD-backed ``createDataFrame`` of a Python list) reports the
    maximum size and so estimates huge."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rows = stats.rowCount()
    if rows.isDefined():
        return int(str(rows.get()))
    per_row = 8 + df._jdf.schema().defaultSize()
    return int(str(stats.sizeInBytes())) // per_row


def fits_one_partition(df, cutoff: int = SMALL_BATCH_ROWS) -> bool:
    """Whether ``df`` is small enough to order in one partition: its
    ``estimated_rows`` are at most ``cutoff``. ``cutoff=0`` says no
    for every frame."""
    return cutoff > 0 and estimated_rows(df) <= cutoff


def _now_ms() -> int:
    return int(time.time() * 1000)


def _expires_at(lifetime_ms: int) -> int:
    # lifetime (relative ms) -> absolute deadline, or -1 for none
    # (entry write, JournaledFile.scala:319).
    return -1 if lifetime_ms < 0 else _now_ms() + lifetime_ms


def _parse_stream_file_sets(
    checkpoint_dir: str,
) -> tuple[set[str], set[str]] | None:
    """(committed, discovered) basenames of log files from a Structured
    Streaming file-source checkpoint, or None when the checkpoint isn't
    parseable (be conservative: treat as unknown).

    Layout (public Spark checkpoint format): ``commits/<batchId>`` marks
    batch completion; ``sources/0/<batchId>`` is the file-source offset
    log — one JSON entry per discovered file, each carrying the
    ``batchId`` it was first listed for (periodic ``<n>.compact`` files
    repeat all prior entries, so reading every log file and filtering
    by the per-entry batchId is restart- and compaction-proof).

    * COMMITTED: entry batchId <= the max committed batch. The source
      never re-lists or re-reads these — the same contract Spark's own
      ``cleanSource=delete`` relies on — so deleting one cannot cause
      redelivery. Entries for batches beyond the last commit may be
      replayed on restart and are excluded.
    * DISCOVERED: every entry regardless of batchId. A file whose
      basename appears NOWHERE in the offset log has never been listed
      by the source, so merging it into a new file cannot cause
      redelivery (the source has no memory of the old name) — the
      complement guarantee the small-file merge path needs.
    """
    import json
    from urllib.parse import unquote, urlparse

    commits_dir = os.path.join(checkpoint_dir, "commits")
    sources_root = os.path.join(checkpoint_dir, "sources")
    sources_dir = os.path.join(sources_root, "0")
    if not (os.path.isdir(commits_dir) and os.path.isdir(sources_dir)):
        return None
    # a multi-source query (e.g. a union over two directories) commits
    # per QUERY batch, so sources/0 alone doesn't describe which of OUR
    # files are safe — refuse to guess
    try:
        if set(os.listdir(sources_root)) != {"0"}:
            return None
    except OSError:
        return None
    last_committed = -1
    for name in os.listdir(commits_dir):
        base = name[: -len(".compact")] if name.endswith(".compact") else name
        if base.isdigit():
            last_committed = max(last_committed, int(base))
    committed: set[str] = set()
    discovered: set[str] = set()
    try:
        for name in os.listdir(sources_dir):
            base = (name[: -len(".compact")]
                    if name.endswith(".compact") else name)
            if not base.isdigit():
                continue
            with open(os.path.join(sources_dir, name),
                      encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue  # version header
                    entry = json.loads(line)
                    path = entry.get("path")
                    batch_id = entry.get("batchId")
                    if path is None or batch_id is None:
                        return None  # unknown log dialect
                    base_name = os.path.basename(
                        unquote(urlparse(path).path)
                    )
                    discovered.add(base_name)
                    if batch_id <= last_committed:
                        committed.add(base_name)
    except (OSError, ValueError):
        # torn/concurrent write or unknown format: report unknown so the
        # caller skips compaction instead of guessing
        return None
    return committed, discovered


def _parse_stream_committed(checkpoint_dir: str) -> set[str] | None:
    """COMMITTED basenames only (see ``_parse_stream_file_sets``)."""
    sets = _parse_stream_file_sets(checkpoint_dir)
    return None if sets is None else sets[0]


def _record_from_row(schema: Schema, row: dict[str, Any]) -> tuple[Any, ...]:
    """Storage row -> typed record: TENSOR struct dicts come back as
    Tensor values (the reference returns typed Struct values, not raw
    encodings)."""
    from quebic_spark.schema import TENSOR
    from quebic_spark.tensor import Tensor

    out = []
    for name, t in zip(schema.column_names, schema.types):
        v = row[name]
        if t is TENSOR and isinstance(v, dict):
            v = Tensor(v["shape"], v["values"])
        out.append(v)
    return tuple(out)


class Queue:
    """One durable FIFO queue over a directory (Queue.scala:26)."""

    def __init__(
        self,
        path: str,
        schema: Schema,
        capacity: int = 2**62,
        codec: Codec = PLAIN,
        poll_interval: float = DEFAULT_POLL_INTERVAL,
        auto_compact_files: int | None = 256,
        fsync: bool = False,
    ):
        """``auto_compact_files``: compact when the log exceeds this many
        batch files (the reference's timer-driven auto-migration,
        Queue.scala:53-62, re-keyed from wall-clock to file count — the
        quantity that actually degrades at scale). None disables.

        ``fsync``: force control-file pointer flips to disk on every
        push/pop. Default False — durability parity with the reference,
        which never calls ``FileChannel.force()``
        (JournaledFile.scala:23): write-then-rename ordering keeps every
        state PROCESS-crash consistent either way; fsync=True extends
        that to power loss at ~0.6 ms per operation on this box.
        """
        if capacity <= 0:
            # parity: Queue.scala:27-29
            raise ValueError(f"capacity must be positive: {capacity}")
        self.schema = schema
        self.capacity = capacity
        self.codec = codec
        self.poll_interval = poll_interval
        self.auto_compact_files = auto_compact_files
        self._closed = False
        self._compaction_pins = 0
        # external stream checkpoints registered by StreamingConsumer
        # (see register_stream_checkpoint) — count as attached while
        # their directory exists
        self._external_stream_checkpoints: set[str] = set()
        # True when the most recent compact() call was skipped because
        # a streaming reader (pin or resumable checkpoint) was attached
        self.last_compact_skipped = False
        # per-process estimate of batch-file count so the per-push
        # auto-compact check is a counter bump, not a directory listing
        # (None = unknown, recomputed lazily; see _maybe_auto_compact)
        self._batch_files_estimate: int | None = None
        # file count at which the last auto-compaction proved futile
        # (everything classified 'keep'); None = not in a futile state
        self._auto_compact_futile_at: int | None = None
        self._storage = QueueStorage(path)
        self._storage.control_sync = bool(fsync)
        os.makedirs(path, exist_ok=True)
        with self._storage.lock:
            if self._storage.exists():
                # crash recovery: sweep uncommitted staging artifacts
                # left by a process killed mid-commit (committed state
                # is rename-only). Gated on exists() (r16 review): a
                # mistaken open of a NON-queue directory used to sweep
                # the user's own *.tmp files and _staging-* dirs
                # before any validation ran — destructive on foreign
                # data. A brand-new queue has nothing to recover, and
                # a crashed initialize() leaves no meta.json (it is
                # written LAST, the commit point of creation — r18
                # chaos drive), so initialize() below simply re-runs.
                touched = self._storage.recover()
                if touched:
                    log.warning(
                        "queue %s: crash recovery touched %d path(s): %s",
                        path, len(touched), ", ".join(touched),
                    )
                stored_schema, stored_cap, stored_codec = (
                    self._storage.load_meta()
                )
                # parity: opening an existing file validates the stored
                # schema against the caller's (JournaledFile.scala:562-584)
                schema.assert_compatible(stored_schema)
                self.capacity = stored_cap
                self.codec = stored_codec
                self._storage.default_codec_id = stored_codec.id
                # rows at/beyond the pointer were never committed
                # (their push never returned): since r13 the commit
                # order is flip-before-publish, so only a POWER LOSS
                # (un-synced flip lost, rename persisted) or the
                # fsync-mode bulk path's pre-flip window can leave
                # such a file — truncate it now, as the open-time
                # belt behind the committed-view read filter.
                # stamp a pre-crc pointer file into the crc format
                # BEFORE any flip can change its digits (r14 review:
                # the first organic flip over a crc-less file was one
                # unprotected tear window)
                self._storage.ensure_ctrl_format()
                next_seq = self._storage.next_seq()
                for start, _end, bpath in self._storage.list_batches(
                    include_uncommitted=True
                ):
                    if start >= next_seq:
                        os.remove(bpath)
                        log.warning(
                            "queue %s: removed uncommitted batch file %s "
                            "(at/beyond next_seq=%d)", path, bpath, next_seq,
                        )
            else:
                self._storage.initialize(schema, capacity, codec)
                self._storage.default_codec_id = codec.id

    # -- guards ------------------------------------------------------------
    def _check_open(self) -> None:
        if self._closed:
            # parity: IOException on use-after-close (Queue.scala:86-96)
            raise QueueClosedError(f"queue is closed: {self._storage.path}")

    # -- introspection (Queue.scala:118-134) --------------------------------
    def size(self) -> int:
        """Unconsumed record count.

        O(1): pushed_total - acked. Expired-but-unencountered records
        still count (SURVEY §2.7.4).
        """
        self._check_open()
        with self._storage.lock:
            pushed = self._storage.next_seq() - 1
            acked = int(self._storage.consumer_state()["acked_seq"])
        return pushed - acked

    def is_empty(self) -> bool:
        return self.size() == 0

    def disk_space(self) -> int:
        self._check_open()
        return self._storage.disk_space()

    # -- lifecycle -----------------------------------------------------------
    def close(self) -> None:
        """Idempotent close; runs one final compaction (Queue.scala:139-142)."""
        if self._closed:
            return
        try:
            self.compact()
        finally:
            self._closed = True
            self._storage.close_handles()

    def dispose(self) -> None:
        """Close then delete the queue directory (Queue.scala:148-152)."""
        self._closed = True
        self._storage.close_handles()
        shutil.rmtree(self._storage.path, ignore_errors=True)

    def __enter__(self) -> "Queue":
        return self

    def __exit__(self, *exc: Any) -> None:
        self.close()

    # -- actors ----------------------------------------------------------------
    def publisher(self, compression: Codec | None = None) -> "Publisher":
        """Parity: new Queue.Publisher(compression) (Queue.scala:159)."""
        self._check_open()
        return Publisher(self, compression or self.codec)

    def subscriber(self) -> "Subscriber":
        self._check_open()
        return Subscriber(self)

    # -- maintenance ------------------------------------------------------------
    def pin_compaction(self) -> None:
        """Disable compaction while a Structured Streaming reader is
        attached to this queue's log.

        The streaming file source tracks files it has processed BY PATH;
        compaction rewrites/merges committed files under new names, so
        every already-consumed row would be rediscovered as a "new" file
        and redelivered. ``read_queue_stream`` pins automatically; call
        :meth:`unpin_compaction` after the stream (and its checkpoint)
        is permanently done.
        """
        self._compaction_pins += 1

    def unpin_compaction(self) -> None:
        self._compaction_pins = max(0, self._compaction_pins - 1)

    def register_stream_checkpoint(self, path: str) -> None:
        """Record an EXTERNAL stream checkpoint directory so this
        queue object treats the stream as resumable after its query
        stops (r16 review): the durable attached-heuristic only
        watches the default in-queue checkpoint, so a consumer using
        ``checkpoint_dir=`` elsewhere unpinned on return and a later
        full compaction (including a push's auto-compact) merged the
        consumed files under new names — the next run rediscovered
        them and silently redelivered every consumed row. Registered
        paths count as attached while their directory exists, and
        stream-safe compaction parses them when the default
        checkpoint is absent. Registration is DURABLE (r19, ADVICE
        r18): ``<queue>/stream-checkpoints.json`` records the path so
        a DIFFERENT process's ``recover()`` chooses discard over
        commit for pre-manifest staged chunks (the r18 double-delivery
        window existed for external checkpoints exactly because the
        registry was in-process only) and its ``_stream_attached``
        sees the stream as resumable. Dead entries (dir gone) are
        pruned at each registration. Cross-process compaction against
        an external checkpoint still takes
        ``compact(stream_checkpoint=...)`` to RECLAIM space; without
        it, compaction now safely skips instead of redelivering."""
        self._external_stream_checkpoints.add(os.path.abspath(path))
        self._storage.register_stream_checkpoint(os.path.abspath(path))

    def unregister_stream_checkpoint(self, path: str) -> None:
        """Decommission an external stream's registration (r20
        lifecycle): the registry only self-prunes when the checkpoint
        DIRECTORY vanishes, so a retired stream whose checkpoint is
        merely abandoned in place would otherwise hold this queue's
        compaction in stream-safe mode forever. After this call (and
        once no other checkpoint keeps the queue attached), full
        compaction resumes. Only safe when the stream is permanently
        done — a later restart from the same checkpoint would
        rediscover compacted files under new names and redeliver."""
        self._external_stream_checkpoints.discard(os.path.abspath(path))
        self._storage.unregister_stream_checkpoint(
            os.path.abspath(path)
        )

    def _stream_attached(self) -> bool:
        # durable cross-process signal: StreamingConsumer's default
        # checkpoint lives inside the queue directory; its presence
        # means a stream may resume from it at any time. Registered
        # external checkpoints carry the same meaning for this
        # process (see register_stream_checkpoint).
        return (
            self._compaction_pins > 0
            or os.path.isdir(
                os.path.join(self._storage.path, "checkpoint")
            )
            or any(
                os.path.isdir(p)
                for p in self._external_stream_checkpoints
            )
            # durable registrations from OTHER processes (r19): their
            # stream can resume at any time, so a full compaction
            # here would silently redeliver every consumed row there
            or any(
                os.path.isdir(p)
                for p in self._storage.registered_stream_checkpoints()
            )
        )

    def compact(self, target_file_rows: int = 1_000_000,
                small_file_rows: int = 65_536,
                force: bool = False,
                expired_rewrite_fraction: float = 0.5,
                stream_checkpoint: str | None = None,
                merge_undiscovered: bool = False) -> int:
        """Tiered log compaction: drop acked/expired rows, merge small
        files by size tier, leave large clean files untouched.

        Replaces the reference's journal->queue migration + spaceOut
        (JournaledFile.scala:406-452, 491-520) — our log is already
        FIFO-ordered by seq, so compaction is purely physical. Per file:

        * fully consumed: deleted (the max-seq file excepted, below);
        * straddling the ack pointer: rewritten without its consumed
          rows;
        * clean (fully unconsumed) and under ``small_file_rows``:
          merged by size tier. Each run of adjacent clean small files
          is walked newest to oldest, and an older file joins the
          merge only while its row count is at most twice the rows
          gathered so far; the first file that fails stops the walk,
          and a merge of one file is not made. As in a size-tiered
          LSM tree, a merged file is at least the sum of the files it
          absorbed, so with no consumer a record is rewritten
          O(log n) times over a backlog of n records rather than once
          per call, and the log keeps O(log n) tier files;
        * any clean file the tiers leave, large or small, is kept —
          unless its TTL-expired row fraction reaches
          ``expired_rewrite_fraction``, when it is rewritten without
          the expired rows (they are dropped at consume time
          regardless — TTL parity, JournaledFile.scala:244-264 — but a
          mostly-expired file is dead weight worth reclaiming).

        Adjacent files that are rewritten form one merged output.

        The max-seq record is always retained even when acked so
        ``latest`` survives emptiness (parity with
        truncate-keeps-deepest, JournaledFile.scala:266-275).

        **While a streaming reader is attached** (see
        :meth:`pin_compaction`), full compaction would redeliver: the
        file source tracks processed files by path, so a rewrite/merge
        resurfaces consumed rows under new names. Instead of a blanket
        no-op, compaction drops to a restricted stream-safe mode: parse
        the stream's checkpoint (default ``<queue>/checkpoint``, or
        ``stream_checkpoint`` for an external one) and DELETE —
        never rewrite — whole files the source has already committed
        (it never re-lists those, the contract Spark's own
        ``cleanSource=delete`` relies on). The ack pointer advances
        over the contiguous deleted prefix so ``size()`` / capacity
        reflect stream consumption; the stream is the consumer of
        record while its checkpoint exists. A continuously-streamed
        queue log therefore reclaims consumed space instead of growing
        without bound. When no checkpoint is parseable (pin held with
        an unknown external checkpoint), compaction is skipped with a
        warning and ``last_compact_skipped`` is set; ``force=True``
        bypasses every stream guard (only safe when no stream can
        resume).

        Both stream-safe modes assume ONE streaming reader per queue
        (the reference's 1-producer:1-consumer contract, which this
        engine inherits): the checkpoint parsed here must belong to
        the only attached stream, since a second stream with its own
        checkpoint could have listed files this one hasn't. Multiple
        concurrent streams require external coordination or
        ``auto_compact_files=None``.

        ``merge_undiscovered=True`` additionally merges runs of small
        files the source has NEVER LISTED (absent from the whole
        offset log, not merely uncommitted) — the slow-consumer
        unbounded-small-file hole delete-only mode leaves open. Safe
        against redelivery/skips by construction (the source has no
        memory of the old names; every row lands in the merged file,
        which the source discovers as a brand-new file), but ONLY when
        no listing can race the merge: the source lists between
        micro-batches, so the supported call site is inside
        ``foreachBatch`` (``StreamingConsumer(compact_every_batches=N)``
        does exactly this) or while the query is stopped. A concurrent
        listing could otherwise observe a just-listed file being
        removed and fail that batch's read.

        Returns the number of files after compaction.
        """
        self._check_open()
        if not force and self._stream_attached():
            ckpt = stream_checkpoint
            if ckpt is None:
                ckpt = os.path.join(self._storage.path, "checkpoint")
                if not os.path.isdir(ckpt):
                    # no default checkpoint: an attached stream may be
                    # using a REGISTERED external one — parse it when
                    # it is unambiguous (one live dir); several live
                    # external checkpoints violate the 1-consumer
                    # contract, so fall through to the skip+warn below
                    live = [
                        p
                        for p in sorted(
                            self._external_stream_checkpoints
                            | set(
                                self._storage
                                .registered_stream_checkpoints()
                            )
                        )
                        if os.path.isdir(p)
                    ]
                    if len(live) == 1:
                        ckpt = live[0]
            sets = (
                _parse_stream_file_sets(ckpt)
                if os.path.isdir(ckpt) else None
            )
            committed = None if sets is None else sets[0]
            if committed is None:
                self.last_compact_skipped = True
                log.warning(
                    "compact() skipped on %s: streaming reader attached "
                    "(pins=%d) and no parseable checkpoint at %s. The "
                    "log grows until the stream and its checkpoint are "
                    "gone; pass stream_checkpoint= for an external "
                    "checkpoint, or force=True if no stream can resume.",
                    self._storage.path, self._compaction_pins, ckpt,
                )
                return len(self._storage.list_batches())
            return self._compact_stream_safe(
                committed,
                discovered_basenames=(
                    sets[1] if merge_undiscovered else None
                ),
                small_file_rows=small_file_rows,
                target_file_rows=target_file_rows,
            )
        self.last_compact_skipped = False
        import pyarrow.compute as pc

        with self._storage.lock:
            # never touch files at/beyond the writer position: those
            # rows are un-flipped (uncommitted) writes that open-time
            # recovery truncates
            next_seq = self._storage.next_seq()
            batches = [
                b for b in self._storage.list_batches()
                if b[0] < next_seq
            ]
            if not batches:
                return 0
            acked = int(self._storage.consumer_state()["acked_seq"])
            max_seq = max(end for _, end, _ in batches)
            now = _now_ms()

            def vacuumable(path: str) -> bool:
                # one-column read; vectorized count of 0 <= exp <= now
                if expired_rewrite_fraction >= 1.0:
                    return False
                col = read_log_file(path, ["expires_at"]).column(
                    "expires_at"
                )
                if len(col) == 0:
                    return False
                expired = pc.sum(
                    pc.cast(
                        pc.and_(pc.greater_equal(col, 0),
                                pc.less_equal(col, now)),
                        pa.int64(),
                    )
                ).as_py() or 0
                return expired / len(col) >= expired_rewrite_fraction

            def classify(start: int, end: int, path: str) -> str:
                if end <= acked and end != max_seq:
                    return "drop"  # fully consumed
                if start <= acked:
                    return "rewrite"  # straddles acked: shed its consumed rows
                if end - start + 1 < small_file_rows:
                    return "small"  # clean: merged or kept by size tier below
                # large, fully unconsumed: keep — unless mostly dead
                # (TTL churn), then reclaim the space now instead of
                # waiting for the consumer to pass it
                return "rewrite" if vacuumable(path) else "keep"

            def tier_start(run: list[tuple[int, int, str]]) -> int:
                # index of the oldest file in the newest size tier of a
                # run of clean small files (see the docstring), or
                # len(run) when that tier is a single file
                total, k = 0, len(run)
                while k:
                    rows = run[k - 1][1] - run[k - 1][0] + 1
                    if total and rows > 2 * total:
                        break
                    total += rows
                    k -= 1
                return k if len(run) - k >= 2 else len(run)

            kinds = [classify(*b) for b in batches]
            # tier each maximal run of clean small files; a small file
            # the tier keeps still gets the expired-fraction check, so
            # TTL vacuuming reaches it as it reaches large files
            i = 0
            while i < len(batches):
                if kinds[i] != "small":
                    i += 1
                    continue
                j = i
                while j < len(batches) and kinds[j] == "small":
                    j += 1
                first = i + tier_start(batches[i:j])
                for m in range(i, j):
                    kinds[m] = (
                        "rewrite"
                        if m >= first or vacuumable(batches[m][2])
                        else "keep"
                    )
                i = j

            # group adjacent rewrite files into runs so merged chunks
            # never overlap kept files' seq ranges
            runs: list[list[tuple[int, int, str]]] = [[]]
            to_remove: list[str] = []
            n_kept = 0
            for batch, kind in zip(batches, kinds):
                if kind == "drop":
                    to_remove.append(batch[2])
                elif kind == "keep":
                    n_kept += 1
                    if runs[-1]:
                        runs.append([])
                else:
                    runs[-1].append(batch)

            staged: list[str] = []
            new_files = 0
            for run in runs:
                if not run:
                    continue
                tables = []
                for start, end, path in run:
                    t = self._read_canonical(path)
                    exp_col = t.column("expires_at")
                    # filter only when a row can go: the file holds
                    # consumed rows or some row carries a TTL
                    exp_max = pc.max(exp_col).as_py()
                    if start <= acked or (
                        exp_max is not None and exp_max >= 0
                    ):
                        seq_col = t.column("seq")
                        alive = pc.or_(pc.less(exp_col, 0),
                                       pc.greater(exp_col, now))
                        keep_mask = pc.or_(
                            pc.and_(pc.greater(seq_col, acked), alive),
                            pc.equal(seq_col, max_seq),
                        )
                        t = t.filter(keep_mask)
                    if t.num_rows:
                        tables.append(t)
                    to_remove.append(path)
                if not tables:
                    continue
                merged = self._concat_for_merge(tables).sort_by("seq")
                seqs = merged.column("seq").to_pylist()
                for off in range(0, merged.num_rows, target_file_rows):
                    chunk = merged.slice(off, target_file_rows)
                    s = seqs[off]
                    e = seqs[min(off + target_file_rows,
                                 merged.num_rows) - 1]
                    # .tmp -> .compact rename marks the staged file
                    # COMPLETE: recovery may only ever commit complete
                    # staged files (storage.recover)
                    staged_path = self._storage.batch_path(s, e) + ".compact"
                    # byte-bounded row groups so every later reader
                    # (pyarrow chunk-per-row-group, Spark's vectorized
                    # batches) materializes bounded memory per chunk;
                    # the large_offset arrow metadata rides along and
                    # casts back down chunk-wise for the same reason
                    pq.write_table(chunk, staged_path + ".tmp",
                                   compression=self.codec.parquet_codec,
                                   row_group_size=bounded_row_group_rows(
                                       chunk))
                    if self._storage.control_sync:
                        # power-loss chain (r19): the manifest below
                        # is written fsynced and durably AUTHORIZES
                        # deleting the originals — the staged bytes
                        # must be on the platter first, or a power
                        # loss after the olds vanish replays a torn
                        # chunk over the only copy of committed rows
                        fsync_path(staged_path + ".tmp")
                    os.replace(staged_path + ".tmp", staged_path)
                    staged.append(staged_path)
                    new_files += 1
            # commit protocol, crash-safe at every instant:
            #   1. atomically write compact-commit.json naming the staged
            #      files and the olds to delete (the manifest IS the
            #      commit point — without it a crash leaves only complete
            #      .compact files and recover()'s overlap rule finishes);
            #   2. remove superseded olds;
            #   3. rename staged .compact files into place;
            #   4. remove the manifest.
            # A crash anywhere in 2-4 is replayed by recover() from the
            # manifest (rename-if-exists + delete-if-exists is
            # idempotent). Every row exists in a committed or
            # complete-staged file at every instant.
            committed_targets = {
                s[: -len(".compact")] for s in staged
            }
            # a staged file may replace an old file of the same
            # range/name in place — never remove what was just committed
            removals = [
                p for p in to_remove if p not in committed_targets
            ]
            if staged or removals:
                if staged and self._storage.control_sync:
                    # the staged RENAMES must be durable before the
                    # manifest names them (fsynced content behind a
                    # non-durable rename is not a durable .compact)
                    fsync_path(self._storage.data_dir)
                write_json_atomic(
                    self._storage.compact_manifest_path,
                    {"staged": staged, "remove": removals},
                )
            # olds out BEFORE staged files take their final names —
            # same visibility order as _merge_undiscovered and
            # recover()'s replay (r16 review): a lock-free streaming
            # listing that catches the in-between state must see
            # NEITHER copy of a row (it surfaces next batch), never
            # BOTH (double delivery). Full-mode compact only runs with
            # no tracked stream attached, but an untracked external
            # reader gets the same guarantee for free by ordering.
            for path in removals:
                if os.path.exists(path):
                    os.remove(path)
            for staged_path in staged:
                os.replace(staged_path, staged_path[: -len(".compact")])
            if staged or removals:
                if self._storage.control_sync:
                    # cross-directory metadata can persist out of
                    # order: the manifest unlink (queue root) must not
                    # hit the platter before the data-dir renames and
                    # removals it records — or a power loss leaves
                    # "no manifest, olds gone, rows still .compact",
                    # which no recovery tier is contracted to commit
                    fsync_path(self._storage.data_dir)
                os.remove(self._storage.compact_manifest_path)
            self._storage.drop_row_cache()
            self._batch_files_estimate = new_files + n_kept
            return new_files + n_kept

    def _read_canonical(self, path: str) -> pa.Table:
        """One log file in the canonical log schema's column order.
        Format-v1 files predate codec_id: backfill it with the
        queue-level codec (exactly the old implicit semantics) so old
        logs compact instead of raising."""
        t = read_log_file(path)
        if "codec_id" not in t.column_names:
            t = t.append_column(
                pa.field("codec_id", pa.int32(), nullable=False),
                pa.array([self.codec.id] * t.num_rows, type=pa.int32()),
            )
        return t.select(arrow_schema(self.schema).names)

    def _concat_for_merge(self, tables: list[pa.Table]) -> pa.Table:
        """Concatenate log tables in 64-bit-offset arrow types: a merge
        can hold far more than the 2 GiB a 32-bit binary/string offset
        array addresses (r13 big-file evidence run: 2100 x 1 MiB rows
        crashed concat+sort here). The cast also normalizes
        provenance: Spark-written bulk files mark payload fields
        nullable while the pyarrow push path writes them non-null, and
        concat of mixed schemas would fail. One cast per run of
        same-schema tables, not one per file — a merge of many
        single-record files is otherwise mostly per-file overhead."""
        merge_schema = large_offset_schema(arrow_schema(self.schema))
        groups: list[list[pa.Table]] = []
        for t in tables:
            if groups and groups[-1][0].schema.equals(t.schema):
                groups[-1].append(t)
            else:
                groups.append([t])
        return pa.concat_tables(
            [pa.concat_tables(g).cast(merge_schema) for g in groups]
        )

    def _compact_stream_safe(
        self,
        committed_basenames: set[str],
        discovered_basenames: set[str] | None = None,
        small_file_rows: int = 65_536,
        target_file_rows: int = 1_000_000,
    ) -> int:
        """Restricted compaction while a stream is attached: delete —
        never rewrite — whole files the stream source has committed
        (see :meth:`compact`). The max-seq file is always retained so
        ``latest`` survives; the ack pointer advances over the
        contiguous deleted prefix so ``size()``/capacity track stream
        consumption (the stream is the consumer of record).

        With ``discovered_basenames`` (the merge-undiscovered mode):
        additionally merge adjacent runs of small files the source has
        never listed into target-sized files — a slow consumer no
        longer accumulates unread small files without bound. Pure
        physical concatenation: no row is dropped or re-keyed, so the
        merged file is byte-for-byte the same row set under a name the
        source has never seen. Ordering makes the transition
        listing-safe even mid-crash: staged file completed first
        (invisible to the ``batch-*.parquet`` glob), then manifest,
        then originals removed, then the staged file renamed in — at
        every instant the source sees either the originals or (after
        a recovery replay) the merged file, never both.
        """
        self.last_compact_skipped = False
        with self._storage.lock:
            next_seq = self._storage.next_seq()
            batches = [
                b for b in self._storage.list_batches()
                if b[0] < next_seq
            ]
            if not batches:
                return 0
            max_seq = max(end for _, end, _ in batches)
            removals: list[tuple[int, str]] = []
            for start, end, path in batches:
                if end == max_seq:
                    continue  # latest-survives parity
                if os.path.basename(path) in committed_basenames:
                    removals.append((end, path))
            if removals:
                removed_paths = {p for _, p in removals}
                # same crash-safe manifest protocol as full compaction,
                # remove-only (recover() replays deletions idempotently)
                write_json_atomic(
                    self._storage.compact_manifest_path,
                    {"staged": [], "remove": sorted(removed_paths)},
                )
                for _, path in removals:
                    if os.path.exists(path):
                        os.remove(path)
                os.remove(self._storage.compact_manifest_path)
                remaining = [
                    b for b in batches if b[2] not in removed_paths
                ]
                # contiguous prefix below the first surviving file is
                # gone from disk AND stream-committed -> consumed
                candidate = (
                    remaining[0][0] - 1 if remaining
                    else max(end for end, _ in removals)
                )
                state = self._storage.consumer_state()
                if candidate > int(state["acked_seq"]):
                    state["acked_seq"] = candidate
                    # passed-seq error entries are pruned centrally by
                    # set_consumer_state (r16: one home for the
                    # invariant, not three)
                    self._storage.set_consumer_state(state)
            else:
                remaining = list(batches)
            if discovered_basenames is not None:
                remaining = self._merge_undiscovered(
                    remaining, max_seq, discovered_basenames,
                    small_file_rows, target_file_rows,
                )
            self._storage.drop_row_cache()
            self._batch_files_estimate = len(remaining)
            return len(remaining)

    def _merge_undiscovered(
        self,
        batches: list[tuple[int, int, str]],
        max_seq: int,
        discovered_basenames: set[str],
        small_file_rows: int,
        target_file_rows: int,
    ) -> list[tuple[int, int, str]]:
        """Merge adjacent runs of small never-listed files (caller
        holds the storage lock; see ``_compact_stream_safe``)."""

        def mergeable(start: int, end: int, path: str) -> bool:
            return (
                end != max_seq  # latest-survives parity
                and (end - start + 1) < small_file_rows
                and os.path.basename(path) not in discovered_basenames
            )

        adjacent: list[list[tuple[int, int, str]]] = [[]]
        for b in batches:
            if mergeable(*b):
                adjacent[-1].append(b)
            elif adjacent[-1]:
                adjacent.append([])
        out = [
            b for b in batches
            if not mergeable(*b)
        ]
        # chunk at FILE boundaries, never mid-file: a staged chunk then
        # always fully contains every original it overlaps, which is
        # exactly the containment condition storage.recover()'s
        # manifest-less rule needs to COMMIT a chunk that crashed
        # pre-manifest (a mid-file boundary would make the straddling
        # original partially overlap and force recovery to discard the
        # work; aligned chunks make every crash point land on either
        # "originals intact" or "chunk commits cleanly")
        runs: list[list[tuple[int, int, str]]] = []
        for group in adjacent:
            if len(group) < 2:
                out.extend(group)
                continue
            cur: list[tuple[int, int, str]] = []
            rows = 0
            local: list[list[tuple[int, int, str]]] = []
            for b in group:
                n = b[1] - b[0] + 1
                # flush only when the chunk already has >= 2 files: a
                # chunk of one merges nothing, so allow target
                # overshoot rather than strand singles (which would
                # also disable merging entirely whenever
                # target < 2x the small-file size)
                if len(cur) >= 2 and rows + n > target_file_rows:
                    local.append(cur)
                    cur, rows = [], 0
                cur.append(b)
                rows += n
            if len(cur) == 1 and local:
                # fold a trailing single into the previous chunk
                # instead of leaving one permanently-unmerged file
                local[-1].extend(cur)
            elif cur:
                local.append(cur)
            runs.extend(local)
        for run in runs:
            if len(run) < 2:
                out.extend(run)  # a chunk of one merges nothing
                continue
            merged = self._concat_for_merge(
                [self._read_canonical(p) for _, _, p in run]
            ).sort_by("seq")
            s = run[0][0]
            e = run[-1][1]
            staged_path = self._storage.batch_path(s, e) + ".compact"
            pq.write_table(merged, staged_path + ".tmp",
                           compression=self.codec.parquet_codec,
                           row_group_size=bounded_row_group_rows(merged))
            if self._storage.control_sync:
                # power-loss chain (r19, same as compact()): staged
                # bytes and their rename must be durable before the
                # fsynced manifest authorizes deleting the originals
                fsync_path(staged_path + ".tmp")
            os.replace(staged_path + ".tmp", staged_path)
            if self._storage.control_sync:
                fsync_path(self._storage.data_dir)
            originals = [p for _, _, p in run]
            write_json_atomic(
                self._storage.compact_manifest_path,
                {"staged": [staged_path], "remove": originals},
            )
            # originals out BEFORE the merged name appears: a listing
            # in the gap sees neither (rows simply surface one batch
            # later); seeing both would double-deliver
            for path in originals:
                if os.path.exists(path):
                    os.remove(path)
            os.replace(staged_path, staged_path[: -len(".compact")])
            if self._storage.control_sync:
                # renames/removals durable before the manifest unlink
                # can persist (cross-directory reordering)
                fsync_path(self._storage.data_dir)
            os.remove(self._storage.compact_manifest_path)
            out.append((s, e, staged_path[: -len(".compact")]))
        return sorted(out)

    def replay_dlq(self) -> int:
        """Re-ingest dead-lettered records as fresh pushes — completes
        the poison-pill story (the reference silently discards,
        JournaledFile.scala:250-256; we dead-letter on ``error_permit``
        and can now send records back for another delivery attempt).

        Per DLQ file, one vectorized append: expired rows are dropped
        (pyarrow.compute filter), original ``expires_at`` deadlines are
        preserved (same instant as re-deriving the remaining TTL), the
        error count resets (fresh seq), and the whole surviving set is
        re-committed as a single batch file — no per-record Python loop
        and no per-record control-file flip. A DLQ file is removed only
        AFTER its records are re-committed (partial admission at
        capacity rewrites the file with just the remainder), so a crash
        mid-replay can at worst redeliver — the same at-least-once
        contract as ``consume``. Stops early (returning the partial
        count) when the queue hits capacity.

        Returns the number of records re-ingested.
        """
        self._check_open()
        import pyarrow.compute as pc

        canonical = arrow_schema(self.schema)
        replayed = 0
        with self._storage.lock:
            dlq_dir = self._storage.dlq_dir
            if not os.path.isdir(dlq_dir):
                return 0
            names = sorted(
                n for n in os.listdir(dlq_dir)
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            )
            for name in names:
                path = os.path.join(dlq_dir, name)
                t = read_log_file(path)
                now = _now_ms()
                exp = t.column("expires_at")
                t = t.filter(
                    pc.or_(pc.less(exp, 0), pc.greater(exp, now))
                ).sort_by("seq")
                if t.num_rows == 0:
                    os.remove(path)
                    continue
                next_seq = self._storage.next_seq()
                acked = int(self._storage.consumer_state()["acked_seq"])
                room = self.capacity - ((next_seq - 1) - acked)
                admit = min(room, t.num_rows)
                if admit > 0:
                    chunk = t.slice(0, admit)
                    # preserve each record's ORIGINAL publisher codec
                    # (r16 review): re-stamping with the queue-level
                    # codec silently rewrote a GZIP publisher's
                    # records as PLAIN on replay — codec_id is the
                    # per-record parity surface that dump/inspect and
                    # the reference-format export assign from.
                    # Pre-codec_id DLQ files backfill with the
                    # queue-level codec, the old implicit semantics
                    # (same rule as compact()).
                    if "codec_id" in chunk.column_names:
                        codec_col = chunk.column("codec_id").cast(
                            pa.int32()
                        )
                    else:
                        codec_col = pa.array(
                            [self.codec.id] * admit, type=pa.int32()
                        )
                    cols: list[pa.Array | pa.ChunkedArray] = [
                        pa.array(
                            range(next_seq, next_seq + admit),
                            type=pa.int64(),
                        ),
                        pa.array([now] * admit, type=pa.int64()),
                        chunk.column("expires_at").cast(pa.int64()),
                        codec_col,
                    ]
                    for cname in self.schema.column_names:
                        cols.append(chunk.column(cname))
                    batch = pa.table(
                        dict(zip(canonical.names, cols))
                    ).cast(canonical)
                    self._storage.write_batch(
                        batch, next_seq, next_seq + admit - 1,
                        self.codec.parquet_codec,
                        flip_to=next_seq + admit,
                    )
                    if self._batch_files_estimate is not None:
                        self._batch_files_estimate += 1
                    replayed += admit
                if admit >= t.num_rows:
                    os.remove(path)
                elif admit == 0:
                    break  # no room at all; file already holds the rest
                else:
                    # capacity: durably shrink the file to the remainder
                    # BEFORE returning (write-then-rename; a crash in
                    # between redelivers the admitted rows — at least
                    # once, never lost). Power-loss ordering (r20, found
                    # by the journal-replay harness's first dlq_replay
                    # sweep): in fsync mode the remainder BYTES must be
                    # on the platter before the rename — a persisted
                    # rename over unsynced content garbages the ONLY
                    # copy of the un-admitted rows (the admitted ones
                    # are already durably re-committed; these are not).
                    # The trailing dir fsync makes the shrink itself
                    # durable, honoring "durably ... BEFORE returning";
                    # a reverted rename alone would only re-deliver.
                    remainder = t.slice(admit)
                    tmp = path + ".tmp"
                    pq.write_table(remainder, tmp)
                    if self._storage.control_sync:
                        fsync_path(tmp)
                    os.replace(tmp, path)
                    if self._storage.control_sync:
                        fsync_path(dlq_dir)
                    break
        return replayed

    def vacuum_expired(self) -> None:
        """Drop expired rows eagerly (compaction purge, SURVEY §2.3 TTL)."""
        self.compact()

    def verify(self) -> None:
        """Walk the log asserting seq continuity and filename ranges
        (JournaledFile.verify, JournaledFile.scala:454-464)."""
        self._check_open()

        with self._storage.lock:
            # a dead compactor's half-done commit is not log damage —
            # finish it first (r17, like every other read path), or a
            # torn-but-recoverable state reads as missing rows
            self._storage.replay_pending_compaction()
            # raw view: verify is the place that must SEE an
            # uncommitted leftover to report it (readers filter it)
            batches = self._storage.list_batches(
                include_uncommitted=True
            )
            next_seq = self._storage.next_seq()
            prev_end = None
            for start, end, path in batches:
                t = read_log_file(path, ["seq"])
                seqs = sorted(t.column("seq").to_pylist())
                if not seqs:
                    raise FormatException(f"empty batch file: {path}")
                if seqs[0] < start or seqs[-1] > end:
                    raise FormatException(
                        f"seq out of filename range in {path}: "
                        f"[{seqs[0]},{seqs[-1]}] vs [{start},{end}]"
                    )
                # gaps are legal (vacuumed TTL rows); duplicates are not
                if len(set(seqs)) != len(seqs):
                    raise FormatException(f"duplicate seq within {path}")
                if prev_end is not None and start <= prev_end:
                    raise FormatException(
                        f"overlapping batch ranges at {path}"
                    )
                prev_end = end
                if end >= next_seq:
                    raise FormatException(
                        f"batch {path} beyond writer position {next_seq}"
                    )

    def dump(self, limit: int = 50) -> str:
        """Human-readable listing (JournaledFile.dump, :586-611)."""
        self._check_open()
        with self._storage.lock:
            acked = int(self._storage.consumer_state()["acked_seq"])
            lines = [
                f"queue {self._storage.path}: schema={self.schema} "
                f"capacity={self.capacity} codec={self.codec.name} "
                f"size={self.size()} acked_seq={acked}"
            ]
            n = 0
            for row in self._storage.iter_rows(acked):
                if n >= limit:
                    lines.append("  ...")
                    break
                payload = {k: v for k, v in row.items()
                           if k not in SYSTEM_COLUMNS}
                lines.append(
                    f"  seq={row['seq']} created_at={row['created_at']} "
                    f"expires_at={row['expires_at']} {payload}"
                )
                n += 1
        return "\n".join(lines)

    def inspect(self) -> tuple[int, int, int]:
        """(entry_count, total_bytes, max_file_bytes) — the reference's
        only aggregation (JournaledFile.inspect, :472-483)."""
        self._check_open()

        # snapshot the listing under the lock (its embedded next_seq()
        # read can invoke _repair_next_seq's control-file write, which
        # must not run unlocked — r16 review), but read footers
        # OUTSIDE it: batch files are rename-published so an unlocked
        # footer read is never torn, and holding the cross-process
        # flock across O(files) I/O would stall every concurrent
        # push/pop for the whole scan. A sibling's compaction racing
        # the unlocked reads deletes a listed file -> retry with a
        # fresh snapshot (bounded: compaction converges, it doesn't
        # churn forever on an otherwise idle queue).
        for _ in range(8):
            with self._storage.lock:
                batches = self._storage.list_batches()
            count, total, biggest = 0, 0, 0
            try:
                for _, _, path in batches:
                    count += pq.read_metadata(path).num_rows
                    sz = os.path.getsize(path)
                    total += sz
                    biggest = max(biggest, sz)
            except (FileNotFoundError, OSError):
                continue
            return count, total, biggest
        raise FormatException(
            "inspect() could not obtain a stable file listing after "
            "8 attempts: continuous concurrent compaction"
        )

    def aggregate(self, zero: Any, f: Callable[[Any, tuple[Any, ...]], Any]) -> Any:
        """Fold over all pending records in FIFO order (the generic
        traversal primitive, JournaledFile.aggregate :530-544).

        Driver-side; for distributed folds use ``read_pending`` and a
        DataFrame aggregation.
        """
        self._check_open()
        acc = zero
        # hold the storage lock across the traversal (as dump does):
        # released, a sibling process's auto-compact could delete a
        # listed batch file mid-iteration and crash the fold even
        # though every row still exists in the merged file (r13
        # review). The flock is reentrant per-thread, so ``f`` may
        # still use this queue from the calling thread.
        with self._storage.lock:
            acked = int(self._storage.consumer_state()["acked_seq"])
            for row in self._storage.iter_rows(acked):
                record = _record_from_row(self.schema, row)
                acc = f(acc, record)
        return acc

    def foreach(self, f: Callable[[tuple[Any, ...]], None]) -> None:
        """Visit all pending records (JournaledFile.foreach :551-553)."""
        self.aggregate(None, lambda _, rec: f(rec))

    def typed(self, converter) -> "Any":
        """Queue[T] facade via a Value2Struct-style converter
        (Queue.scala:301-307); see quebic_spark.queue.typed."""
        from quebic_spark.queue.typed import TypedQueue

        return TypedQueue(self, converter)

    # -- Spark integration ---------------------------------------------------
    def spark_schema_ddl(self) -> str:
        return spark_ddl(self.schema)

    def read_pending(self, spark) -> "Any":
        """All unconsumed records as a DataFrame, FIFO-ordered by ``seq``.

        Only files whose range exceeds the ack pointer are read
        (filename-range pruning = partition pruning at scale); the TTL
        filter mirrors consume-time expiry.

        The returned DataFrame is LAZY over concrete file paths
        resolved now: materialize it promptly, or hold
        :meth:`Queue.pin_compaction` across its lifetime — a
        compaction in the meantime (including a sibling push's
        auto-compact) may merge and delete a listed file, and the
        deferred Spark scan then fails loud on the missing path even
        though every row survives under the merged name (r16 review;
        the streaming source pins for exactly this reason). Loud, not
        wrong: rows are never silently dropped or doubled.
        """
        self._check_open()
        from pyspark.sql import functions as F

        with self._storage.lock:
            acked = int(self._storage.consumer_state()["acked_seq"])
            files = [p for _, _, p in self._storage.batches_after(acked)]
        if not files:
            return (
                spark.createDataFrame([], schema=self.spark_schema_ddl())
            )
        return self.live_codec_view(
            spark.read.schema(self.spark_schema_ddl()).parquet(*files)
            .filter(F.col("seq") > acked),
            F.lit(_now_ms()),
        )

    def live_codec_view(self, df, now_expr):
        """The TTL filter + format-v1 codec_id backfill every read
        path applies — ONE home (r16 review: read_pending and
        read_queue_stream carried hand-synced copies of these three
        expressions, the divergence-waiting-to-happen class).
        ``now_expr`` is a Column so batch reads pass a literal
        snapshot clock while streams pass current_timestamp (which
        re-evaluates per micro-batch)."""
        from pyspark.sql import functions as F

        return df.filter(
            (F.col("expires_at") < 0) | (F.col("expires_at") > now_expr)
        ).withColumn(
            # format-v1 files lack codec_id on disk and scan as NULL;
            # the queue-level codec is the old implicit semantics
            "codec_id",
            F.coalesce(F.col("codec_id"), F.lit(self.codec.id)),
        )

    def append_dataframe(self, df, order_by: Sequence[str],
                         lifetime_ms: int = -1,
                         small_batch_rows: int = SMALL_BATCH_ROWS,
                         durable: bool | None = None,
                         staged_hook: Callable[[int], None]
                         | None = None) -> int:
        """Bulk FIFO ingestion from a Spark DataFrame.

        ``order_by`` defines the FIFO order of this batch (global seq is
        single-writer, like the reference's 1-producer contract). The
        payload columns must match the queue schema positionally;
        further columns are allowed ONLY if they are all ``order_by``
        keys — auxiliary order columns (e.g. a migration's explicit
        position) that are dropped from the stored payload.

        Scale note: above ``small_batch_rows``, global seq assignment
        does NOT use a partition-less window (which would funnel every
        row through one reducer). Rows are range-partitioned on the
        order keys, ranked within each partition, and offset by
        per-partition counts gathered in one tiny driver aggregation —
        the classic scalable global row-number. At or below the cutoff
        a single-reducer global window is cheaper than the extra jobs
        (this is the source of Spark's "WindowExec: No Partition
        Defined" warning — expected, and bounded by the cutoff). The
        path is chosen without running a job, from the row count
        Catalyst's statistics give for ``df`` (``estimated_rows``: the
        exact count where Spark knows it, else a size-based estimate;
        a frame Spark cannot size takes the scalable path). Pass
        ``small_batch_rows=0`` to force the scalable path.

        The only Spark action is the staged write itself (the
        scalable path adds its partition-count aggregation). The
        committed row count and ``next_seq`` come from the STAGED
        output's Parquet footers, never from a separate evaluation of
        ``df`` — a nondeterministic source (sample/rand/shuffle-
        dependent input) may change cardinality between evaluations.
        The staged parts must tile one contiguous seq range or the call
        fails with nothing published. Capacity is enforced on the
        staged rows, before any file is committed; an over-capacity
        call still pays for its write. Zero staged rows return 0 with
        nothing published and no ``staged_hook`` call.

        Crash semantics: the ingest is NOT atomic. In the default
        mode the pointer flips before the parts publish (ascending
        seq order), so a crash mid-publish commits a FIFO PREFIX of
        this batch and gaps the rest — at-least-once, like any
        producer crash; a retry may re-ingest rows the crashed call
        already committed. In ``fsync=True`` mode the order inverts
        (durable data, then the fsynced pointer as the commit
        record), so a crash instead leaves unpublished parts that
        readers never see. Callers needing all-or-nothing should
        ingest into a fresh queue and swap directories.

        ``durable`` overrides the queue's ``fsync`` mode for THIS call
        only: ``True`` forces the all-or-nothing publish-then-flip
        ordering (the pointer flip is then an atomic commit record —
        what ``queue_sink``'s exactly-once protocol relies on),
        ``False`` forces the default prefix-committing order, ``None``
        (default) keeps the queue's configured mode.

        ``staged_hook`` (transactional-sink hook, r20): called with the
        FINAL staged row count after the staged output is counted and
        capacity-checked but BEFORE any part is published or the
        pointer flips — i.e. before anything this call does becomes
        visible. A caller that durably records that count can later
        prove, from the pointer alone, whether a crashed call's commit
        happened (``queue_sink``'s provable replay attribution). Runs
        under the queue flock; exceptions abort the ingest with
        nothing published. Not called when zero rows are staged.
        """
        if durable is None or durable == self._storage.control_sync:
            return self._append_dataframe_impl(
                df, order_by, lifetime_ms, small_batch_rows, staged_hook
            )
        # Per-call ordering override. Every consult of control_sync —
        # the publish-order branch below AND set_next_seq's fsync —
        # happens under this flock (re-entrant, so the impl's own
        # acquisition nests), so the toggle cannot leak into a
        # concurrent writer in this process; other processes have
        # their own storage objects and flags.
        with self._storage.lock:
            prev = self._storage.control_sync
            self._storage.control_sync = durable
            try:
                return self._append_dataframe_impl(
                    df, order_by, lifetime_ms, small_batch_rows,
                    staged_hook
                )
            finally:
                self._storage.control_sync = prev

    def _append_dataframe_impl(self, df, order_by: Sequence[str],
                               lifetime_ms: int,
                               small_batch_rows: int,
                               staged_hook: Callable[[int], None]
                               | None = None) -> int:
        self._check_open()
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        cols = self.schema.column_names
        # the first len(cols) df columns are the payload (positional);
        # any FURTHER columns are auxiliary ORDER KEYS only — they
        # define this batch's FIFO order and are dropped from the
        # stored payload (r10: lets a migration replay an explicit
        # position column without widening the queue schema)
        extra_srcs = list(df.columns[len(cols):])
        if len(df.columns) < len(cols) or not (
            set(extra_srcs) <= set(order_by)
        ):
            from quebic_spark.errors import IncompatibleSchemaException

            raise IncompatibleSchemaException(
                f"dataframe arity {len(df.columns)} != schema "
                f"{len(cols)} (columns beyond the payload must all be "
                f"order_by keys; extras={extra_srcs}, "
                f"order_by={list(order_by)})"
            )
        one_partition = fits_one_partition(df, small_batch_rows)
        with self._storage.lock:
            start = self._storage.next_seq()
            pushed = start - 1
            acked = int(self._storage.consumer_state()["acked_seq"])
            room = self.capacity - (pushed - acked)
            now = _now_ms()
            exp = _expires_at(lifetime_ms)
            # rename payload positionally to c0..cN first; order keys
            # follow their columns through the rename, and auxiliary
            # order-only columns ride along under their own names
            # (both staged paths project the payload columns only)
            payload_srcs = list(df.columns[: len(cols)])
            renamed = df.select(
                *[
                    F.col(orig).alias(new)
                    for orig, new in zip(payload_srcs, cols)
                ],
                *[F.col(e) for e in extra_srcs],
            )
            name_map = dict(zip(payload_srcs, cols))
            name_map.update({e: e for e in extra_srcs})
            order_cols = [F.col(name_map[c]) for c in order_by]
            system_meta = [
                F.lit(now).cast("long").alias("created_at"),
                F.lit(exp).cast("long").alias("expires_at"),
                F.lit(self.codec.id).cast("int").alias("codec_id"),
            ]
            parts = None
            if one_partition:
                # small batch: a single-reducer global window is cheaper
                # than the extra jobs of the scalable path
                w = Window.orderBy(*order_cols)
                staged = renamed.select(
                    (F.row_number().over(w) + F.lit(start - 1))
                    .cast("long")
                    .alias("seq"),
                    *system_meta,
                    *cols,
                )
            else:
                # scalable global seq: ONE shuffle (range partition by
                # the order keys), sort within partitions, then assign
                # seq positionally per partition via mapInPandas with
                # per-partition offsets from one tiny driver agg — no
                # single reducer, no second shuffle, and each output
                # partition holds a contiguous disjoint seq range
                parts = (
                    renamed.repartitionByRange(*order_cols)
                    .sortWithinPartitions(*order_cols)
                    .withColumn("_pid", F.spark_partition_id())
                    # persist: range boundaries are sampled, so a second
                    # evaluation could assign rows differently than the
                    # count pass observed
                    .persist()
                )
                counts = {
                    r["_pid"]: r["cnt"]
                    for r in parts.groupBy("_pid").agg(
                        F.count(F.lit(1)).alias("cnt")
                    ).collect()
                }
                offsets, acc = {}, 0
                for pid in sorted(counts):
                    offsets[pid] = acc
                    acc += counts[pid]
                seq_base = start
                codec_id = self.codec.id

                def number_partition(batches):
                    pos = 0
                    for pdf in batches:
                        if len(pdf) == 0:
                            continue
                        off = offsets[int(pdf["_pid"].iloc[0])]
                        first = seq_base + off + pos
                        out = pdf[list(cols)].copy()
                        out.insert(0, "codec_id", codec_id)
                        out.insert(0, "expires_at", exp)
                        out.insert(0, "created_at", now)
                        out.insert(0, "seq",
                                   range(first, first + len(pdf)))
                        pos += len(pdf)
                        yield out

                staged = parts.mapInPandas(
                    number_partition, self.spark_schema_ddl()
                )
            staging = os.path.join(self._storage.path,
                                   f"_staging-{start:020d}")
            try:
                staged.write.mode("overwrite").parquet(
                    staging, compression=self.codec.parquet_codec
                )
            finally:
                if parts is not None:
                    parts.unpersist()
            # commit: move part files into the log with their seq ranges.
            # The staged output is the source of truth for how many rows
            # were actually written — check its tiling and capacity
            # against it, and only then rename anything (abort = rmtree,
            # nothing leaks).
            try:
                ranges, actual = staged_seq_ranges(staging, start)
            except BaseException:
                shutil.rmtree(staging, ignore_errors=True)
                raise
            if actual == 0 or actual > room:
                shutil.rmtree(staging, ignore_errors=True)
                if actual == 0:
                    return 0
                raise ValueError(
                    f"capacity exceeded: {actual} rows staged, room {room}"
                )
            if staged_hook is not None:
                # the staged count is final here and nothing is
                # published yet: whatever the hook records is durable
                # BEFORE the first visible effect of this call
                staged_hook(actual)
            # pre-commit orphan sweep — forced: the bulk path is
            # heavyweight, so it always pays the listdir and clears
            # any leftover at/beyond `start` regardless of trigger
            self._storage.maybe_sweep_orphans(start, force=True)
            if self._storage.control_sync:
                # opt-in durability: data -> directory -> pointer.
                # The commit record (the fsynced flip) must come
                # LAST, after the part bytes and their renames are
                # durable — the reverse order could ack rows whose
                # bytes never hit the platter (r13 review). A crash
                # BEFORE the flip leaves parts at/beyond the pointer:
                # invisible to readers (committed view) and swept at
                # the next open or commit.
                #
                # Sweep-intent marker FIRST: a SIGKILL anywhere in the
                # publish window leaves real batch files at/beyond a
                # pointer that never moved, which the pointer-moved
                # trigger in a surviving process cannot see (r13
                # advisor); the marker makes the next commit sweep
                # regardless. Cleared only after the flip.
                self._storage.mark_sweep_intent()
                published: list[str] = []
                try:
                    for part, _s, _e in ranges:
                        fsync_path(part)
                    for part, s, e in ranges:
                        dst = self._storage.batch_path(s, e)
                        os.replace(part, dst)
                        published.append(dst)
                    fsync_path(self._storage.data_dir)
                except BaseException:
                    # pre-flip failure: unpublish what we renamed so
                    # a later single push (whose pointer-moved sweep
                    # trigger would not fire in THIS process) cannot
                    # commit an overlapping range beside invisible
                    # parts; a SIGKILL here still lands on the belts
                    # (committed-view filter + open-time truncation)
                    for dst in published:
                        try:
                            os.remove(dst)
                        except OSError:
                            pass
                    # the marker stays armed: if this cleanup itself
                    # was cut short, the next writer's sweep finishes
                    # the job; a stale marker costs one listdir
                    raise
                self._storage.set_next_seq(start + actual)
                self._storage.clear_sweep_intent()
            else:
                # default (process-crash consistency): flip first,
                # then publish in ascending seq order. A crash
                # mid-publish leaves a committed FIFO PREFIX of this
                # ingest plus a seq gap for the rest — at-least-once
                # semantics, same as any producer crash (the call
                # never returned; a retry may re-ingest). Never a
                # published file at/beyond the pointer.
                self._storage.set_next_seq(start + actual)
                for part, s, e in ranges:
                    os.replace(part, self._storage.batch_path(s, e))
            shutil.rmtree(staging, ignore_errors=True)
            if self._batch_files_estimate is not None:
                self._batch_files_estimate += len(ranges)
        return actual


class Publisher:
    """Producer half (Queue.Publisher, Queue.scala:159-226)."""

    def __init__(self, queue: Queue, compression: Codec):
        self._q = queue
        self.compression = compression
        self._arrow_schema = arrow_schema(queue.schema)

    # -- single / bulk push ---------------------------------------------------
    def try_push(self, values: Sequence[Any], lifetime_ms: int = -1) -> bool:
        """Non-blocking append; False when at capacity (Queue.scala:169-175)."""
        self._q._check_open()
        record = self._q.schema.validate_record(values)
        st = self._q._storage
        with st.lock:
            next_seq = st.next_seq()
            acked = int(st.consumer_state()["acked_seq"])
            if (next_seq - 1) - acked >= self._q.capacity:
                return False
            self._write_rows([record], next_seq, lifetime_ms)
            self._maybe_auto_compact()
        return True

    def push(self, values: Sequence[Any], limit_ms: int = -1,
             lifetime_ms: int = -1) -> bool:
        """Blocking push: poll try_push until success or timeout
        (Queue.scala:186-196; poll cadence configurable, default 200 ms)."""
        deadline = None if limit_ms < 0 else time.time() + limit_ms / 1000
        while True:
            if self.try_push(values, lifetime_ms):
                return True
            if deadline is not None and time.time() >= deadline:
                return False
            time.sleep(self._q.poll_interval)

    def push_all(self, items: Iterable[Sequence[Any]], limit_ms: int = -1,
                 lifetime_ms: int = -1) -> list[Sequence[Any]]:
        """Bulk push; admits up to the remaining capacity per round and
        returns the unadmitted remainder on timeout (Queue.scala:207-226)."""
        self._q._check_open()
        remaining = [self._q.schema.validate_record(v) for v in items]
        deadline = None if limit_ms < 0 else time.time() + limit_ms / 1000
        st = self._q._storage
        while remaining:
            with st.lock:
                next_seq = st.next_seq()
                acked = int(st.consumer_state()["acked_seq"])
                room = self._q.capacity - ((next_seq - 1) - acked)
                admit = min(room, len(remaining))
                if admit > 0:
                    self._write_rows(remaining[:admit], next_seq, lifetime_ms)
                    remaining = remaining[admit:]
                    self._maybe_auto_compact()
            if not remaining:
                break
            if deadline is not None and time.time() >= deadline:
                break
            time.sleep(self._q.poll_interval)
        return remaining

    def latest(self) -> tuple[Any, ...] | None:
        """Most-recently-pushed record, even when the queue is empty
        (Queue.Publisher.latest, Queue.scala:234-237). O(1 file): only
        the max-range batch file is read."""
        self._q._check_open()
        st = self._q._storage
        with st.lock:
            batches = st.list_batches()
            if not batches:
                return None
            _, end, _ = batches[-1]
            row = st.read_seq(end)
        if row is None:
            return None
        return _record_from_row(self._q.schema, row)

    # -- internals -------------------------------------------------------------
    def _maybe_auto_compact(self) -> None:
        # counter bump, not a directory listing: a listdir here is
        # O(files) per push = O(n^2) across a fill. The estimate is
        # per-process (another process's pushes aren't counted until
        # the next compact resyncs it); auto-compaction is a threshold
        # heuristic, so an undercount only delays it, never corrupts.
        q = self._q
        limit = q.auto_compact_files
        if limit is None:
            return
        if q._batch_files_estimate is None:
            q._batch_files_estimate = len(q._storage.list_batches())
        else:
            q._batch_files_estimate += 1  # the batch just written
        if q._batch_files_estimate > limit and (
            q._auto_compact_futile_at is None
            or q._batch_files_estimate
            > q._auto_compact_futile_at + max(1, limit // 4)
        ):
            # the size tiers merge the ~limit new single-record files
            # and fold older tiers in only while they are at most
            # twice as large, so an unconsumed backlog is not
            # rewritten whole on every trigger
            remaining = q.compact()
            # when compaction can't shrink the count below the limit
            # (files kept: large, unconsumed, mostly live — e.g.
            # bulk fills with an idle consumer), EVERY subsequent
            # push would re-run the per-file expires_at column scans
            # of the kept files (r13 review). Latch the futile count
            # and re-arm only after a quarter-limit of new files,
            # amortizing the scans; a compaction that does get below
            # the limit clears the latch. Heuristic delay only —
            # correctness never depends on auto-compaction.
            q._auto_compact_futile_at = (
                remaining if remaining > limit else None
            )

    def _write_rows(self, records: list[tuple[Any, ...]], start_seq: int,
                    lifetime_ms: int) -> None:
        now = _now_ms()
        exp = _expires_at(lifetime_ms)
        n = len(records)
        cols: dict[str, list[Any]] = {
            "seq": list(range(start_seq, start_seq + n)),
            "created_at": [now] * n,
            "expires_at": [exp] * n,
            # per-entry codec id (JournaledFile.scala:322): records the
            # codec of the publisher that wrote each row, so one queue
            # holds mixed-codec records a consumer can decode per row
            "codec_id": [self.compression.id] * n,
        }
        for i, name in enumerate(self._q.schema.column_names):
            cols[name] = [r[i] for r in records]
        table = pa.table(cols, schema=self._arrow_schema)
        # flip-before-publish: the pointer advance rides inside
        # write_batch so a crash never leaves a published batch file
        # at/beyond the pointer (see storage.write_batch)
        self._q._storage.write_batch(
            table, start_seq, start_seq + n - 1,
            self.compression.parquet_codec,
            flip_to=start_seq + n,
        )


class Subscriber:
    """Consumer half (Queue.Subscriber, Queue.scala:241-288)."""

    def __init__(self, queue: Queue):
        self._q = queue

    # -- non-blocking ------------------------------------------------------------
    def try_pop(self) -> tuple[Any, ...] | None:
        """Non-blocking FIFO take (Queue.scala:247-259)."""
        result = self.consume(lambda r: r)
        return result

    # -- blocking -----------------------------------------------------------------
    def pop(self, limit_ms: int = -1) -> tuple[Any, ...] | None:
        """Blocking take; polls until data or timeout (Queue.scala:266-287)."""
        deadline = None if limit_ms < 0 else time.time() + limit_ms / 1000
        while True:
            v = self.try_pop()
            if v is not None:
                return v
            if deadline is not None and time.time() >= deadline:
                return None
            time.sleep(self._q.poll_interval)

    def pop_n(self, n: int) -> list[tuple[Any, ...]]:
        """Take up to n records FIFO (bulk convenience)."""
        out = []
        for _ in range(n):
            v = self.try_pop()
            if v is None:
                break
            out.append(v)
        return out

    # -- at-least-once consume -------------------------------------------------------
    def consume(
        self,
        f: Callable[[tuple[Any, ...]], Any],
        error_permit: int = 3,
    ) -> Any:
        """Pass the head record to ``f``; remove it only on success.

        Parity with JournaledFile.consume (:204-284):
          * expired head records are discarded and the next evaluated
            (TTL check, :244-264);
          * on ``f`` failure the per-record error count is incremented
            and the exception re-raised (the reference returns Left);
            the record remains and is re-delivered;
          * once errors >= error_permit the record is moved to the DLQ
            (superset of the silent discard at :254-256) and the next
            record is evaluated;
          * the ack pointer advances only after ``f`` returns — crash
            in between means redelivery: at-least-once (SURVEY §2.7.8).

        Returns ``f(record)`` or None when empty.
        """
        self._q._check_open()
        st = self._q._storage
        while True:
            with st.lock:
                state = st.consumer_state()
                acked = int(state["acked_seq"])
                next_seq = st.next_seq()
                if acked >= next_seq - 1:
                    return None
                head_seq = acked + 1
                row = st.read_seq(head_seq)
                if row is None:
                    # compaction vacuumed expired rows -> seq gap; jump
                    # the pointer to the next stored record
                    nxt = st.next_existing_seq(acked)
                    if nxt is None:
                        # everything pending was vacuumed
                        state["acked_seq"] = next_seq - 1
                        state["errors"] = {}
                        st.set_consumer_state(state)
                        return None
                    row = st.read_seq(nxt)
                    if row is None:
                        raise FormatException(
                            f"missing record seq={nxt}"
                        )
                    head_seq = nxt
                now = _now_ms()
                exp = row["expires_at"]
                if 0 <= exp <= now:
                    # expired: drop silently, evaluate next (:244-264)
                    state["acked_seq"] = head_seq
                    state["errors"].pop(str(head_seq), None)
                    st.set_consumer_state(state)
                    continue
                errors = int(state["errors"].get(str(head_seq), 0))
                if errors >= error_permit:
                    # poison pill -> DLQ, evaluate next (:250-259)
                    self._to_dlq(row, errors)
                    state["acked_seq"] = head_seq
                    state["errors"].pop(str(head_seq), None)
                    st.set_consumer_state(state)
                    continue
                record = _record_from_row(self._q.schema, row)
                try:
                    result = f(record)
                except Exception:
                    state["errors"][str(head_seq)] = errors + 1
                    st.set_consumer_state(state)
                    raise
                # success: flip the pointer (commit, :266-275)
                state["acked_seq"] = head_seq
                state["errors"].pop(str(head_seq), None)
                st.set_consumer_state(state)
                return result

    def peek_head(self) -> tuple[Any, ...] | None:
        """Next record to be popped, without removal.

        Skips TTL-expired rows exactly as pop/consume would discard
        them (r16 review: returning an expired head handed a
        peek-then-pop caller a record that would never be delivered).
        One asymmetry is inherent: a poison record (errors >=
        error_permit) IS returned here, because error_permit is a
        parameter of each ``consume`` call, not queue state — peek
        cannot know a threshold the consumer hasn't chosen yet."""
        self._q._check_open()
        st = self._q._storage
        with st.lock:
            pos = int(st.consumer_state()["acked_seq"])
            next_seq = st.next_seq()
            while pos < next_seq - 1:
                row = st.read_seq(pos + 1)
                if row is None:
                    # compaction vacuumed expired rows -> seq gap;
                    # look at the next stored record exactly as
                    # pop/consume would, or a peek-then-pop caller
                    # spuriously concludes the queue is drained (r13
                    # review)
                    nxt = st.next_existing_seq(pos)
                    if nxt is None:
                        return None
                    row = st.read_seq(nxt)
                    if row is None:
                        return None
                    pos = nxt
                else:
                    pos += 1
                exp = row["expires_at"]
                if 0 <= exp <= _now_ms():
                    continue  # expired: pop would drop it silently
                return _record_from_row(self._q.schema, row)
        return None

    def _to_dlq(self, row: dict[str, Any], errors: int) -> None:
        st = self._q._storage
        cols = {k: [v] for k, v in row.items()}
        cols["errors"] = [errors]
        schema = arrow_schema(self._q.schema).append(
            pa.field("errors", pa.int64())
        )
        table = pa.table(cols, schema=schema)
        st.write_dlq(table, int(row["seq"]))
