"""Structured Streaming consumption of queue logs.

The reference's blocking consumer loop (Queue.scala:266-287: poll every
200 ms) is exactly what a Structured Streaming file source + trigger
does, done right: the stream source discovers new batch files in the
queue's ``data/`` directory, the checkpoint directory replaces the ack
pointer, and ``foreachBatch`` replaces ``consume(f)`` — including the
crash-restart story (kill the query, restart with the same checkpoint,
processing resumes exactly where it stopped; the reference's
"stop and restart processing" README.md:17).

Delivery semantics: at-least-once into arbitrary side effects,
exactly-once into idempotent sinks — and the canonical shipped sink,
``queue_sink``, IS replay-idempotent (r19): a per-(sink_id, batch_id)
commit marker inside the queue directory no-ops the batch Spark
re-runs after a crash between ``foreachBatch`` and the checkpoint
commit. A strict upgrade over the reference's at-least-once (SURVEY
§2.7.8). Failed records route to the queue's DLQ directory with their
error, superseding the silent poison-pill discard
(JournaledFile.scala:250-256).

Scale: the file source lists only new files per micro-batch; since
batch files encode their seq range in the name, a restart never
re-reads consumed data. maxFilesPerTrigger bounds micro-batch size
(the reference's capacity-driven backpressure, Spark-shaped).
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from quebic_spark.queue.queue import Queue, fits_one_partition


def read_queue_stream(
    spark: SparkSession,
    queue: Queue,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a queue's append log.

    Returns an unbounded DataFrame of (seq, created_at, expires_at,
    codec_id, c0..cN) with expired rows filtered at read time (TTL parity,
    JournaledFile.scala:244-264 — the filter references
    current_timestamp so it re-evaluates per micro-batch).

    Only committed ``batch-*.parquet`` files are listed
    (``pathGlobFilter``) — in-flight ``*.tmp`` / ``*.compact`` partials
    are invisible to micro-batches. Compaction on ``queue`` drops to a
    restricted stream-safe mode while the log is being streamed: the
    file source tracks processed files by path, so a rewrite/merge
    would redeliver every already-consumed row under a new file name —
    instead ``compact()`` parses the stream's checkpoint and only
    DELETES whole files the source has already committed (which it
    never re-lists), so a continuously-streamed queue still reclaims
    consumed space (see ``Queue.compact``). The pin covers this
    process and is released when the StreamingConsumer query
    terminates; the presence of the default checkpoint directory inside
    the queue dir covers restarts from other processes. If you stream
    with an EXTERNAL checkpoint from another process, pass that path to
    ``compact(stream_checkpoint=...)`` there, or disable compaction
    (``auto_compact_files=None``) for the stream's lifetime.

    Decommission recipe (r20): external checkpoints registered via
    ``Queue.register_stream_checkpoint`` (StreamingConsumer does this
    for ``checkpoint_dir=``) keep the queue in stream-safe compaction
    for as long as the checkpoint DIRECTORY exists — the registry
    cannot tell an idle-but-resumable stream from a dead one. When a
    stream is permanently retired, either delete its checkpoint
    directory or call ``Queue.unregister_stream_checkpoint(path)``;
    full compaction then resumes at the next call. Do NOT unregister
    a stream that may restart: its next run would rediscover compacted
    files under new names and redeliver every consumed row.

    Ordering note (r19 relay chaos): rows are seq-ordered WITHIN each
    micro-batch (StreamingConsumer sorts; queue_sink orders by
    ``order_by``), and micro-batches arrive in commit order — but the
    file source composes batches from an mtime-sorted listing whose
    ties break arbitrarily, so a crash-restart that re-lists before
    the in-flight batch's offset WAL may REGROUP same-mtime files
    into different batches than the first run. Exactly-once delivery
    survives that (checkpoint + queue_sink markers); global
    cross-batch seq order does not. A relay needing total source
    order should carry the source ``seq`` through as an ``order_by``
    column (append_dataframe accepts auxiliary order-only columns).
    """
    # Heal a dead compactor's half-done commit BEFORE the first
    # listing (r18 streaming chaos): a stream restarting in the SAME
    # process (queue object still open, so no open-time recover())
    # used to list a torn undiscovered-merge's ORIGINALS — still on
    # disk when the compactor died before its removals — deliver
    # them, and then, after a later heal published the merged file
    # under a brand-new name, deliver every row AGAIN. Cross-process
    # restarts were already safe (Queue open replays); this makes the
    # same-process restart see the finished commit too. Every
    # in-contract path to "live stream + torn merge manifest" goes
    # through a stream start (the merge runs inside foreachBatch —
    # dying there kills the query — or while the query is stopped),
    # so healing here closes the class. Costs one stat() when no
    # manifest exists.
    queue._storage.replay_pending_compaction()
    queue.pin_compaction()
    try:
        reader = (
            spark.readStream.schema(queue.spark_schema_ddl())
            .format("parquet")
            .option("path", queue._storage.data_dir)
            .option("pathGlobFilter", "batch-*.parquet")
        )
        if max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", max_files_per_trigger
            )
        df = reader.load()
        # shared with Queue.read_pending (one home for the TTL filter
        # and codec backfill); current_timestamp re-evaluates per
        # micro-batch, which is the streaming TTL contract
        return queue.live_codec_view(
            df, F.unix_millis(F.current_timestamp())
        )
    except Exception:
        queue.unpin_compaction()  # no stream ever attached
        raise


def queue_sink(queue: Queue, order_by: list[str],
               sink_id: str = "default", exactly_once: bool = True):
    """A ``foreachBatch`` function that appends each micro-batch into a
    queue — the queue as a streaming *sink* (the reference's producer
    side driven by a stream instead of user calls). FIFO within a batch
    follows ``order_by``; across batches, micro-batch order.

    Exactly-once (default): Spark re-runs the last micro-batch after a
    crash between ``foreachBatch`` returning and the checkpoint commit,
    so a naive sink duplicates it. This sink is a transactional writer
    in the Delta ``txnAppId``/``txnVersion`` mold: a per-``sink_id``
    commit marker (``<queue>/sink-commits.json``, atomic-rename JSON
    under the queue flock) records ``(batch_id, start_seq, rows,
    committed)`` around a DURABLE-ordered append
    (``append_dataframe(durable=True)`` — parts publish first, the
    fsynced pointer flip is the atomic commit record). ``rows`` is the
    STAGED row count, written via ``append_dataframe``'s
    ``staged_hook`` strictly before anything the append does becomes
    visible — so after any crash the marker holds exactly how far the
    recorded txn would have advanced the pointer, and replay
    attribution is arithmetic, not inference (r20; the r19 protocol
    attributed ANY pointer advance to the recorded intent, which a
    concurrent producer racing the crash-replay gap could turn into
    silent loss). Replay decision table, evaluated under the flock:

    * marker committed at this ``batch_id`` → the append committed,
      Spark's checkpoint didn't: no-op the replay.
    * marker intent at this ``batch_id`` without ``rows`` → the
      previous attempt died before its staging finished, and the flip
      comes after ``rows`` is recorded, so that attempt provably never
      committed → redo (any pointer advance belongs to other
      producers; the redo appends after them).
    * marker intent WITH ``rows`` → compute the two reachable pointer
      values from the markers alone: ``start_seq`` plus every OTHER
      sink's marker that landed at/after ``start_seq`` (committed
      markers contribute their ``rows``; other sinks' unresolved
      intents contribute 0 or ``rows``, both branches kept), with and
      without this txn's ``rows``. Pointer in the with-set only →
      committed (mark + skip); in the without-set only → nothing
      visible → redo; in both → ambiguous → fail loud; in neither →
      a producer OUTSIDE the marker protocol advanced the pointer
      during the crash-replay gap → fail loud (refuse to guess
      between loss and duplication, same stance as the rewound
      checkpoint below).
    * marker behind this ``batch_id`` → normal progress → append.
    * marker AHEAD of this ``batch_id`` → the checkpoint was reset or
      a second stream shares this ``sink_id``: fail loud rather than
      silently skip (lose) or double-append.

    Sibling ``queue_sink`` relays (distinct ``sink_id``) are therefore
    fully accounted: their markers are part of the arithmetic.
    Producers outside the protocol (``push``, plain
    ``append_dataframe``) are safe while the relay is alive (the
    flock serializes them) and detected — not absorbed — if they race
    a crash-replay gap; the failure mode is a loud ``RuntimeError``,
    never silent loss. Residual ambiguity: such a producer advancing
    the pointer by EXACTLY the staged row count while the crashed
    append never ran is misattributed as the commit (any
    marker-external scheme shares this bound; use the marker protocol
    for concurrent producers). ``exactly_once=False`` restores the
    plain at-least-once append (no marker, queue-default durability).

    Cost: the guarantee buys two fsynced marker writes plus the durable
    append ordering (an fsync per staged part, one of the data
    directory, and the fsynced pointer flip) — a fixed handful of
    fsyncs per micro-batch, not per row. Traced on a 4-core VM
    (perfbench ``queue_relay``, 12,500-row micro-batches): a marker
    write took 0.6 ms and an fsync 0.11 ms at the median, against
    280 ms for the whole sink append; the cost follows the
    filesystem's fsync latency. Negligible at second-scale triggers;
    for a 200 ms-cadence stream on slow storage where duplicates are
    tolerable (or deduped downstream), opt out.

    Usage::

        df.writeStream.foreachBatch(queue_sink(out_q, ["ts"])).start()
    """
    marks_path = os.path.join(queue._storage.path, "sink-commits.json")

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no isEmpty() pre-check: it costs a Spark job per micro-batch
        # (one wasted job per tick on an idle stream), and
        # append_dataframe publishes nothing and calls no staged_hook
        # when its staged write holds zero rows, so an empty batch
        # writes only the committed marker below
        if not exactly_once:
            queue.append_dataframe(batch_df, order_by=order_by)
            return
        from quebic_spark.queue.storage import (
            read_json,
            write_json_atomic,
        )

        with queue._storage.lock:
            try:
                marks = read_json(marks_path)
            except (OSError, ValueError):
                marks = {}
            m = marks.get(sink_id)
            if m is not None:
                if int(m["batch_id"]) > batch_id:
                    raise RuntimeError(
                        f"queue_sink[{sink_id}]: incoming batch "
                        f"{batch_id} is behind the committed marker "
                        f"{m['batch_id']} — the stream checkpoint was "
                        "reset or two streams share this sink_id; "
                        "refusing to guess between data loss and "
                        "duplication (use a fresh sink_id per "
                        "checkpoint)"
                    )
                if int(m["batch_id"]) == batch_id:
                    if m["committed"]:
                        return  # replayed batch: already in the queue
                    # intent from a crashed attempt of THIS batch: the
                    # pointer flip is the commit point and ``rows``
                    # was recorded strictly before it, so the set of
                    # pointer values consistent with "this txn
                    # committed" and the set consistent with "it did
                    # not" are computable from the markers alone
                    n = m.get("rows")
                    if n is None:
                        # died before staging finished → the flip
                        # provably never ran → redo (fall through);
                        # any pointer advance belongs to others
                        pass
                    else:
                        start = int(m["start_seq"])
                        base, optional = 0, []
                        for sid, o in marks.items():
                            if sid == sink_id:
                                continue
                            if int(o.get("start_seq", -1)) < start:
                                continue  # already inside start_seq
                            r = o.get("rows")
                            if r is None:
                                continue  # its flip provably never ran
                            if o.get("committed"):
                                base += int(r)
                            else:
                                optional.append(int(r))
                        sums = {0}
                        for r in optional:
                            sums |= {s + r for s in sums}
                        without = {start + base + s for s in sums}
                        within = {v + int(n) for v in without}
                        ptr = queue._storage.next_seq()
                        if ptr in within and ptr in without and n:
                            # another sink's unresolved intent of the
                            # same size makes both readings consistent
                            raise RuntimeError(
                                f"queue_sink[{sink_id}]: replaying "
                                f"batch {batch_id} found the queue "
                                f"pointer at {ptr}, which is "
                                "consistent BOTH with this sink's "
                                f"recorded txn ({start}+{n} rows) "
                                "having committed and with another "
                                "sink's unresolved intent of the "
                                "same size; refusing to guess "
                                "between data loss and duplication "
                                "— let the other sink's replay "
                                "resolve its marker first, then "
                                "restart this stream."
                            )
                        if ptr in within:
                            # committed (a zero-row txn's commit and
                            # skip are the same outcome)
                            marks[sink_id] = {**m, "committed": True}
                            write_json_atomic(marks_path, marks)
                            return
                        if ptr not in without:
                            raise RuntimeError(
                                f"queue_sink[{sink_id}]: replaying "
                                f"batch {batch_id} found the queue "
                                f"pointer at {ptr}, which no "
                                "combination of this sink's recorded "
                                f"txn ({start}+{n} rows) and the "
                                "other sinks' markers explains "
                                f"(consistent values: "
                                f"{sorted(without | within)}) — a "
                                "producer outside the marker protocol "
                                "wrote during the crash-replay gap; "
                                "refusing to guess between data loss "
                                "and duplication. Drain and verify "
                                "the queue, then resume with a fresh "
                                "sink_id, or route concurrent "
                                "producers through their own "
                                "queue_sink so their txns are "
                                "accounted."
                            )
                        # ptr in the without-set only: nothing of this
                        # txn is visible (leftover parts are at/beyond
                        # the pointer and swept) — fall through to redo
            start = queue._storage.next_seq()

            def record_staged(actual: int) -> None:
                # durable txn record: written before the append's
                # first visible effect (under this same flock hold)
                marks[sink_id] = {
                    "batch_id": batch_id,
                    "start_seq": start,
                    "rows": int(actual),
                    "committed": False,
                }
                write_json_atomic(marks_path, marks)

            n_out = queue.append_dataframe(
                batch_df, order_by=order_by, durable=True,
                staged_hook=record_staged,
            )
            marks[sink_id] = {
                "batch_id": batch_id,
                "start_seq": start,
                "rows": int(n_out),
                "committed": True,
            }
            write_json_atomic(marks_path, marks)

    return on_batch


def _seq_ordered(batch_df: DataFrame) -> DataFrame:
    """``batch_df`` in ``seq`` order: sorted inside one partition when
    it fits one (the cutoff ``append_dataframe`` uses for its
    single-reducer window), else globally sorted. The one partition is
    a ``coalesce``, not a shuffle: upstream of it is only the queue's
    Parquet scan and TTL filter, cheap to run in one task, and a
    single-partition consumer such as ``queue_sink``'s seq window then
    runs in the same job as the scan."""
    if fits_one_partition(batch_df):
        return batch_df.coalesce(1).sortWithinPartitions("seq")
    return batch_df.orderBy("seq")


class StreamingConsumer:
    """``foreachBatch`` consumption with DLQ — the ``consume(f)`` of the
    streaming world.

    ``f`` receives each micro-batch as a DataFrame, FIFO-ordered by
    ``seq``. A micro-batch Catalyst expects to hold at most
    ``SMALL_BATCH_ROWS`` rows (``fits_one_partition``) arrives as ONE
    partition sorted by ``seq`` — no shuffle and no range-partitioning
    sample job, and a single-partition consumer such as
    ``queue_sink``'s seq window needs no exchange; a larger one arrives
    globally sorted (``orderBy("seq")``) across several partitions.
    Either way ``collect()`` returns rows in seq order.

    If ``f`` raises, the QUERY fails (Spark does not retry a
    failed micro-batch within one run — the exception surfaces as a
    StreamingQueryException); on the next start from the same
    checkpoint the engine re-delivers the same batch, and after
    ``error_permit`` TOTAL failures of that batch — counted durably
    across those restarts — the rows are routed to the DLQ and the
    stream advances past it. Per-record parity with
    JournaledFile.scala:204-284 at micro-batch granularity, with the
    restart in the operator's hands rather than an in-run retry. The
    failure counts are DURABLE: persisted beside the checkpoint
    (``<checkpoint>/quebic-failures.json``) after every failure, and
    restored on construction — parity with the reference's on-disk
    per-entry ``errors`` field (JournaledFile.scala:320). A driver
    crash-restart therefore continues the count instead of granting a
    poison batch ``error_permit`` fresh tries per restart.
    """

    def __init__(
        self,
        spark: SparkSession,
        queue: Queue,
        checkpoint_dir: str | None = None,
        error_permit: int = 3,
        compact_every_batches: int | None = None,
    ):
        """``compact_every_batches``: run ``queue.compact()`` after
        every N successful micro-batches. With a stream attached,
        compact() takes its stream-safe path: delete whole
        checkpoint-committed files, plus merge runs of small files the
        source has never listed (safe from inside foreachBatch — no
        listing races a micro-batch). A long-lived consumer therefore
        reclaims consumed space as it goes AND a slow consumer's
        unread backlog stays in target-sized files instead of
        accumulating small files without bound. None (the default)
        leaves maintenance to the caller."""
        self.spark = spark
        self.queue = queue
        self.checkpoint_dir = checkpoint_dir or os.path.join(
            queue._storage.path, "checkpoint"
        )
        if checkpoint_dir is not None:
            # external checkpoint: the queue's durable
            # attached-heuristic only watches the default in-queue
            # path, so without registration a later full compaction
            # (after this consumer's pin is released) would merge the
            # consumed files under new names and the next run would
            # silently redeliver every consumed row (r16 review)
            queue.register_stream_checkpoint(self.checkpoint_dir)
        self.error_permit = error_permit
        self.compact_every_batches = compact_every_batches
        self._batches_since_compact = 0
        # set per run: a source rate limit (maxFilesPerTrigger) defers
        # LISTED files to later micro-batches; see _wrap
        self._rate_limited = False
        self._failures_path = os.path.join(
            self.checkpoint_dir, "quebic-failures.json"
        )
        self._failures: dict[int, int] = self._load_failures()

    def _load_failures(self) -> dict[int, int]:
        try:
            from quebic_spark.queue.storage import read_json

            return {int(k): int(v)
                    for k, v in read_json(self._failures_path).items()}
        except (OSError, ValueError):
            return {}

    def _persist_failures(self) -> None:
        from quebic_spark.queue.storage import write_json_atomic

        os.makedirs(self.checkpoint_dir, exist_ok=True)
        write_json_atomic(
            self._failures_path,
            {str(k): v for k, v in self._failures.items()},
        )

    def _wrap(self, f: Callable[[DataFrame, int], Any]):
        def on_batch(batch_df: DataFrame, batch_id: int) -> None:
            ordered = _seq_ordered(batch_df)
            try:
                f(ordered, batch_id)
                if self._failures.pop(batch_id, None) is not None:
                    self._persist_failures()
            except Exception:
                n = self._failures.get(batch_id, 0) + 1
                self._failures[batch_id] = n
                # persist BEFORE re-raising: the count must survive the
                # process dying on this very failure
                self._persist_failures()
                if n >= self.error_permit:
                    # poison micro-batch -> DLQ, then let the stream
                    # advance past it
                    (
                        ordered.withColumn(
                            "errors", F.lit(n).cast("long")
                        ).write.mode("append").parquet(
                            self.queue._storage.dlq_dir
                        )
                    )
                    self._failures.pop(batch_id, None)
                    self._persist_failures()
                    return
                raise
            # compaction sits OUTSIDE the failure-counting try (r14
            # review): a persistent compact() error used to increment
            # error_permit and eventually DLQ a batch that f() had
            # processed successfully (re-running its side effects each
            # restart) — healthy data mislabeled as poison, real
            # storage error swallowed. Here a compact failure fails
            # the stream loud, with the user batch already committed.
            if self.compact_every_batches:
                self._batches_since_compact += 1
                if (self._batches_since_compact
                        >= self.compact_every_batches):
                    self._batches_since_compact = 0
                    # stream-safe reclamation; a skip (no parseable
                    # checkpoint yet) is harmless and logged.
                    # merge_undiscovered is safe exactly HERE: the
                    # source lists between micro-batches, and this
                    # runs inside one, so no listing can race the
                    # merge of never-listed small files — UNLESS a
                    # rate limit is active (r16 review): with
                    # maxFilesPerTrigger the source lists files
                    # up-front but WALs them into the offset log only
                    # at their own batch, so files it has ALREADY
                    # listed in memory look 'undiscovered' to the
                    # checkpoint parse; merging+deleting them makes
                    # the next batch WAL dead paths and wedges the
                    # stream (FileNotFoundException on every restart
                    # until the checkpoint is hand-edited). Rate-
                    # limited runs therefore take delete-only mode;
                    # the merge tier resumes on unlimited runs.
                    self.queue.compact(
                        stream_checkpoint=self.checkpoint_dir,
                        merge_undiscovered=not self._rate_limited,
                    )

        return on_batch

    def run_available(
        self,
        f: Callable[[DataFrame, int], Any],
        max_files_per_trigger: int | None = None,
        timeout_s: float | None = 120.0,
    ) -> None:
        """Consume everything currently in the queue, then stop
        (Trigger.AvailableNow — the batch analogue of ``pop`` until
        empty). Raises ``TimeoutError`` if the backlog is not drained
        within ``timeout_s`` — previously the query was silently
        stopped mid-backlog and the caller proceeded believing the
        queue was drained (r13 review). Batches consumed before the
        timeout stay committed in the checkpoint; re-running continues
        from there. ``timeout_s=None`` waits indefinitely."""
        self._rate_limited = bool(max_files_per_trigger)
        stream = read_queue_stream(
            self.spark, self.queue, max_files_per_trigger
        )
        try:
            q = (
                stream.writeStream.foreachBatch(self._wrap(f))
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            if timeout_s is None:
                q.awaitTermination()
            elif not q.awaitTermination(timeout_s):
                q.stop()
                raise TimeoutError(
                    f"run_available: backlog not drained within "
                    f"{timeout_s}s; completed micro-batches remain "
                    "committed — re-run to continue, or raise "
                    "timeout_s"
                )
            if q.isActive:
                q.stop()
        finally:
            # the pin covers the query's lifetime only; resumability
            # across calls is covered by the checkpoint-dir heuristic
            self.queue.unpin_compaction()

    def start_continuous(
        self,
        f: Callable[[DataFrame, int], Any],
        processing_interval: str = "200 milliseconds",
        max_files_per_trigger: int | None = None,
    ):
        """Long-running consumption; trigger cadence defaults to the
        reference's 200 ms poll (Queue.scala:281). Returns the
        StreamingQuery — call .stop() / .awaitTermination(). The
        compaction pin taken for this query is released when the query
        terminates (listener below), so a stopped stream no longer
        holds compaction off for the life of the process."""
        self._rate_limited = bool(max_files_per_trigger)
        stream = read_queue_stream(
            self.spark, self.queue, max_files_per_trigger
        )
        try:
            query = (
                stream.writeStream.foreachBatch(self._wrap(f))
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(processingTime=processing_interval)
                .start()
            )
        except Exception:
            self.queue.unpin_compaction()
            raise
        listener = _UnpinOnTerminate(self.spark, str(query.id), self.queue)
        try:
            self.spark.streams.addListener(listener)
        except Exception:
            # no listener will ever release the pin: stop the query
            # and release it here, or full compaction stays disabled
            # for the process lifetime (r13 review)
            try:
                query.stop()
            finally:
                listener.release()
            raise
        # the query can terminate between start() and addListener() —
        # the terminate event then fired with no listener attached, so
        # re-check and release manually (release() is idempotent, the
        # double-fire race is safe)
        if not query.isActive:
            listener.release()
        return query


class _UnpinOnTerminate(StreamingQueryListener):
    """Releases one compaction pin when the tracked query terminates.

    Listener callbacks run on the streaming listener-bus thread;
    ``release`` is guarded by a lock and idempotent — it may be called
    both from the terminate event and from ``start_continuous``'s
    post-registration isActive re-check without double-unpinning."""

    def __init__(self, spark: SparkSession, query_id: str, queue: Queue):
        self._spark = spark
        self._query_id = query_id
        self._queue = queue
        import threading

        self._release_lock = threading.Lock()
        self._released = False

    def release(self) -> None:
        with self._release_lock:
            if self._released:
                return
            self._released = True
        self._queue.unpin_compaction()
        try:
            self._spark.streams.removeListener(self)
        except Exception:
            pass  # best-effort; a dangling no-op listener is harmless

    def onQueryStarted(self, event) -> None:  # noqa: N802 (API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if str(event.id) != self._query_id:
            return
        self.release()
