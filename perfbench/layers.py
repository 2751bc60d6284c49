"""Traced-run instrumentation of the program's layers and the per-layer
metrics computed from it.

Each wrapper times a call into one layer from outside:

* ``quebic_spark.queue.storage``: ``QueueStorage.write_batch``,
  ``read_seq``, ``set_consumer_state``, ``FileLock.__enter__`` (lock
  acquisition) and ``os.fsync``; the batch-file listing a point read
  walks is counted through ``QueueStorage._batch_ranges``.
* ``quebic_spark.queue.queue``: ``Queue.compact``,
  ``Queue.append_dataframe``.
* ``quebic_spark.sources.io``: ``export_queue``.
* ``quebic_spark.streaming.consumer``: ``StreamingConsumer.run_available``
  plus the micro-batch body the benchmark hands it, and the
  ``write_json_atomic`` call that stores the exactly-once sink marker.
* ``quebic_spark.operators``: one span per gate (recorded by the
  workload, which also counts each gate's Spark jobs).
* ``quebic_spark.session``: ``get_spark``.

Every traced run reports every metric in ``PER_LAYER``; a layer that a
workload never reaches reports 0.
"""

from __future__ import annotations

import os

from relay import GATES
from harness import p50_or_zero

_LAYER_METRICS = [
    ("storage.write_batch.p50_ms", "ms"),
    ("storage.read_seq.p50_ms", "ms"),
    ("storage.files_per_read", "count"),
    ("storage.set_consumer_state.p50_ms", "ms"),
    ("storage.lock.p50_us", "us"),
    ("storage.bytes_written_per_user_byte", "ratio"),
    ("storage.fsync.calls", "count"),
    ("storage.fsync.p50_ms", "ms"),
    ("queue.compact.calls", "count"),
    ("queue.compact.p50_ms", "ms"),
    ("queue.compact.busy_share", "ratio"),
    ("queue.compact.bytes_rewritten_per_user_byte", "ratio"),
    ("queue.append_dataframe.p50_ms", "ms"),
    ("queue.append_dataframe.jobs", "count"),
    ("export_queue.s", "s"),
    ("export_queue.jobs", "count"),
    ("consumer.micro_batches", "count"),
    ("consumer.jobs_per_batch", "count"),
    ("consumer.batch_p50_ms", "ms"),
    ("consumer.sink_append.p50_ms", "ms"),
    ("consumer.marker_write.p50_ms", "ms"),
    ("consumer.trigger_gap_ms", "ms"),
    ("queue.disk_per_user_byte", "ratio"),
    ("session.get_spark.s", "s"),
]

PER_LAYER: list[tuple[str, str]] = _LAYER_METRICS + [
    m for g in GATES for m in ((f"gate.{g}.s", "s"),
                               (f"gate.{g}.jobs", "count"))
]


def _data_files(data_dir: str) -> dict[tuple[str, int], int]:
    out = {}
    try:
        with os.scandir(data_dir) as it:
            for e in it:
                if e.name.endswith(".parquet"):
                    st = e.stat()
                    out[(e.name, st.st_ino)] = st.st_size
    except OSError:
        pass
    return out


def _new_bytes(before: dict, after: dict) -> int:
    return sum(size for key, size in after.items() if key not in before)


def install(tracer) -> None:
    """Wrap the program's layer functions for the rest of the run."""
    import quebic_spark.session as session
    from quebic_spark.queue import queue as queue_mod
    from quebic_spark.queue import storage
    from quebic_spark.sources import io
    from quebic_spark.streaming import consumer

    QS, Q = storage.QueueStorage, queue_mod.Queue
    counts = tracer.counts

    def after_write(args, path):
        counts["storage.bytes_written"] += os.path.getsize(path)

    tracer.wrap(QS, "write_batch", "storage.write_batch", "storage",
                after_write)
    tracer.wrap(QS, "read_seq", "storage.read_seq", "storage")
    tracer.wrap(QS, "set_consumer_state", "storage.set_consumer_state",
                "storage")
    tracer.wrap(storage.FileLock, "__enter__", "storage.lock", "storage")
    tracer.wrap(os, "fsync", "storage.fsync", "storage")

    orig_ranges = QS._batch_ranges

    def batch_ranges(self, *a, **kw):
        out = orig_ranges(self, *a, **kw)
        if tracer.current() == "storage.read_seq":
            counts["storage.read_seq.files_listed"] += len(out)
        return out

    QS._batch_ranges = batch_ranges
    tracer._patched.append((QS, "_batch_ranges", orig_ranges))

    def rewrite_tracked(name, attr, key):
        orig = getattr(Q, attr)

        def traced(self, *a, **kw):
            before = _data_files(self._storage.data_dir)
            out = tracer.call(name, "queue", orig, self, *a, **kw)
            counts[key] += _new_bytes(
                before, _data_files(self._storage.data_dir))
            return out

        setattr(Q, attr, traced)
        tracer._patched.append((Q, attr, orig))

    rewrite_tracked("queue.compact", "compact", "queue.compact.bytes")
    rewrite_tracked("queue.append_dataframe", "append_dataframe",
                    "storage.bytes_written")
    tracer.wrap(io, "export_queue", "export_queue", "sources.io")
    tracer.wrap(consumer.StreamingConsumer, "run_available",
                "consumer.run_available", "streaming.consumer")

    orig_json = storage.write_json_atomic

    def write_json_atomic(path, *a, **kw):
        if path.endswith("sink-commits.json"):
            return tracer.call("consumer.marker_write",
                               "streaming.consumer", orig_json, path,
                               *a, **kw)
        return orig_json(path, *a, **kw)

    storage.write_json_atomic = write_json_atomic
    tracer._patched.append((storage, "write_json_atomic", orig_json))
    tracer.wrap(session, "get_spark", "session.get_spark",
                "session")


def metrics(tracer, user_bytes: int, timed_s: float, rounds: int,
            extra: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every ``PER_LAYER`` metric from the spans and counts of the timed
    rounds; the call counts are per round, so that they do not follow
    how many rounds fitted in the run. ``extra`` carries the values the
    workload measured itself (gate times, job counts, bytes on disk)."""
    d = tracer.durations_ms
    c = tracer.counts
    reads = len(d("storage.read_seq"))
    batches = d("consumer.batch")
    # (parent run_available span, start, end, id) of every batch body;
    # gaps are taken between consecutive bodies of one run_available
    batch_spans = sorted((s[1], s[5], s[6], s[0]) for s in tracer.spans
                         if s[3] == "consumer.batch")
    gaps = [(nxt[1] - cur[2]) * 1e3
            for cur, nxt in zip(batch_spans, batch_spans[1:])
            if cur[0] == nxt[0]]
    batch_ids = {s[3] for s in batch_spans}
    appends = [(s[6] - s[5]) * 1e3 for s in tracer.spans
               if s[3] == "queue.append_dataframe"
               and s[1] not in batch_ids]
    ub = max(1, user_bytes)
    v = {
        "storage.write_batch.p50_ms": p50_or_zero(d("storage.write_batch")),
        "storage.read_seq.p50_ms": p50_or_zero(d("storage.read_seq")),
        "storage.files_per_read":
            c["storage.read_seq.files_listed"] / reads if reads else 0.0,
        "storage.set_consumer_state.p50_ms":
            p50_or_zero(d("storage.set_consumer_state")),
        "storage.lock.p50_us": p50_or_zero(d("storage.lock")) * 1e3,
        "storage.bytes_written_per_user_byte":
            (c["storage.bytes_written"] + c["queue.compact.bytes"]) / ub,
        "storage.fsync.calls": len(d("storage.fsync")) / rounds,
        "storage.fsync.p50_ms": p50_or_zero(d("storage.fsync")),
        "queue.compact.calls": len(d("queue.compact")) / rounds,
        "queue.compact.p50_ms": p50_or_zero(d("queue.compact")),
        "queue.compact.busy_share":
            tracer.busy_s("queue.compact") / timed_s if timed_s else 0.0,
        "queue.compact.bytes_rewritten_per_user_byte":
            c["queue.compact.bytes"] / ub,
        "queue.append_dataframe.p50_ms": p50_or_zero(appends),
        "export_queue.s": tracer.busy_s("export_queue"),
        "consumer.micro_batches": len(batches) / rounds,
        "consumer.batch_p50_ms": p50_or_zero(batches),
        "consumer.sink_append.p50_ms": p50_or_zero([
            (s[6] - s[5]) * 1e3 for s in tracer.spans
            if s[3] == "queue.append_dataframe" and s[1] in batch_ids]),
        "consumer.marker_write.p50_ms":
            p50_or_zero(d("consumer.marker_write")),
        "consumer.trigger_gap_ms": p50_or_zero(gaps),
        "session.get_spark.s": p50_or_zero(d("session.get_spark")) / 1e3,
    }
    v.update(extra)
    return {name: (float(v.get(name, 0.0)), unit)
            for name, unit in PER_LAYER}
