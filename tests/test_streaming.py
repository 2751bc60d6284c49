"""Structured Streaming consumer tests: availableNow consumption,
crash-restart from checkpoint, DLQ routing, TTL filtering, and
streaming window analytics over the events table.
"""

import os
import time

import pytest
from pyspark.sql import functions as F

from quebic_spark import INTEGER, Queue, Schema, TEXT
from quebic_spark.streaming import StreamingConsumer, read_queue_stream

SCHEMA = Schema(INTEGER, TEXT)


@pytest.fixture
def qpath(tmp_path):
    return str(tmp_path / "q")


def test_available_now_consumes_all(qpath, spark):
    q = Queue(qpath, SCHEMA, capacity=10000)
    q.publisher().push_all([[i, f"v{i}"] for i in range(100)])
    got: list[tuple] = []

    def f(df, batch_id):
        got.extend((r["c0"], r["c1"]) for r in df.collect())

    StreamingConsumer(spark, q).run_available(f)
    assert sorted(got) == [(i, f"v{i}") for i in range(100)]
    q.dispose()


def test_checkpoint_restart_resumes(qpath, spark):
    """Kill-and-resume: the second run must see only new records
    (the reference's stop-and-restart story, README.md:17)."""
    q = Queue(qpath, SCHEMA, capacity=10000)
    q.publisher().push_all([[i, f"a{i}"] for i in range(50)])
    first: list[int] = []
    consumer = StreamingConsumer(spark, q)
    consumer.run_available(
        lambda df, _: first.extend(r["c0"] for r in df.collect())
    )
    assert sorted(first) == list(range(50))

    # "restart": a fresh consumer with the same checkpoint dir
    q.publisher().push_all([[i, f"b{i}"] for i in range(50, 80)])
    second: list[int] = []
    consumer2 = StreamingConsumer(spark, q)
    consumer2.run_available(
        lambda df, _: second.extend(r["c0"] for r in df.collect())
    )
    assert sorted(second) == list(range(50, 80))  # no redelivery
    q.dispose()


def test_dlq_after_error_permit(qpath, spark):
    q = Queue(qpath, SCHEMA, capacity=1000)
    q.publisher().push_all([[i, "x"] for i in range(10)])
    calls = []

    def failing(df, batch_id):
        calls.append(batch_id)
        raise RuntimeError("poison batch")

    consumer = StreamingConsumer(spark, q, error_permit=3)
    for _ in range(3):
        try:
            consumer.run_available(failing)
        except Exception:
            pass
    # after error_permit failures the batch landed in the DLQ
    dlq_files = [
        f for f in os.listdir(q._storage.dlq_dir) if f.endswith(".parquet")
    ]
    assert dlq_files, "expected DLQ output"
    dlq = spark.read.parquet(q._storage.dlq_dir)
    assert dlq.count() == 10
    assert dlq.filter(F.col("errors") >= 3).count() == 10
    q.dispose()


def test_streaming_ttl_filter(qpath, spark):
    q = Queue(qpath, SCHEMA, capacity=1000)
    q.publisher().push([1, "expires"], lifetime_ms=50)
    q.publisher().push([2, "lives"])
    time.sleep(0.1)
    got: list[int] = []
    StreamingConsumer(spark, q).run_available(
        lambda df, _: got.extend(r["c0"] for r in df.collect())
    )
    assert got == [2]
    q.dispose()


def test_queue_to_queue_relay(qpath, spark):
    """queue as SOURCE and SINK: stream one queue into another with a
    transform in between (the intermediate-buffer pipeline the
    reference was built for, README.md:3-10 — Spark-shaped)."""
    from quebic_spark.streaming import queue_sink

    src = Queue(qpath + "_src", SCHEMA, capacity=10000)
    dst = Queue(qpath + "_dst", SCHEMA, capacity=10000)
    src.publisher().push_all([[i, f"v{i}"] for i in range(25)])

    stream = read_queue_stream(spark, src).select(
        F.col("c0"),
        F.upper(F.col("c1")).alias("c1"),
    )
    q = (
        stream.writeStream.foreachBatch(queue_sink(dst, order_by=["c0"]))
        .option(
            "checkpointLocation", os.path.join(src._storage.path, "relay")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = []
    while True:
        v = dst.subscriber().try_pop()
        if v is None:
            break
        got.append(v)
    assert [g[1] for g in got] == [f"V{i}" for i in range(25)]
    src.dispose()
    dst.dispose()


def test_watermarked_relay_queue_to_queue(qpath, spark):
    """Full streaming composition: queue source -> watermarked windowed
    aggregation (append mode: only closed windows emit) -> queue sink.
    The late-data discipline applied end-to-end between two queues."""
    from quebic_spark import REAL
    from quebic_spark.streaming import queue_sink

    src = Queue(qpath + "_ws", Schema(INTEGER, REAL), capacity=10000)
    dst = Queue(qpath + "_wd", Schema(INTEGER, INTEGER), capacity=10000)
    base = 1_700_002_800_000  # hour-aligned epoch ms
    src.publisher().push_all(
        [[base + i * 60_000, float(i)] for i in range(180)]  # 3 hours
    )

    events = read_queue_stream(spark, src).select(
        F.timestamp_millis(F.col("c0")).alias("ts")
    )
    agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("w.start")).alias("ws"),
            F.col("n").cast("long").alias("n"),
        )
    )
    query = (
        agg.writeStream.outputMode("append")
        .foreachBatch(queue_sink(dst, order_by=["ws"]))
        .option(
            "checkpointLocation", os.path.join(src._storage.path, "wm_relay")
        )
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    # watermark = 02:29 -> hours 0 and 1 are closed and relayed; hour 2
    # is still open and withheld
    got = dst.subscriber().pop_n(2)
    assert got == [(base, 60), (base + 3_600_000, 60)]
    assert dst.is_empty()
    src.dispose()
    dst.dispose()


def test_stream_pins_compaction_and_skips_partials(qpath, spark):
    """A live stream must never observe a compaction rewrite (file
    sources track processed files by path -> a merge would redeliver
    every consumed row) nor half-written .tmp/.compact partials."""
    q = Queue(qpath, SCHEMA, capacity=10000)
    q.publisher().push_all([[i, f"v{i}"] for i in range(20)])
    q.subscriber().pop_n(20)  # fully acked: compaction would drop all

    # partials in data/ must be invisible to the stream
    open(os.path.join(q._storage.data_dir, "batch-" + "9" * 20 + "-"
                      + "9" * 20 + ".parquet.tmp"), "wb").close()
    open(os.path.join(q._storage.data_dir, "batch-" + "8" * 20 + "-"
                      + "8" * 20 + ".parquet.compact"), "wb").close()

    got: list[int] = []
    StreamingConsumer(spark, q).run_available(
        lambda df, _: got.extend(r["c0"] for r in df.collect())
    )
    assert sorted(got) == list(range(20))  # partials didn't break reads

    n_before = len(q._storage.list_batches())
    q.compact()  # pinned by the attached stream -> must not rewrite
    assert len(q._storage.list_batches()) == n_before
    assert q.compact(force=True) <= n_before  # explicit override works
    q.dispose()


def test_streaming_windowed_aggregation_over_queue(qpath, spark):
    """Streaming window agg over a queue log: the §2.10
    queue-as-stream composition (readStream -> window -> sink)."""
    from quebic_spark import REAL

    q = Queue(qpath, Schema(INTEGER, REAL), capacity=10000)
    base = 1_700_000_000_000
    items = [[base + i * 60_000, float(i)] for i in range(120)]  # 2h of minutes
    q.publisher().push_all(items)

    stream = read_queue_stream(spark, q)
    events = stream.select(
        F.timestamp_millis(F.col("c0")).alias("ts"), F.col("c1").alias("v")
    )
    agg = events.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out: list[tuple] = []
    query = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(
            lambda df, _: out.clear()
            or out.extend(
                (r["w"]["start"], r["n"]) for r in df.collect()
            )
        )
        .option(
            "checkpointLocation", os.path.join(q._storage.path, "ckpt_w")
        )
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    counts = sorted(n for _, n in out)
    # 120 one-minute events starting on an hour boundary -> window split
    assert sum(counts) == 120
    assert len(out) >= 2
    q.dispose()


def test_pin_released_on_run_available_completion(qpath, spark):
    """The in-memory compaction pin must not outlive the query; a
    parseable checkpoint downgrades compact() to stream-safe mode (a
    real, restricted compaction), while a pin with NO parseable
    checkpoint is a loud skip."""
    q = Queue(qpath, SCHEMA, capacity=10000)
    q.publisher().push_all([[i, f"v{i}"] for i in range(10)])
    StreamingConsumer(spark, q).run_available(lambda df, _: None)
    assert q._compaction_pins == 0  # pin released at termination

    # default checkpoint dir present -> stream-safe mode, not a skip
    q.compact()
    assert not q.last_compact_skipped

    # pin held with no parseable checkpoint -> loud skip
    import shutil

    shutil.rmtree(os.path.join(qpath, "checkpoint"))
    q.pin_compaction()
    q.compact()
    assert q.last_compact_skipped
    q.unpin_compaction()

    # no stream signals at all -> full compaction
    q.subscriber().pop_n(10)
    q.compact()
    assert not q.last_compact_skipped
    q.dispose()


def test_pin_released_when_continuous_query_stops(qpath, spark):
    """start_continuous holds a pin only while the query runs; stop()
    releases it via the termination listener (external checkpoint so
    no directory heuristic interferes)."""
    q = Queue(qpath, SCHEMA, capacity=10000)
    q.publisher().push_all([[i, f"v{i}"] for i in range(5)])
    consumer = StreamingConsumer(
        spark, q, checkpoint_dir=qpath + "-external-ckpt"
    )
    query = consumer.start_continuous(lambda df, _: None)
    assert q._compaction_pins == 1
    query.stop()
    query.awaitTermination(30)
    deadline = time.time() + 30
    while q._compaction_pins and time.time() < deadline:
        time.sleep(0.1)  # listener bus delivers asynchronously
    assert q._compaction_pins == 0
    # the external checkpoint remains RESUMABLE after stop, so the
    # queue stays attached via registration (r16: full compaction
    # here merged consumed files under new names and the next run
    # redelivered every consumed row) — full mode returns only once
    # the checkpoint itself is gone
    assert q._stream_attached()
    import shutil

    shutil.rmtree(qpath + "-external-ckpt")
    q.compact()
    assert not q.last_compact_skipped
    q.dispose()


def test_streaming_dedup_drops_republished_records(qpath, spark):
    """At-least-once producer residue: records re-pushed after a crash
    are suppressed in-stream by dedup_stream (bounded watermark state),
    so the downstream sink sees each business key once."""
    from quebic_spark.streaming import dedup_stream

    q = Queue(qpath, Schema(INTEGER, INTEGER), capacity=10000)
    base = 1_700_000_000_000
    originals = [[base + i * 1000, i] for i in range(50)]
    q.publisher().push_all(originals)
    # crash-replay: the producer re-pushes a suffix it already sent
    q.publisher().push_all(originals[30:])

    stream = read_queue_stream(spark, q).select(
        F.timestamp_millis(F.col("c0")).alias("ts"),
        F.col("c1").alias("k"),
    )
    deduped = dedup_stream(stream, ["k"], "ts", watermark="1 hour")
    got: list[int] = []
    query = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(lambda df, _: got.extend(r["k"] for r in df.collect()))
        .option("checkpointLocation", os.path.join(qpath, "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    assert sorted(got) == list(range(50))  # every key exactly once
    q.dispose()


def test_compact_during_continuous_stream(qpath, spark):
    """Streaming-compatible compaction: while a continuous query runs,
    compact() deletes files the stream has committed (parsed from the
    checkpoint's sources/0 log) — disk shrinks, nothing is redelivered,
    and `latest` survives. This is the 100 TB operability story: a
    continuously-streamed queue log must not grow without bound."""
    from quebic_spark.queue.queue import _parse_stream_committed

    q = Queue(qpath, SCHEMA, capacity=100000)
    pub = q.publisher()
    # several committed batch files, plus a file of rows that TTL-expire
    # before the stream reads them (churn the stream never delivers)
    for r in range(4):
        pub.push_all([[r * 100 + i, f"r{r}"] for i in range(100)])
    pub.push_all([[9000 + i, "ttl"] for i in range(50)], lifetime_ms=1)
    time.sleep(0.05)

    seen: list[int] = []
    consumer = StreamingConsumer(spark, q)
    query = consumer.start_continuous(
        lambda df, _: seen.extend(r["seq"] for r in df.collect())
    )
    try:
        ckpt = os.path.join(qpath, "checkpoint")
        deadline = time.time() + 90
        while time.time() < deadline:
            committed = (
                _parse_stream_committed(ckpt)
                if os.path.isdir(ckpt) else None
            )
            if len(seen) >= 400 and committed:
                break
            time.sleep(0.2)
        assert len(seen) >= 400, f"stream never caught up: {len(seen)}"

        # a fresh tail file so the committed ones aren't max-seq
        pub.push_all([[10000 + i, "tail"] for i in range(100)])
        files_before = len(q._storage.list_batches())
        space_before = q.disk_space()

        remaining = q.compact()  # DURING the live stream
        assert not q.last_compact_skipped
        assert remaining < files_before, "no committed file reclaimed"
        assert q.disk_space() < space_before
        assert q.publisher().latest() is not None  # latest survives

        # zero redelivery: the tail flows through exactly once
        deadline = time.time() + 90
        while time.time() < deadline and len(seen) < 500:
            time.sleep(0.2)
        assert len(seen) >= 500, f"tail not delivered: {len(seen)}"
        assert len(seen) == len(set(seen)), "redelivered seqs after compact"
    finally:
        query.stop()
    q.dispose()


def test_streaming_failure_counts_survive_restart(qpath, spark):
    """Durable poison counts (JournaledFile.scala:320 parity): the
    failing batch reaches the DLQ after error_permit TOTAL failures
    across FRESH consumer instances (simulated process restarts) —
    without persistence every restart would grant fresh tries and the
    poison batch would loop forever."""
    q = Queue(qpath, SCHEMA, capacity=1000)
    q.publisher().push_all([[i, "x"] for i in range(7)])

    def failing(df, batch_id):
        raise RuntimeError("poison")

    for _ in range(3):
        consumer = StreamingConsumer(spark, q, error_permit=3)
        try:
            consumer.run_available(failing)
        except Exception:
            pass
    dlq_files = [
        f for f in os.listdir(q._storage.dlq_dir) if f.endswith(".parquet")
    ]
    assert dlq_files, "poison batch never reached the DLQ"
    assert spark.read.parquet(q._storage.dlq_dir).count() == 7
    # the durable count is cleared once the batch is dead-lettered
    assert StreamingConsumer(spark, q, error_permit=3)._failures == {}
    q.dispose()


def test_auto_compact_during_streaming_consumer(qpath, spark):
    """compact_every_batches: the consumer reclaims what it has
    committed as it goes — the maintenance loop that keeps a
    continuously-streamed queue bounded without operator intervention."""
    q = Queue(qpath, SCHEMA, capacity=100000)
    pub = q.publisher()
    for r in range(3):
        pub.push_all([[r * 10 + i, "x"] for i in range(10)])
    seen: list[int] = []

    def collect(df, _):
        seen.extend(r["seq"] for r in df.collect())

    StreamingConsumer(spark, q, compact_every_batches=1).run_available(
        collect
    )
    files_after_first = len(q._storage.list_batches())
    assert files_after_first == 3  # first batch ran before any commit

    pub.push_all([[100 + i, "y"] for i in range(10)])
    StreamingConsumer(spark, q, compact_every_batches=1).run_available(
        collect
    )
    # the second run's in-batch compact saw commit 0 and reclaimed the
    # three files the first run consumed; the new tail file survives
    assert len(q._storage.list_batches()) == 1
    assert len(seen) == len(set(seen)) == 40  # zero redelivery
    assert q.publisher().latest() is not None
    q.dispose()


def test_stream_safe_merge_of_undiscovered_small_files(qpath, spark):
    """merge_undiscovered: small files the source has NEVER listed merge
    into one target-sized file while committed files are deleted — the
    slow-consumer unbounded-small-file hole, closed. Rows flow through
    exactly once afterwards (no redelivery of merged content, no skips)."""
    q = Queue(qpath, SCHEMA, capacity=100000)
    pub = q.publisher()
    for r in range(3):
        pub.push_all([[r * 10 + i, "old"] for i in range(10)])
    seen: list[int] = []

    def collect(df, _):
        seen.extend(r["seq"] for r in df.collect())

    StreamingConsumer(spark, q).run_available(collect)
    assert len(seen) == 30

    # backlog the (stopped, but resumable) stream has never listed:
    # ten 10-row files + one tail file
    for r in range(10):
        pub.push_all([[1000 + r * 10 + i, "new"] for i in range(10)])
    pub.push_all([[5000 + i, "tail"] for i in range(10)])
    files_before = len(q._storage.list_batches())
    assert files_before == 3 + 11

    ckpt = os.path.join(qpath, "checkpoint")
    q.pin_compaction()  # simulate the live stream holding its pin
    try:
        remaining = q.compact(
            stream_checkpoint=ckpt, merge_undiscovered=True
        )
    finally:
        q.unpin_compaction()
    assert not q.last_compact_skipped
    # 3 committed deleted; 10 undiscovered merged to 1; tail (max-seq)
    # untouched
    assert remaining == 2
    batches = q._storage.list_batches()
    assert len(batches) == 2
    assert (batches[0][0], batches[0][1]) == (31, 130)  # merged span

    # resume the stream from the same checkpoint: every backlog row
    # exactly once, none lost, none doubled
    StreamingConsumer(spark, q).run_available(collect)
    assert len(seen) == 140
    assert len(seen) == len(set(seen))
    q.dispose()


def test_merge_undiscovered_crash_mid_merge_recovers(qpath, spark):
    """Crash between manifest write and the staged-rename: recovery
    replays the merge (rename staged + delete originals), and a stream
    restart delivers every row exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quebic_spark.queue.storage import write_json_atomic

    q = Queue(qpath, SCHEMA, capacity=100000)
    pub = q.publisher()
    pub.push_all([[i, "a"] for i in range(10)])
    seen: list[int] = []

    def collect(df, _):
        seen.extend(r["seq"] for r in df.collect())

    StreamingConsumer(spark, q).run_available(collect)  # commits file 1
    # two small undiscovered files + a tail
    pub.push_all([[100 + i, "b"] for i in range(10)])
    pub.push_all([[200 + i, "c"] for i in range(10)])
    pub.push_all([[300 + i, "tail"] for i in range(10)])

    batches = q._storage.list_batches()
    to_merge = [b for b in batches if b[0] in (11, 21)]
    assert len(to_merge) == 2
    merged = pa.concat_tables(
        [pq.read_table(p) for _, _, p in to_merge]
    ).sort_by("seq")
    staged = q._storage.batch_path(11, 30) + ".compact"
    pq.write_table(merged, staged)
    write_json_atomic(
        q._storage.compact_manifest_path,
        {"staged": [staged], "remove": [p for _, _, p in to_merge]},
    )
    os.remove(to_merge[0][2])  # crash: one original deleted, no rename
    q.close()

    q2 = Queue(qpath, SCHEMA, capacity=100000)  # recover() replays
    assert not os.path.exists(q2._storage.compact_manifest_path)
    spans = [(s, e) for s, e, _ in q2._storage.list_batches()]
    assert (11, 30) in spans and (11, 20) not in spans

    seen2: list[int] = []
    StreamingConsumer(spark, q2).run_available(
        lambda df, _: seen2.extend(r["seq"] for r in df.collect())
    )
    assert sorted(seen2) == list(range(11, 41))  # exactly once, no gaps
    q2.dispose()


def test_recover_discards_partial_multichunk_staging(qpath, spark):
    """Containment rule (round-5 review): a staged .compact chunk that
    PARTIALLY overlaps a committed file means staging crashed mid-run
    (the sibling chunk was never written) — recovery must discard the
    chunk and keep the originals; committing it would delete live rows
    that exist nowhere else. Fully-contained staging still commits."""
    import pyarrow.parquet as pq

    q = Queue(qpath, SCHEMA, capacity=100000)
    pub = q.publisher()
    pub.push_all([[i, "a"] for i in range(10)])     # file 1-10
    pub.push_all([[100 + i, "b"] for i in range(10)])  # file 11-20
    batches = q._storage.list_batches()
    assert [(s, e) for s, e, _ in batches] == [(1, 10), (11, 20)]

    # crash artifact: a chunk spanning 1-15 (straddles file 2) with no
    # manifest — as if the 16-20 sibling chunk was never written
    t = pq.read_table(batches[0][2])
    straddler = q._storage.batch_path(1, 15) + ".compact"
    pq.write_table(t, straddler)
    q._storage.recover()
    q._storage.drop_row_cache()
    spans = [(s, e) for s, e, _ in q._storage.list_batches()]
    assert spans == [(1, 10), (11, 20)]  # originals intact
    assert not os.path.exists(straddler)  # chunk discarded

    # fully-contained staging still commits: chunk exactly covering
    # file 1 replaces it
    contained = q._storage.batch_path(1, 10) + ".compact"
    pq.write_table(t, contained)
    q._storage.recover()
    q._storage.drop_row_cache()
    spans = [(s, e) for s, e, _ in q._storage.list_batches()]
    assert spans == [(1, 10), (11, 20)]
    assert not os.path.exists(contained)  # renamed into place

    got = [r[0] for r in q.subscriber().pop_n(20)]
    assert got == list(range(10)) + [100 + i for i in range(10)]
    q.dispose()


def test_streaming_hourly_tier_matches_batch_rollup(spark, tmp_path):
    """The rollup hierarchy's scale claim made literal: the hourly
    tier maintained INCREMENTALLY over a stream (readStream -> window
    agg) must equal the batch hourly tier of event_rollup_hierarchy
    for the same events — the stored-continuous-aggregate pattern."""
    import shutil

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        import os as _os

        src_dir = str(tmp_path / "events_src")
        _os.makedirs(src_dir)
        shutil.copy(
            "/root/testdata/sf0.001/events.parquet",
            _os.path.join(src_dir, "events.parquet"),
        )
        from quebic_spark.operators.events import (
            q_event_rollup_hierarchy,
        )

        batch_hourly = sorted(
            (r["bucket"], r["event_type"], r["n_events"],
             r["value_max"])
            for r in q_event_rollup_hierarchy(
                spark, "/root/testdata/sf0.001"
            ).filter(F.col("granularity") == "hour").collect()
        )

        # normalize the raw stream the same way _events does: ts may
        # be int64 nanos under the legacy reader
        raw = spark.readStream.schema(
            spark.read.parquet(
                _os.path.join(src_dir, "events.parquet")
            ).schema
        ).parquet(src_dir)
        ts_type = dict(raw.dtypes)["ts"]
        # integer DIV like _events (events.py): double division of
        # ~1.7e18 ns epochs loses unit-microsecond precision (2^53)
        ts_col = (
            F.timestamp_micros(F.expr("ts DIV 1000"))
            if ts_type == "bigint" else F.col("ts")
        )
        agg = (
            raw.select(
                ts_col.alias("ts"), "event_type", "value"
            )
            .groupBy(
                F.date_trunc("hour", F.col("ts")).alias("bucket"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max("value").alias("value_max"),
            )
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("hourly_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["bucket"], r["event_type"], r["n_events"],
             r["value_max"])
            for r in spark.sql(
                "SELECT * FROM hourly_stream"
            ).collect()
        )
        assert got == batch_hourly and len(got) > 0
    finally:
        spark.conf.unset("spark.sql.session.timeZone")


def test_queue_quality_stack_relay(qpath, spark, sf_dir):
    """Full-system composition: documents ride the QUEUE as an
    ingestion buffer, the stream applies the scan-resident quality
    stack (heuristic score + trained-classifier probability — pure
    projections, so they plan unchanged on the stream), and survivors
    relay into a sink queue. The streamed survivor set must equal the
    batch-path filter over the same docs."""
    from quebic_spark import TEXT
    from quebic_spark.operators.classifier import (
        classifier_prob_col,
        train_quality_classifier,
    )
    from quebic_spark.pipeline import quality_score_col
    from quebic_spark.streaming import queue_sink

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    model = train_quality_classifier(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )

    doc_schema = Schema(INTEGER, TEXT)
    src = Queue(qpath + "_qsrc", doc_schema, capacity=10000)
    dst = Queue(qpath + "_qdst", doc_schema, capacity=10000)
    src.publisher().push_all(
        [[r["doc_id"], r["text"]] for r in docs.collect()]
    )

    stream = read_queue_stream(spark, src).select(
        F.col("c0"), F.col("c1").alias("text")
    )
    kept = (
        stream.withColumn("q", quality_score_col())
        .withColumn("p", classifier_prob_col(model))
        .filter((F.col("q") >= 0.35) & (F.col("p") >= 0.5))
        .select("c0", F.col("text").alias("c1"))
    )
    q = (
        kept.writeStream.foreachBatch(queue_sink(dst, order_by=["c0"]))
        .option(
            "checkpointLocation",
            os.path.join(src._storage.path, "qstack"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = []
    while True:
        v = dst.subscriber().try_pop()
        if v is None:
            break
        got.append(v[0])

    want = sorted(
        r["doc_id"]
        for r in docs.withColumn("q", quality_score_col())
        .withColumn("p", classifier_prob_col(model))
        .filter((F.col("q") >= 0.35) & (F.col("p") >= 0.5))
        .collect()
    )
    assert sorted(got) == want
    assert 0 < len(want) < 120  # both filters bite, neither wipes
    src.dispose()
    dst.dispose()


def test_streaming_dedup_against_snapshot_two_tier(qpath, spark):
    """Day-2 incremental dedup on a live feed: records whose content
    key exists in the historical snapshot are dropped in-stream —
    definitely-new rows via the broadcast bloom alone, might-contain
    rows via the stream-static anti-join — and the result matches the
    batch incremental_dedup contract exactly (bloom fp can only route
    rows to the verify tier, never change the answer)."""
    from quebic_spark.operators.dedup import auto_bloom_bits, build_bloom
    from quebic_spark.streaming import dedup_stream_against_snapshot

    # historical snapshot: keys k0..k29
    snapshot = spark.createDataFrame(
        [(f"k{i}",) for i in range(30)], "content_key string"
    )
    bloom = build_bloom(
        snapshot, "content_key", m_bits=auto_bloom_bits(30)
    )

    q = Queue(qpath, Schema(INTEGER, TEXT), capacity=10000)
    # feed: 20 replays of snapshot keys + 40 genuinely new keys
    feed = [[i, f"k{i + 10}"] for i in range(20)]          # k10..k29 dup
    feed += [[100 + i, f"new{i}"] for i in range(40)]
    q.publisher().push_all(feed)

    stream = read_queue_stream(spark, q).select(
        F.col("c0").alias("rec_id"),
        F.col("c1").alias("content_key"),
    )
    out = dedup_stream_against_snapshot(stream, snapshot, bloom=bloom)
    got: list[str] = []
    query = (
        out.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _: got.extend(
                r["content_key"] for r in df.collect()
            )
        )
        .option("checkpointLocation", os.path.join(qpath, "snap_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    assert sorted(got) == sorted(f"new{i}" for i in range(40))

    # bloom=None (join-only tier) must agree
    got2: list[str] = []
    q2 = Queue(qpath + "_2", Schema(INTEGER, TEXT), capacity=10000)
    q2.publisher().push_all(feed)
    stream2 = read_queue_stream(spark, q2).select(
        F.col("c0").alias("rec_id"),
        F.col("c1").alias("content_key"),
    )
    query2 = (
        dedup_stream_against_snapshot(stream2, snapshot)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda df, _: got2.extend(
                r["content_key"] for r in df.collect()
            )
        )
        .option("checkpointLocation", os.path.join(qpath, "snap_ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    query2.awaitTermination(120)
    assert sorted(got2) == sorted(got)
    q.dispose()
    q2.dispose()


def test_streaming_dedup_snapshot_nondefault_bloom_k(spark):
    """A bloom built with a non-default hash count must be probed with
    the SAME k (r7 advice: the k parameter didn't exist, so such a
    filter was silently probed with BLOOM_HASHES — bloom false
    NEGATIVES, i.e. duplicates shipping through the fast path). The
    operator is a plain DataFrame transform, so the contract is
    checkable on a batch frame: with the matching k every snapshot
    dup is dropped and every new key kept, exactly the anti-join
    answer."""
    from quebic_spark.operators.dedup import auto_bloom_bits, build_bloom
    from quebic_spark.streaming import dedup_stream_against_snapshot

    snapshot = spark.createDataFrame(
        [(f"k{i}",) for i in range(30)], "content_key string"
    )
    bloom3 = build_bloom(
        snapshot, "content_key", m_bits=auto_bloom_bits(30), k=3
    )
    feed = spark.createDataFrame(
        [(i, f"k{i + 10}") for i in range(20)]
        + [(100 + i, f"new{i}") for i in range(40)],
        "rec_id int, content_key string",
    )
    got = sorted(
        r["content_key"]
        for r in dedup_stream_against_snapshot(
            feed, snapshot, bloom=bloom3, k=3
        ).collect()
    )
    assert got == sorted(f"new{i}" for i in range(40))


def test_compact_failure_never_dlqs_healthy_batch(qpath, spark):
    """r14 review: compaction ran inside the failure-counting try, so
    a persistently failing compact() incremented error_permit and
    eventually routed a batch f() had processed SUCCESSFULLY to the
    DLQ (re-running its side effects each restart). Compaction errors
    must fail the stream loud with the user batch committed — never
    mislabel healthy data as poison."""
    q = Queue(qpath, SCHEMA, capacity=1000)
    q.publisher().push_all([[i, "x"] for i in range(6)])
    processed = []

    def good(df, batch_id):
        processed.append(df.count())

    consumer = StreamingConsumer(
        spark, q, error_permit=2, compact_every_batches=1
    )
    real_compact = Queue.compact

    def broken_compact(self, *a, **k):
        raise RuntimeError("simulated storage failure in compact")

    Queue.compact = broken_compact
    try:
        for _ in range(3):  # more rounds than error_permit
            with pytest.raises(Exception, match="compact"):
                consumer.run_available(good)
    finally:
        Queue.compact = real_compact
    # the user function processed the batch (first round); no DLQ file
    # ever appeared, and no failure count accumulated for the batch
    assert processed and processed[0] == 6
    dlq_files = [
        f for f in os.listdir(q._storage.dlq_dir)
        if f.endswith(".parquet")
    ]
    assert dlq_files == [], dlq_files
    assert consumer._failures == {}
    q.dispose()


def test_snapshot_dedup_rejects_reserved_might_dup(spark):
    """r15 review: a stream already carrying _might_dup had it
    silently replaced and then dropped."""
    from quebic_spark.operators.dedup import build_bloom
    from quebic_spark.streaming import dedup_stream_against_snapshot

    snap = spark.createDataFrame(
        [("a",)], "content_key string"
    )
    stream = spark.createDataFrame(
        [("a", True)], "content_key string, _might_dup boolean"
    )
    bloom = build_bloom(snap, "content_key")
    with pytest.raises(ValueError, match="_might_dup"):
        dedup_stream_against_snapshot(stream, snap, bloom=bloom)


def test_rate_limited_compact_skips_undiscovered_merge(qpath, spark):
    """r16 review: with maxFilesPerTrigger the source lists files
    up-front but WALs them into the offset log only at their own
    micro-batch — files it has ALREADY listed look 'undiscovered' to
    the checkpoint parse, so merging+deleting them makes the next
    batch WAL dead paths and wedges the stream. Rate-limited runs
    must take delete-only mode (and the whole backlog must still
    drain — this test would have crashed with FileNotFoundException
    under merge mode)."""
    q = Queue(qpath, SCHEMA, capacity=10000, auto_compact_files=None)
    for i in range(8):  # 8 small files, one per push
        q.publisher().push([i, f"v{i}"])
    merge_flags: list[bool] = []
    real_compact = q.compact

    def spy_compact(*a, **kw):
        merge_flags.append(kw.get("merge_undiscovered", False))
        return real_compact(*a, **kw)

    q.compact = spy_compact
    got: list[int] = []
    consumer = StreamingConsumer(spark, q, compact_every_batches=1)
    consumer.run_available(
        lambda df, _: got.extend(r["c0"] for r in df.collect()),
        max_files_per_trigger=2,
    )
    assert sorted(got) == list(range(8))
    assert merge_flags and not any(merge_flags), merge_flags
    # an unlimited run keeps the merge tier
    q.publisher().push([100, "x"])
    consumer.run_available(
        lambda df, _: None,
    )
    assert merge_flags[-1] is True, merge_flags
    q.dispose()


def test_external_checkpoint_survives_full_compaction(tmp_path, spark):
    """r16 review: a consumer with an EXTERNAL checkpoint_dir
    unpinned on return, and the durable attached-heuristic only
    watches the default in-queue checkpoint — a later full compact()
    merged the consumed files under new names, and the next run
    silently redelivered every consumed row. Registration makes the
    queue treat the external checkpoint as attached while it exists."""
    qdir = str(tmp_path / "q")
    ckpt = str(tmp_path / "elsewhere_ckpt")
    q = Queue(qdir, SCHEMA, capacity=10000, auto_compact_files=None)
    for i in range(6):
        q.publisher().push([i, f"v{i}"])
    first: list[int] = []
    consumer = StreamingConsumer(spark, q, checkpoint_dir=ckpt)
    consumer.run_available(
        lambda df, _: first.extend(r["c0"] for r in df.collect())
    )
    assert sorted(first) == list(range(6))
    # the hole: a full compact here (pins released) rewrote consumed
    # files under new names. With registration, compact takes the
    # stream-safe path against the external checkpoint instead.
    assert q._stream_attached()
    q.compact()
    second: list[int] = []
    StreamingConsumer(spark, q, checkpoint_dir=ckpt).run_available(
        lambda df, _: second.extend(r["c0"] for r in df.collect())
    )
    assert second == [], f"redelivered consumed rows: {second}"
    q.dispose()


# -- exactly-once queue_sink (r19): the commit-marker protocol ----------


def _drain_ids(q):
    got = []
    sub = q.subscriber()
    while True:
        r = sub.try_pop()
        if r is None:
            break
        got.append(r[0])
    return got


def _sink_marks(q):
    from quebic_spark.queue.storage import read_json

    return read_json(os.path.join(q._storage.path, "sink-commits.json"))


def test_queue_sink_noops_replayed_batch(qpath, spark):
    """Spark re-runs the last micro-batch after a crash between
    foreachBatch and the checkpoint commit; the committed marker must
    make the re-run a no-op instead of a duplicate append."""
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(5)],
                               "c0 int, c1 string")
    sink = queue_sink(dst, order_by=["c0"])
    sink(df, 0)
    sink(df, 0)  # the replay
    assert _drain_ids(dst) == list(range(5))
    m = _sink_marks(dst)["default"]
    assert m["batch_id"] == 0 and m["committed"] is True
    dst.dispose()


def test_queue_sink_empty_batch_writes_only_committed_marker(
    qpath, spark, monkeypatch
):
    """An empty micro-batch stages zero rows: the sink writes one
    committed marker (no intent marker), and the queue's pointer and
    batch files are untouched."""
    from quebic_spark.queue import storage as storage_mod
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=100)
    marks_path = os.path.join(dst._storage.path, "sink-commits.json")
    writes = []
    real_write = storage_mod.write_json_atomic

    def spy(path, obj, *args, **kwargs):
        if path == marks_path:
            writes.append({sid: dict(m) for sid, m in obj.items()})
        return real_write(path, obj, *args, **kwargs)

    monkeypatch.setattr(storage_mod, "write_json_atomic", spy)
    sink = queue_sink(dst, order_by=["c0"])
    sink(spark.createDataFrame([], "c0 long, c1 string"), 0)
    assert writes == [{"default": {"batch_id": 0, "start_seq": 1,
                                   "rows": 0, "committed": True}}]
    assert dst._storage.next_seq() == 1
    assert dst._storage.list_batches() == []
    assert not [n for n in os.listdir(dst._storage.path)
                if n.startswith("_staging-")]
    dst.dispose()


def test_queue_sink_micro_batch_runs_one_job(qpath, spark):
    """One queue_sink micro-batch under run_available is one Spark job,
    the staged write: the consumer sorts a small batch inside one
    coalesced partition, so the sink's seq window needs no exchange,
    and append_dataframe runs no count."""
    from quebic_spark.streaming import queue_sink

    src = Queue(qpath + "_src", SCHEMA, capacity=10000)
    dst = Queue(qpath + "_dst", SCHEMA, capacity=10000)
    for lo in (0, 40):
        src.append_dataframe(
            spark.range(lo, lo + 40).selectExpr("id", "concat('v', id)"),
            order_by=["id"],
        )
    sc = spark.sparkContext
    sink = queue_sink(dst, order_by=["a_seq"])
    groups, batches = set(), []

    def body(df, batch_id):
        groups.add(sc.getLocalProperty("spark.jobGroup.id"))
        batches.append(batch_id)
        sink(df.select("c0", "c1", F.col("seq").alias("a_seq")), batch_id)

    StreamingConsumer(spark, src).run_available(body,
                                                max_files_per_trigger=1)
    assert len(batches) == 2 and None not in groups
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sum(len(sc.statusTracker().getJobIdsForGroup(g))
               for g in groups)
    assert jobs <= len(batches), jobs
    assert _drain_ids(dst) == list(range(80))
    dst.verify()
    src.dispose()
    dst.dispose()


def test_queue_sink_intent_with_moved_pointer_skips(qpath, spark):
    """Crash window: append committed (pointer flipped) but the
    committed-marker write never ran. The replay must attribute the
    pointer advance to the recorded intent and skip — zero
    duplicates."""
    from quebic_spark.queue.storage import read_json, write_json_atomic
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(4)],
                               "c0 int, c1 string")
    sink = queue_sink(dst, order_by=["c0"])
    sink(df, 0)
    # manufacture the crash state: rewind the marker to intent
    path = os.path.join(dst._storage.path, "sink-commits.json")
    marks = read_json(path)
    marks["default"]["committed"] = False
    write_json_atomic(path, marks)
    sink(df, 0)  # replay over the torn marker
    assert _drain_ids(dst) == list(range(4))
    assert _sink_marks(dst)["default"]["committed"] is True
    dst.dispose()


def test_queue_sink_intent_without_append_redoes(qpath, spark):
    """Crash window: intent written, process died before the append's
    pointer flip. Nothing is visible, so the replay must redo the
    append — zero loss."""
    from quebic_spark.queue.storage import write_json_atomic
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    write_json_atomic(
        os.path.join(dst._storage.path, "sink-commits.json"),
        {"default": {"batch_id": 0,
                     "start_seq": dst._storage.next_seq(),
                     "committed": False}},
    )
    df = spark.createDataFrame([(i, f"v{i}") for i in range(3)],
                               "c0 int, c1 string")
    queue_sink(dst, order_by=["c0"])(df, 0)
    assert _drain_ids(dst) == list(range(3))
    dst.dispose()


def test_queue_sink_rewound_batch_id_fails_loud(qpath, spark):
    """A checkpoint reset under a reused sink_id restarts batch ids at
    0 while the marker sits at a higher id: silently skipping loses
    data and silently appending can duplicate — the sink must refuse."""
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    df = spark.createDataFrame([(1, "a")], "c0 int, c1 string")
    sink = queue_sink(dst, order_by=["c0"])
    sink(df, 5)
    with pytest.raises(RuntimeError, match="behind the committed marker"):
        sink(df, 3)
    # a fresh sink_id keeps the queue usable
    queue_sink(dst, order_by=["c0"], sink_id="v2")(df, 0)
    assert _drain_ids(dst) == [1, 1]
    dst.dispose()


def test_queue_sink_exactly_once_false_duplicates(qpath, spark):
    """The opt-out restores the plain at-least-once append (and writes
    no marker)."""
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    df = spark.createDataFrame([(7, "x")], "c0 int, c1 string")
    sink = queue_sink(dst, order_by=["c0"], exactly_once=False)
    sink(df, 0)
    sink(df, 0)
    assert _drain_ids(dst) == [7, 7]
    assert not os.path.exists(
        os.path.join(dst._storage.path, "sink-commits.json")
    )
    dst.dispose()


def test_queue_sink_independent_sink_ids(qpath, spark):
    """Two relays into one queue track their own batch ids."""
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    df_a = spark.createDataFrame([(1, "a")], "c0 int, c1 string")
    df_b = spark.createDataFrame([(2, "b")], "c0 int, c1 string")
    a = queue_sink(dst, order_by=["c0"], sink_id="a")
    b = queue_sink(dst, order_by=["c0"], sink_id="b")
    a(df_a, 0)
    b(df_b, 0)
    a(df_a, 0)  # replay of a's batch 0 — b's marker must not mask it
    assert _drain_ids(dst) == [1, 2]
    marks = _sink_marks(dst)
    assert marks["a"]["committed"] and marks["b"]["committed"]
    dst.dispose()


def test_recover_discards_staged_for_external_checkpoint_cross_process(
    tmp_path, spark
):
    """ADVICE r18 low: recover()'s discard-staged-chunks heuristic keyed
    only on the default <queue>/checkpoint directory, so a stream on an
    EXTERNAL checkpoint whose compactor died pre-manifest could have
    its staged chunks committed under new names by a DIFFERENT
    process's open — the r18 double-delivery window, reproduced for
    the external layout. Registration is now durable
    (<queue>/stream-checkpoints.json) and a fresh cross-process open
    discards instead."""
    import pyarrow.parquet as pq

    qdir = str(tmp_path / "q")
    ckpt = str(tmp_path / "elsewhere_ckpt")
    q = Queue(qdir, SCHEMA, capacity=10000, auto_compact_files=None)
    for i in range(6):
        q.publisher().push([i, f"v{i}"])
    consumed: list[int] = []
    StreamingConsumer(spark, q, checkpoint_dir=ckpt).run_available(
        lambda df, _: consumed.extend(r["c0"] for r in df.collect())
    )
    assert sorted(consumed) == list(range(6))
    # crash artifact: a COMPLETE pre-manifest staged merge of files
    # the stream may already have listed (they are all still on disk)
    batches = q._storage.list_batches()
    merged_tbl = pq.read_table(batches[0][2])
    for _, _, p in batches[1:3]:
        import pyarrow as pa

        merged_tbl = pa.concat_tables([merged_tbl, pq.read_table(p)])
    staged = q._storage.batch_path(batches[0][0], batches[2][1]) + ".compact"
    pq.write_table(merged_tbl, staged)
    # the dying process's handles go away; a brand-new process opens
    q._closed = True
    q._storage.close_handles()
    spans_before = [(s, e) for s, e, _ in batches]
    q2 = Queue(qdir, SCHEMA, capacity=10000, auto_compact_files=None)
    # DISCARDED, not committed: the originals all survive and the
    # merged span never appears under a new name (a commit would also
    # remove the .compact file, so only the span shape distinguishes
    # the safe outcome from the double-delivery one)
    assert not os.path.exists(staged)
    assert [
        (s, e) for s, e, _ in q2._storage.list_batches()
    ] == spans_before
    # originals intact, stream sees nothing new
    redelivered: list[int] = []
    StreamingConsumer(spark, q2, checkpoint_dir=ckpt).run_available(
        lambda df, _: redelivered.extend(r["c0"] for r in df.collect())
    )
    assert redelivered == [], redelivered
    q2.dispose()


def test_queue_sink_two_sinks_contend_with_replays(qpath, spark):
    """Two sinks (distinct sink_ids) appending into ONE queue from
    concurrent threads, each immediately replaying every batch: the
    shared marker file's read-modify-write under the queue flock must
    never clobber the other sink's entry, and every row lands exactly
    once. (The cross-PROCESS twin ran as a verify drive — two Spark
    drivers, same invariants.)"""
    import threading

    dst = Queue(qpath, SCHEMA, capacity=10000)
    from quebic_spark.streaming import queue_sink

    errors: list = []

    def run(sid: str, base: int) -> None:
        try:
            sink = queue_sink(dst, order_by=["c0"], sink_id=sid)
            for b in range(3):
                df = spark.createDataFrame(
                    [(base + b * 10 + i, f"{sid}{i}") for i in range(4)],
                    "c0 int, c1 string",
                )
                sink(df, b)
                sink(df, b)  # replay under live contention: no-op
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=run, args=("a", 100)),
        threading.Thread(target=run, args=("b", 500)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    got = sorted(_drain_ids(dst))
    want = sorted(
        [100 + b * 10 + i for b in range(3) for i in range(4)]
        + [500 + b * 10 + i for b in range(3) for i in range(4)]
    )
    assert got == want
    marks = _sink_marks(dst)
    assert marks["a"]["committed"] and marks["b"]["committed"]
    assert marks["a"]["batch_id"] == marks["b"]["batch_id"] == 2
    dst.dispose()


def test_stream_checkpoint_registry_prunes_dead_entries(tmp_path):
    """The durable external-checkpoint registry (r19) prunes entries
    whose directory no longer exists on each registration — a stream
    torn down and replaced must not leave the queue permanently
    'attached' through a stale path (one stat per stale entry is the
    accepted cost until the next write)."""
    q = Queue(str(tmp_path / "q"), SCHEMA, capacity=100)
    a, b = str(tmp_path / "ck_a"), str(tmp_path / "ck_b")
    os.makedirs(a)
    os.makedirs(b)
    q.register_stream_checkpoint(a)
    q.register_stream_checkpoint(b)
    assert sorted(q._storage.registered_stream_checkpoints()) == [a, b]
    assert q._stream_attached()
    # checkpoint A is deleted (stream permanently gone); the next
    # registration prunes it from the durable file
    import shutil

    shutil.rmtree(a)
    c = str(tmp_path / "ck_c")
    os.makedirs(c)
    q.register_stream_checkpoint(c)
    assert sorted(q._storage.registered_stream_checkpoints()) == [b, c]
    # all dirs gone -> not attached (fresh object: durable signal only)
    shutil.rmtree(b)
    shutil.rmtree(c)
    q.close()
    q2 = Queue(str(tmp_path / "q"), SCHEMA, capacity=100)
    assert not q2._stream_attached()
    q2.dispose()


def test_queue_sink_foreign_producer_during_gap_fails_loud(qpath, spark):
    """r20 (ADVICE r19 medium): a producer OUTSIDE the marker protocol
    advancing the pointer during a crash-replay gap used to be silently
    absorbed by the pointer-moved heuristic — marking a batch committed
    that may never have appended (at-most-once loss). With the staged
    row count in the marker, an advance that matches no combination of
    recorded txns must fail loud."""
    from quebic_spark.queue.storage import read_json, write_json_atomic
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(4)],
                               "c0 int, c1 string")
    sink = queue_sink(dst, order_by=["c0"])
    sink(df, 0)
    # crash window: append committed (pointer at start+4) but the
    # committed-marker write never ran
    path = os.path.join(dst._storage.path, "sink-commits.json")
    marks = read_json(path)
    assert marks["default"]["rows"] == 4  # staged count is recorded
    marks["default"]["committed"] = False
    write_json_atomic(path, marks)
    # a foreign producer (plain push, no marker) races the gap
    dst.publisher().push([99, "foreign"])
    with pytest.raises(RuntimeError, match="outside the marker protocol"):
        sink(df, 0)
    dst.dispose()


def test_queue_sink_foreign_advance_before_staging_redoes(qpath, spark):
    """A crash BEFORE staging finished leaves an intent without
    ``rows`` — that attempt provably never flipped the pointer, so a
    foreign advance in the gap belongs to the foreign producer and the
    replay must redo the append (exactly-once preserved, rows ordered
    after the foreign ones)."""
    from quebic_spark.queue.storage import write_json_atomic
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    write_json_atomic(
        os.path.join(dst._storage.path, "sink-commits.json"),
        {"default": {"batch_id": 0,
                     "start_seq": dst._storage.next_seq(),
                     "committed": False}},
    )
    dst.publisher().push([99, "foreign"])
    df = spark.createDataFrame([(i, f"v{i}") for i in range(3)],
                               "c0 int, c1 string")
    queue_sink(dst, order_by=["c0"])(df, 0)
    assert _drain_ids(dst) == [99, 0, 1, 2]
    dst.dispose()


def test_queue_sink_sibling_sink_commit_during_gap_attributed(
    qpath, spark
):
    """Sibling queue_sink relays (distinct sink_ids) are INSIDE the
    protocol: their committed markers account for the pointer advance,
    so a crash-replay alongside a sibling's append resolves correctly
    in both directions (committed → skip; never-appended → redo)."""
    from quebic_spark.queue.storage import read_json, write_json_atomic
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    path = os.path.join(dst._storage.path, "sink-commits.json")
    df_a = spark.createDataFrame([(i, f"a{i}") for i in range(4)],
                                 "c0 int, c1 string")
    df_b = spark.createDataFrame([(10 + i, f"b{i}") for i in range(2)],
                                 "c0 int, c1 string")
    a = queue_sink(dst, order_by=["c0"], sink_id="a")
    b = queue_sink(dst, order_by=["c0"], sink_id="b")
    # direction 1: A committed (pointer flipped), marker torn back to
    # intent, then B appends during the gap; A's replay must subtract
    # B's accounted rows and attribute the remainder to its own txn
    a(df_a, 0)
    marks = read_json(path)
    marks["a"]["committed"] = False
    write_json_atomic(path, marks)
    b(df_b, 0)
    a(df_a, 0)  # replay: skip, not duplicate, not fail
    assert sorted(_drain_ids(dst)) == [0, 1, 2, 3, 10, 11]
    assert _sink_marks(dst)["a"]["committed"] is True

    # direction 2: A's intent staged (rows recorded) but never
    # flipped; B appends during the gap; A's replay must redo
    marks = read_json(path)
    marks["a"] = {"batch_id": 1,
                  "start_seq": dst._storage.next_seq(),
                  "rows": 4, "committed": False}
    write_json_atomic(path, marks)
    b(df_b, 1)
    df_a1 = spark.createDataFrame([(20 + i, f"a{i}") for i in range(4)],
                                  "c0 int, c1 string")
    a(df_a1, 1)  # replay of the never-appended txn: redo after B
    assert sorted(_drain_ids(dst)) == [10, 11, 20, 21, 22, 23]
    dst.dispose()


def test_queue_sink_ambiguous_sibling_intent_fails_loud(qpath, spark):
    """Two unresolved intents of the SAME size with one of them
    actually flipped: the pointer is consistent with either txn having
    committed — the replay must refuse to guess."""
    from quebic_spark.queue.storage import write_json_atomic
    from quebic_spark.streaming import queue_sink

    dst = Queue(qpath, SCHEMA, capacity=10000)
    start = dst._storage.next_seq()
    write_json_atomic(
        os.path.join(dst._storage.path, "sink-commits.json"),
        {"a": {"batch_id": 0, "start_seq": start,
               "rows": 2, "committed": False},
         "b": {"batch_id": 0, "start_seq": start,
               "rows": 2, "committed": False}},
    )
    # exactly one of the two txns flipped before the crash (which one
    # is unknowable from the pointer): fabricate via a plain append
    dst.publisher().push([1, "x"])
    dst.publisher().push([2, "y"])
    df = spark.createDataFrame([(i, f"v{i}") for i in range(2)],
                               "c0 int, c1 string")
    with pytest.raises(RuntimeError, match="consistent BOTH"):
        queue_sink(dst, order_by=["c0"], sink_id="a")(df, 0)
    dst.dispose()


def test_unregister_stream_checkpoint_resumes_full_compaction(tmp_path):
    """r20 lifecycle (VERDICT r19 #3): the registry prunes an entry
    only when its directory VANISHES, so a decommissioned stream whose
    checkpoint dir is merely abandoned held full compaction in
    stream-safe mode forever. unregister_stream_checkpoint releases
    it; a still-registered path keeps the safe mode."""
    q = Queue(str(tmp_path / "q"), SCHEMA, capacity=1000,
              auto_compact_files=None)
    for i in range(6):
        q.publisher().push([i, f"v{i}"])
    assert len(q._storage.list_batches()) == 6
    ck = str(tmp_path / "abandoned_ckpt")
    os.makedirs(ck)
    q.register_stream_checkpoint(ck)
    # registered + dir exists -> attached; full merge is withheld
    assert q._stream_attached()
    q.compact(small_file_rows=65_536)
    assert len(q._storage.list_batches()) == 6
    # a fresh process sees the same (durable registry)
    q.close()
    q2 = Queue(str(tmp_path / "q"), SCHEMA, capacity=1000,
               auto_compact_files=None)
    assert q2._stream_attached()
    # decommission: unregister while the abandoned dir still exists
    q2.unregister_stream_checkpoint(ck)
    assert not q2._stream_attached()
    q2.compact(small_file_rows=65_536)
    assert len(q2._storage.list_batches()) == 1  # full merge resumed
    assert sorted(_drain_ids(q2)) == list(range(6))
    # idempotent + durable across another reopen
    q2.unregister_stream_checkpoint(ck)
    q2.close()
    q3 = Queue(str(tmp_path / "q"), SCHEMA, capacity=1000,
               auto_compact_files=None)
    assert not q3._stream_attached()
    q3.dispose()
