"""queue_relay workload: bulk Spark ingest, one export, an exactly-once
streaming relay between two queues, and event operators over the same
rows, in rounds.

The generated ``events`` table (sf0.05: 50,000 rows) is landed in a fresh
queue A by ``N_APPENDS`` ``Queue.append_dataframe`` calls over
consecutive ``event_id`` ranges (one batch file each). Queue A is drained
once by ``sources.io.export_queue``. Then
``StreamingConsumer.run_available`` relays A into a fresh queue B through
``queue_sink`` (durable, exactly-once) at one file per trigger, so each
ingest call becomes one micro-batch. Last, the event operators in
``GATES`` run over the same events, each under its own Spark job group.
That is one round.

A run makes ``harness.timed_rounds(--seconds)`` rounds, each on fresh
queues, and reports the median round of ``harness.median_round`` over
the round's ten steps (four ingest calls, the export, the relay, four
operators): the wall-clock ``ops_per_s`` on the ``info`` line and the
gated CPU time per event, which leaves out the JVM's JIT compiler
threads (``harness.tree_cpu_s``). There is no untimed warm-up round: the
first round runs in a cold JVM and took about twice as long as the next,
and each step's median over three rounds leaves it out. Every round's
output is checked after it, outside its timed steps: the relay against
the source rows read with pyarrow, each operator against its DuckDB
oracle.
"""

from __future__ import annotations

import time

import checks
import datagen
from harness import median, median_round, timed_rounds, tree_cpu_s

SF = 0.05
N_APPENDS = 4
FILES_PER_TRIGGER = 1
RELAY_TIMEOUT_S = 150.0
# event operators of quebic_spark.operators run in every round: the four
# event gates that take about a second or less each once warm; the other
# event gates took 1.4-3.6 s each warm and up to 10 s cold (README.md)
GATES = (
    "event_pairs_within_5min",
    "event_sessions",
    "event_funnel",
    "event_watermark_windows",
)

# queue payload columns in events order: event_id, ts (epoch micros),
# user_id, event_type, value, props
_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def _schema():
    from quebic_spark import INTEGER, REAL, TEXT, Schema

    return Schema(INTEGER, INTEGER, INTEGER, TEXT, REAL, TEXT)


def _source_rows(path: str) -> tuple[list[tuple], int]:
    """Payload tuples read straight from the input file with pyarrow."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    cols = [t.column(c).to_pylist() for c in _COLUMNS]
    cols[1] = t.column("ts").cast("int64").to_pylist()
    return list(zip(*cols)), t.nbytes


def _queue_rows(spark, q) -> list[tuple]:
    pdf = q.read_pending(spark).toPandas()
    names = ["seq"] + list(q.schema.column_names)
    return list(pdf[names].itertuples(index=False, name=None))


def _export_rows(path: str) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return list(zip(*[t.column(i).to_pylist()
                      for i in range(t.num_columns)]))


def oracle_fingerprints(sf_dir: str) -> dict:
    """Each gate's DuckDB oracle fingerprint over the generated events."""
    import duckdb
    from quebic_spark.operators import ORACLES
    from tools.check_oracle import frame_fingerprint, pandas_rows

    con = duckdb.connect(config={"threads": 1})
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    out = {}
    for g in GATES:
        rel = con.execute(ORACLES[g])
        cols = [d[0] for d in rel.description]
        out[g] = frame_fingerprint(
            cols, pandas_rows(rel.fetchdf(date_as_object=True)))
    con.close()
    return out


class _Clock:
    """Wall time and CPU time (``tree_cpu_s``: this process, the JVM and
    the Python workers) of each timed step of a round, in order."""

    def __init__(self):
        self.wall: list[float] = []
        self.cpu: list[float] = []

    def start(self) -> None:
        self._cpu = tree_cpu_s()
        self._t = time.perf_counter()

    def stop(self) -> float:
        self.wall.append(time.perf_counter() - self._t)
        self.cpu.append(tree_cpu_s() - self._cpu)
        return self.wall[-1]


class _Relay:
    """The round's Spark objects and what the rounds measure."""

    def __init__(self, r, path: str, n: int):
        from pyspark.sql import functions as F

        self.r = r
        self.path = path
        self.F = F
        self.spark = r.spark
        self.sc = r.spark.sparkContext
        self.n = n
        # what the checks compare with; set before the first checked round
        self.source: list[tuple] = []
        self.oracle: dict = {}
        ts_micros = F.unix_micros(F.col("ts").cast("timestamp")).alias("ts")
        self.events = self.spark.read.parquet(
            f"{path}/events.parquet").select(
            "event_id", ts_micros, "user_id", "event_type", "value",
            "props")
        self.errors: list[str] = []

    def round(self, k: int) -> dict:
        """One round on fresh queues ``a<k>`` and ``b<k>``: its phase
        times, micro-batch and gate times, Spark job counts, bytes on
        disk of queue A, and the operations its checks reject."""
        from quebic_spark import Queue
        from quebic_spark.sources import io
        from quebic_spark.streaming.consumer import (
            StreamingConsumer,
            queue_sink,
        )

        r, F, sc, n = self.r, self.F, self.sc, self.n
        tr = r.trace
        failed = 0
        qa = Queue(r.path(f"a{k}"), _schema())
        bounds = [n * j // N_APPENDS for j in range(N_APPENDS + 1)]
        ingest_group, export_group = f"ingest{k}", f"export{k}"
        sc.setJobGroup(ingest_group, ingest_group)
        clock = _Clock()
        for lo, hi in zip(bounds, bounds[1:]):
            if tr:
                tr.request_id += 1
            chunk = self.events.filter((F.col("event_id") >= lo)
                                       & (F.col("event_id") < hi))
            clock.start()
            try:
                qa.append_dataframe(chunk, order_by=["event_id"])
            except Exception as exc:
                failed += hi - lo
                self.errors.append(repr(exc)[:300])
            clock.stop()
        ingest_s = sum(clock.wall)
        a_disk = qa.disk_space()

        sc.setJobGroup(export_group, export_group)
        export_dir = r.path(f"export{k}")
        if tr:
            tr.request_id += 1
        clock.start()
        try:
            io.export_queue(self.spark, qa, export_dir)
        except Exception as exc:
            failed += n
            self.errors.append(repr(exc)[:300])
        export_s = clock.stop()
        sc.setLocalProperty("spark.jobGroup.id", None)

        qb = Queue(r.path(f"b{k}"), _schema())
        sink = queue_sink(qb, ["a_seq"], sink_id="relay")
        cols = list(qa.schema.column_names)
        batch_ms: list[float] = []
        stream_groups: set[str] = set()

        def body(batch_df, batch_id):
            stream_groups.add(sc.getLocalProperty("spark.jobGroup.id"))
            out = batch_df.select(*cols, F.col("seq").alias("a_seq"))
            t = time.perf_counter()
            if tr:
                tr.request_id += 1
                tr.call_under("consumer.run_available", "consumer.batch",
                              "streaming.consumer", sink, out, batch_id)
            else:
                sink(out, batch_id)
            batch_ms.append((time.perf_counter() - t) * 1e3)

        consumer = StreamingConsumer(self.spark, qa)
        clock.start()
        try:
            consumer.run_available(body,
                                   max_files_per_trigger=FILES_PER_TRIGGER,
                                   timeout_s=RELAY_TIMEOUT_S)
        except Exception as exc:
            failed += n
            self.errors.append(repr(exc)[:300])
        relay_s = clock.stop()
        if not batch_ms:
            failed += n

        gate_s, gate_jobs, frames = self.gates(k, clock)
        gates_s = sum(gate_s.values())

        t0 = time.perf_counter()
        failed += checks.relay_mismatch(
            self.source, _queue_rows(self.spark, qa),
            _queue_rows(self.spark, qb), _export_rows(export_dir))
        for g, frame in frames.items():
            if frame is None or checks.gate_mismatch(*frame,
                                                     self.oracle[g]):
                failed += 1
        qa.close()
        qb.close()
        return {
            "phase_s": (ingest_s, export_s, relay_s, gates_s),
            # the steps median_round takes the medians of, in order: the
            # ingest calls, the export, the relay, the operators
            "steps": clock.wall,
            "cpu_steps": clock.cpu,
            "batch_ms": batch_ms,
            "jobs": (r.jobs_in_group(ingest_group),
                     r.jobs_in_group(export_group),
                     sum(r.jobs_in_group(g) for g in stream_groups if g)),
            "gate_s": gate_s,
            "gate_jobs": gate_jobs,
            "a_disk": a_disk,
            "failed": failed,
            "check_s": time.perf_counter() - t0,
        }

    def gates(self, k: int, clock: "_Clock"):
        """Run every gate once over the round's events: each one's time
        (frame build plus ``toPandas``), Spark job count and
        ``(columns, rows)``, or None where it raised. Caches are released
        between gates, untimed."""
        from quebic_spark import clear_caches
        from quebic_spark.operators import QUERIES
        from tools.check_oracle import pandas_rows

        r, sc, spark = self.r, self.sc, self.spark
        times, jobs, frames = {}, {}, {}
        for g in GATES:
            group = f"gate.{g}.{k}"
            sc.setJobGroup(group, g)
            if r.trace:
                r.trace.request_id += 1
            clock.start()
            try:
                if r.trace:
                    sdf = r.trace.call(f"gate.{g}", "operators", QUERIES[g],
                                       spark, self.path)
                    pdf = r.trace.call(f"gate.{g}.collect", "operators",
                                       sdf.toPandas)
                else:
                    sdf = QUERIES[g](spark, self.path)
                    pdf = sdf.toPandas()
                times[g] = clock.stop()
                frames[g] = (list(sdf.columns), pandas_rows(pdf))
            except Exception as exc:  # a gate error counts as failed
                times[g] = clock.stop()
                frames[g] = None
                self.errors.append(f"{g}: {exc!r}"[:300])
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            clear_caches()
            spark.catalog.clearCache()
            jobs[g] = r.jobs_in_group(group)
        return times, jobs, frames


def run(r) -> dict:
    setup_s = r.start_spark()
    path = datagen.write_events(r.path("data"), r.seed, SF)
    relay = _Relay(r, path, datagen.rows(SF))
    n = relay.n

    # what the checks compare with: the input read back with pyarrow and
    # run through the DuckDB oracles, before and outside every timed step
    relay.source, source_bytes = _source_rows(f"{path}/events.parquet")
    relay.oracle = oracle_fingerprints(path)

    rounds = [relay.round(k) for k in range(1, timed_rounds(r.seconds) + 1)]
    memory = r.memory_mb()

    timed = [sum(x["phase_s"]) for x in rounds]
    batch_ms = [b for x in rounds for b in x["batch_ms"]]
    phase = [[x["phase_s"][i] for x in rounds] for i in range(4)]
    first = rounds[0]
    failed = sum(x["failed"] for x in rounds)
    if relay.errors:
        r.info["errors"] = relay.errors[:5]
    r.info.update({
        "rows": n,
        "rounds": len(rounds),
        "round_s": [round(t, 3) for t in timed],
        "round_cpu_s": [round(sum(x["cpu_steps"]), 2) for x in rounds],
        # events per second of the median round's wall time
        "ops_per_s": n / median_round([x["steps"] for x in rounds]),
        "check_s": round(median([x["check_s"] for x in rounds]), 3),
        "ingest_rows_per_s": n / median(phase[0]),
        "drain_rows_per_s": n / median(phase[1]),
        "relay_rows_per_s": n / median(phase[2]),
        "gates_s": median(phase[3]),
        "relay_batch_p50_ms": median(batch_ms) if batch_ms else 0.0,
        "micro_batches_per_round": len(first["batch_ms"]),
        "bytes_per_user_byte": first["a_disk"] / source_bytes,
    })
    return {
        "correct": all(x["batch_ms"] for x in rounds),
        # per timed round: rows ingested, exported and relayed, and the
        # gates
        "attempted": (3 * n + len(GATES)) * len(rounds),
        "failed": failed,
        "e2e": {
            "setup_s": setup_s,
            "memory_mb": memory,
            # CPU time per event through a round (ingest, export, relay,
            # operators) of the median round's steps
            "cpu_ms_per_op":
                1e3 * median_round([x["cpu_steps"] for x in rounds]) / n,
        },
        "timed_s": sum(timed),
        "rounds": len(rounds),
        "user_bytes": 2 * source_bytes * len(rounds),
        "layer_extra": {
            "queue.append_dataframe.jobs": first["jobs"][0] / N_APPENDS,
            "export_queue.jobs": first["jobs"][1],
            "export_queue.s": median(phase[1]),
            "consumer.micro_batches": len(first["batch_ms"]),
            "consumer.jobs_per_batch":
                first["jobs"][2] / len(first["batch_ms"])
                if first["batch_ms"] else 0.0,
            "queue.disk_per_user_byte": first["a_disk"] / source_bytes,
            **{f"gate.{g}.s": median([x["gate_s"][g] for x in rounds])
               for g in GATES},
            **{f"gate.{g}.jobs": first["gate_jobs"][g] for g in GATES},
        },
    }
