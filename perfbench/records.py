"""queue_records workload: one producer and one consumer in this process,
no Spark.

Records are (INTEGER, 1 KiB BINARY) like the reference's
``Performance.scala``; every payload is distinct seeded pseudo-random
bytes (``checks.record``), so nothing compresses. The queue keeps its
defaults: fsync off and auto-compaction above 256 batch files. Like the
reference's run, each round pushes ``BACKLOG`` records into a fresh
queue and then drains it, so every round does the same work (on one
queue, where each round left its compactions mattered to the next). A
run makes ``harness.timed_rounds(--seconds)`` rounds. Each round's calls
are timed, wall clock and this process's CPU time, in blocks of
``BLOCK``, and the run reports the median round of
``harness.median_round``. After each round, every popped record is
compared with the record the generator pushed at that FIFO position.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import time

import checks
from harness import ROOT, median, median_round, percentile, timed_rounds

# The reference's own measurement (``Performance.scala``) pushes for 10 s,
# which came to 2,781 records of 1 KiB in its published figures
# (BASELINE.md), and then pops them all; its backlog peaks there.
BACKLOG = 2781
# user bytes of one record: the 8-byte integer plus the payload
RECORD_BYTES = 8 + checks.PAYLOAD_BYTES
# calls per timed step: one auto-compaction's worth of pushes
BLOCK = 256
SETUP_REPEATS = 3

# a fresh interpreter that imports the package, creates a queue and its
# two actors, and closes it: what a user pays before the first push
_SETUP_SRC = """
import sys
sys.path.insert(0, sys.argv[1])
from quebic_spark import BINARY, INTEGER, Queue, Schema
q = Queue(sys.argv[2], Schema(INTEGER, BINARY))
q.publisher(), q.subscriber()
q.close()
"""


def setup_s(r) -> float:
    times = []
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        # no timeout: with one, the wait polls in steps of up to 50 ms,
        # which would quantize a sample of about 0.5 s
        subprocess.run([sys.executable, "-c", _SETUP_SRC, ROOT,
                        r.path(f"setup-q{k}")], check=True)
        times.append(time.perf_counter() - t0)
    r.info["setup_samples_s"] = [round(t, 4) for t in times]
    return median(times)


def _blocks(ms: list[float]) -> list[float]:
    """Seconds spent in each ``BLOCK`` of consecutive calls."""
    return [sum(ms[i:i + BLOCK]) / 1e3 for i in range(0, len(ms), BLOCK)]


def run(r) -> dict:
    setup = setup_s(r)
    from quebic_spark import BINARY, INTEGER, Queue, Schema

    schema = Schema(INTEGER, BINARY)
    tr = r.trace
    push_ms: list[float] = []
    pop_ms: list[float] = []
    steps: list[list[float]] = []
    cpu_steps: list[list[float]] = []
    failed, correct, peak_bytes = 0, True, 0

    t_start = time.perf_counter()
    for k in range(timed_rounds(r.seconds)):
        first = k * BACKLOG
        records = [checks.record(first + i, r.seed) for i in range(BACKLOG)]
        q = Queue(r.path(f"q{k}"), schema)
        pub, sub = q.publisher(), q.subscriber()
        pushes, pops, popped, cpu = [], [], [], []
        c0 = time.process_time()
        for i, rec in enumerate(records, 1):
            if tr:
                tr.request_id += 1
            t0 = time.perf_counter()
            ok = pub.try_push(rec)
            pushes.append((time.perf_counter() - t0) * 1e3)
            failed += not ok
            if i % BLOCK == 0 or i == BACKLOG:
                c1 = time.process_time()
                cpu.append(c1 - c0)
                c0 = c1
        peak_bytes = max(peak_bytes, q.disk_space())
        c0 = time.process_time()
        for i in range(1, BACKLOG + 1):
            if tr:
                tr.request_id += 1
            t0 = time.perf_counter()
            got = sub.try_pop()
            pops.append((time.perf_counter() - t0) * 1e3)
            popped.append(got)
            if i % BLOCK == 0 or i == BACKLOG:
                c1 = time.process_time()
                cpu.append(c1 - c0)
                c0 = c1
        # checked after the round's last call, outside its time
        failed += checks.fifo_mismatch(popped, first, r.seed)
        correct &= (q.size() == 0
                    and tuple(pub.latest() or ()) == records[-1])
        q.close()
        shutil.rmtree(r.path(f"q{k}"))
        push_ms += pushes
        pop_ms += pops
        steps.append(_blocks(pushes) + _blocks(pops))
        cpu_steps.append(cpu)
    timed_s = time.perf_counter() - t_start
    memory = r.memory_mb()

    ops = len(push_ms) + len(pop_ms)
    r.info.update({
        "rounds": len(steps),
        "round_s": [round(sum(x), 3) for x in steps],
        "round_cpu_s": [round(sum(x), 3) for x in cpu_steps],
        # pushes and pops per second of the calls' time in the median
        # round (median_round over blocks of BLOCK calls)
        "ops_per_s": 2 * BACKLOG / median_round(steps),
        "push_p50_ms": median(push_ms),
        "push_p99_ms": percentile(push_ms, 0.99),
        "pop_p50_ms": median(pop_ms),
        "pop_p99_ms": percentile(pop_ms, 0.99),
        "bytes_per_user_byte": peak_bytes / (BACKLOG * RECORD_BYTES),
    })
    return {
        "correct": correct,
        "attempted": ops,
        "failed": failed,
        "e2e": {
            "setup_s": setup,
            "memory_mb": memory,
            # CPU time of this process per push or pop in the median
            # round (median_round over blocks of BLOCK calls)
            "cpu_ms_per_op":
                1e3 * median_round(cpu_steps) / (2 * BACKLOG),
        },
        "timed_s": timed_s,
        "rounds": len(steps),
        "user_bytes": len(push_ms) * RECORD_BYTES,
        "layer_extra": {
            "queue.disk_per_user_byte": r.info["bytes_per_user_byte"],
        },
    }
