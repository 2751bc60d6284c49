"""Correctness checks, each computed apart from the program under test.

Every check returns the number of operations it rejects (0 = all good),
so a workload can count rejected operations as failed;
``selftest.py`` feeds each one a deliberately wrong input.
"""

from __future__ import annotations

import hashlib
from collections import Counter

PAYLOAD_BYTES = 1024


def record(i: int, seed: int) -> tuple[int, bytes]:
    """The ``i``-th record the queue_records generator pushes: ``i`` and
    1 KiB of seeded pseudo-random bytes, distinct for every record."""
    payload = hashlib.shake_128(f"{seed}:{i}".encode()).digest(
        PAYLOAD_BYTES)
    return (i, payload)


def fifo_mismatch(popped, first: int, seed: int) -> int:
    """Popped records that differ from the generator's FIFO sequence
    starting at record ``first`` (a record lost, duplicated or out of
    order rejects every position it shifts)."""
    return sum(
        1 for k, got in enumerate(popped)
        if got is None or tuple(got) != record(first + k, seed)
    )


def relay_mismatch(source: list[tuple], queue_a: list[tuple],
                   queue_b: list[tuple], export: list[tuple]) -> int:
    """Rows of queue B and of the export that disagree with the source.

    ``source`` holds the payload tuples read straight from the input
    file; ``queue_a`` and ``queue_b`` hold ``(seq, *payload)`` rows;
    ``export`` holds payload tuples. Rejected: every row by which the
    multisets of B or of the export differ from the source, every
    position where B's ``seq`` is not ``1..n``, and every position
    where B's payload order differs from A's FIFO order.
    """
    want = Counter(source)
    bad = 0
    for rows in ([r[1:] for r in queue_b], export):
        got = Counter(rows)
        bad += sum(((got - want) + (want - got)).values())
    b_sorted = sorted(queue_b, key=lambda r: r[0])
    bad += sum(1 for k, r in enumerate(b_sorted, 1) if r[0] != k)
    a_order = [r[1:] for r in sorted(queue_a, key=lambda r: r[0])]
    b_order = [r[1:] for r in b_sorted]
    bad += sum(1 for x, y in zip(a_order, b_order) if x != y)
    bad += abs(len(a_order) - len(b_order))
    return bad


def gate_mismatch(columns: list[str], rows: list[tuple],
                  oracle: tuple[int, list[str], str]) -> int:
    """1 when a gate's frame fingerprint differs from its DuckDB
    oracle's (row count, sorted column names, order-insensitive value
    hash as ``tools/check_oracle.frame_fingerprint`` computes it)."""
    from tools.check_oracle import frame_fingerprint

    return int(frame_fingerprint(columns, rows) != oracle)
