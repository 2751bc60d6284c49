"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted by their full normalized tuple).

Usage:
    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(v) -> str:
    # NOTE (r14 review, declined by design): '|'/newline characters in
    # TEXT values are NOT escaped, and -0.0 normalizes differently
    # from 0.0 — both mirror the DRIVER's fingerprint compare, which
    # is the verdict this tool exists to predict. "Fixing" either here
    # would make a local PASS diverge from the real gate; instead,
    # gate queries avoid emitting free text with delimiters and
    # sign-ambiguous zero aggregates.
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            # guard BEFORE int(v): int(inf) raises OverflowError,
            # which ran outside the per-query try and killed the
            # whole gate run (r14 review)
            return repr(v)
        if v == int(v) and abs(v) < 2**53:
            return repr(float(v))
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{normalize(v[k])}" for k in sorted(v)
        ) + "}"
    return str(v)


def pandas_rows(df) -> list[tuple]:
    """Rows of a pandas frame with numpy scalars unwrapped to Python types.

    Both sides of the compare go through pandas (mirroring the driver's
    gate): nullable int64 columns become float64 on BOTH sides (so they
    still match), while a DuckDB HUGEINT (e.g. SUM(integer)) becomes
    float64 only on the oracle side and is correctly flagged ("5.0" !=
    Spark's "5" — the round-1 failure class that fetchall() masked).
    """
    import numpy as np

    return [
        tuple(
            x.item() if isinstance(x, np.generic)
            else x.tolist() if isinstance(x, np.ndarray)
            else x
            for x in row
        )
        for row in df.itertuples(index=False, name=None)
    ]


def frame_fingerprint(columns: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = [columns[i] for i in order]
    norm_rows = sorted(
        "|".join(normalize(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\n".join(norm_rows).encode()).hexdigest()
    return len(rows), names, h


def spark_fingerprint(sdf) -> tuple[int, list[str], str]:
    return frame_fingerprint(sdf.columns, pandas_rows(sdf.toPandas()))


def duck_fingerprint(rel) -> tuple[int, list[str], str]:
    # date_as_object keeps DATE as datetime.date (what Spark's toPandas
    # yields) instead of midnight datetime64
    return frame_fingerprint(
        [d[0] for d in rel.description],
        pandas_rows(rel.fetchdf(date_as_object=True)),
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from quebic_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{args.sf}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    if only:
        unknown = sorted(only - set(queries))
        if unknown:
            # a typo'd --only previously matched nothing and exited 0
            # — a false-green gate run (r14 review). Retired gates are
            # absent from the live window too: their oracles run in
            # tests/test_registry.py, not here.
            print(
                f"ERROR: --only names not in the live query window: "
                f"{unknown} (live gates: operators/__init__.py "
                f"GATE_ORDER; a RETIRED_GATES name runs only in "
                f"tests/test_registry.py)"
            )
            return 2

    n_pass = n_fail = n_weak = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            scols = sdf.columns
            srows = pandas_rows(sdf.toPandas())
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(
                f"weak  {name}: rows={len(srows)} (no oracle, rows-only) "
                f"[spark {spark_s:.1f}s]"
            )
            n_weak += 1
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            # date_as_object keeps DATE as datetime.date (what Spark's
            # toPandas yields) instead of midnight datetime64.
            drows = pandas_rows(rel.fetchdf(date_as_object=True))
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sn, scn, sh = frame_fingerprint(scols, srows)
        dn, dcn, dh = frame_fingerprint(dcols, drows)
        if sn != dn:
            print(f"FAIL  {name}: row count {sn} != {dn}")
            n_fail += 1
        elif scn != dcn:
            print(f"FAIL  {name}: columns {scn} != {dcn}")
            n_fail += 1
        elif sh != dh:
            print(f"FAIL  {name}: value hash mismatch ({sn} rows)")
            _show_diff(scn, scols, srows, dcols, drows)
            n_fail += 1
        else:
            print(f"PASS  {name}: rows={sn} hash={sh[:10]} [spark {spark_s:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


def _show_diff(names, scols, srows, dcols, drows, limit=5):
    # MULTISET diff (Counter), not set: a hash mismatch caused purely
    # by duplicate-row multiplicity ([A,A,B] vs [A,B,B]) printed an
    # empty diff under set semantics (r14 review)
    from collections import Counter

    sidx = {c: i for i, c in enumerate(scols)}
    didx = {c: i for i, c in enumerate(dcols)}
    skey = Counter(
        "|".join(normalize(r[sidx[c]]) for c in names) for r in srows
    )
    dkey = Counter(
        "|".join(normalize(r[didx[c]]) for c in names) for r in drows
    )
    print(f"      columns: {names}")
    for row, n in list((skey - dkey).items())[:limit]:
        print(f"      spark-only (x{n}): {row}")
    for row, n in list((dkey - skey).items())[:limit]:
        print(f"      duck-only  (x{n}): {row}")


if __name__ == "__main__":
    sys.exit(main())
