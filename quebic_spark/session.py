"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; on a real cluster the same settings
apply (AQE, adaptive coalescing/skew-join) — only master/memory change.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "quebic_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Python workers resolve UDF closures by importing this package by
    # name; a driver started outside the repo (sys.path patched
    # in-process only) would leave workers without it. Export the
    # package root on PYTHONPATH BEFORE the JVM launches — the worker
    # daemons inherit it. On a real cluster the equivalent is
    # spark.submit.pyFiles / a wheel on the image; this covers local
    # and client-mode-with-shared-FS deployments.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + py_path if py_path else "")
        )
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        # stage progress bars interleave \r fragments into captured
        # stdout (tool output artifacts end up with PASS lines glued
        # inside half-drawn bars); logs carry the same signal cleanly
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_TUNED_CONFS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
)

# prior conf values per session, recorded the first time tune_for_query
# touches that session (for restore_session_tuning)
# keyed by the SESSION OBJECT, not applicationId: sessions created
# via spark.newSession() (the footer-stats and CC-loop children) share
# one applicationId but have ISOLATED SQL confs — an appId key
# conflated their tune/restore state, so restoring a child could
# write the parent's priors into the child and silently drop the
# parent's own record (r14 review). WeakKey: state dies with the
# session handle instead of pinning it.
_PRIOR_CONFS: "weakref.WeakKeyDictionary[SparkSession, dict[str, str | None]]" \
    = weakref.WeakKeyDictionary()


def tune_for_query(spark: SparkSession) -> SparkSession:
    """Runtime confs every operator needs regardless of who built the
    session: a harness may hand us a vanilla session (no AQE, static
    200 shuffle partitions), and these are per-query runtime settings,
    so the library sets them at scan time the same way the events
    reader sets nanosAsLong. AQE + coalescing right-sizes every
    post-shuffle stage to the data actually flowing, which is the
    difference between graph-sized and session-default-sized tasks in
    the iterative/dedup operators.

    **This MUTATES shared session runtime conf** (documented side
    effect): Spark evaluates conf at action time, not at DataFrame
    build time, so a per-query scope cannot exist for lazily-executed
    results — the setting must still hold when the caller finally runs
    the plan. Two escape hatches for harnesses that deliberately
    disable AQE: set ``spark.quebic_spark.autotune=false`` on the
    session (or env ``QUEBIC_SPARK_AUTOTUNE=0``) to make this a no-op,
    and ``restore_session_tuning(spark)`` to put back the values seen
    before the first tune of this session.
    """
    if os.environ.get("QUEBIC_SPARK_AUTOTUNE", "1") == "0":
        return spark
    try:
        if spark.conf.get("spark.quebic_spark.autotune", "true") == "false":
            return spark
    except Exception:
        pass
    prior = _PRIOR_CONFS.setdefault(spark, {})
    for key in _TUNED_CONFS:
        if key not in prior:
            try:
                prior[key] = spark.conf.get(key, None)
            except Exception:
                prior[key] = None
        spark.conf.set(key, "true")
    return spark


def restore_session_tuning(spark: SparkSession) -> SparkSession:
    """Restore the conf values recorded before the first
    ``tune_for_query`` on this session (unset keys are unset again).
    Call after materializing the library's DataFrames when the session
    is shared with conf-sensitive work."""
    for key, value in _PRIOR_CONFS.pop(spark, {}).items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)
    return spark


# ---------------------------------------------------------------------------
# Immutable-table reader with a schema memo (r20, guide §1.2 step 2 /
# §7.3 driver-side planning costs): ``spark.read.parquet(path)`` infers
# the schema by reading parquet footers on EVERY call (~110 ms/table
# locally), and operator construction re-reads the same handful of
# corpus tables two or three times per query. The memo keys on
# (applicationId, path, stat fingerprint of the path) and stores only
# the SCHEMA — a plan-construction metadata fact, never data or
# results; every action still scans the parquet files. The fingerprint
# (``_path_stamp``) makes a path rewritten in place within one
# application miss the memo instead of being served its old schema.
# ---------------------------------------------------------------------------

_SCHEMA_MEMO: dict = {}


def _path_stamp(path: str) -> tuple | None:
    """Stat fingerprint of a local parquet path: ``(mtime_ns, size)``
    of a file, or of a directory plus ``(name, mtime_ns, size)`` of
    each file in it. Rewriting the path changes it, so a memo keyed on
    it misses instead of serving the old contents. ``None`` for a path
    the driver cannot stat (a remote URI): such entries rely on the
    path not being rewritten within one application."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        files = []
        with os.scandir(path) as it:
            for e in it:
                if e.is_file():
                    est = e.stat()
                    files.append((e.name, est.st_mtime_ns, est.st_size))
        return (st.st_mtime_ns, st.st_size, tuple(sorted(files)))
    except OSError:
        return None


def _memo_put(memo: dict, key: tuple, value) -> None:
    """Insert into an (applicationId, path, stamp, ...)-keyed memo,
    first evicting every entry of an EARLIER application (a finished
    application's keys can never hit again, and without eviction they
    accumulated for the life of the driver process) and every entry
    of the same path under another stamp (an older fingerprint of a
    rewritten path never hits again either)."""
    app, path, stamp = key[:3]
    for k in [k for k in memo
              if k[0] != app or (k[1] == path and k[2] != stamp)]:
        del memo[k]
    memo[key] = value

# confs that change what schema parquet footer inference produces for
# the SAME bytes (r21, ADVICE r20): a first read under one value must
# not hand its inferred schema to a later read under another — e.g.
# spark.sql.legacy.parquet.nanosAsLong turns a nanos timestamp column
# into LongType. Part of the memo key, read per call (cheap driver
# conf lookups, no JVM job).
_SCHEMA_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)


def _schema_conf_sig(spark: SparkSession) -> tuple:
    sig = []
    for key in _SCHEMA_INFER_CONFS:
        try:
            sig.append(spark.conf.get(key, None))
        except Exception:
            sig.append(None)
    return tuple(sig)


def read_immutable_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet(path)`` with per-(application, path,
    stat fingerprint, inference-confs) schema reuse — skips repeated
    footer-based schema inference for the input tables operators read
    during query construction.

    A local path rewritten within one application changes its stat
    fingerprint (``_path_stamp``) and misses the memo, so its new
    schema is inferred; a path the driver cannot stat is keyed
    without one and must not be rewritten in place. Entries of
    earlier applications, and older fingerprints of the same path,
    are evicted on insert."""
    try:
        key = (spark.sparkContext.applicationId, path, _path_stamp(path),
               _schema_conf_sig(spark))
    except Exception:
        return spark.read.parquet(path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _memo_put(_SCHEMA_MEMO, key, df.schema)
        return df
    return spark.read.schema(schema).parquet(path)


# ---------------------------------------------------------------------------
# Row-count memo for the same input tables (r21, VERDICT r20 next
# #7): ``_sem_k_cells`` sized semantic_dedup's blocking cells with a
# fresh parquet-footer count() JOB on every construction, and
# q_semantic_dedup constructs twice — two Spark jobs per gate for a
# number that does not change while the files do not. Counts are data
# facts independent of schema-inference confs, so the key is
# (applicationId, path, stat fingerprint of the path).
# ---------------------------------------------------------------------------

_COUNT_MEMO: dict = {}


def local_rows_frame(spark: SparkSession, rows, schema):
    """``createDataFrame`` for SMALL driver-local row lists (gate
    results materialized before a temp artifact is deleted, top-K
    tables, manifest read-backs) via the pandas/Arrow path.

    ``createDataFrame(list)`` always takes parallelize+pickle: the
    list is split into defaultParallelism partitions and EVERY task
    spawns a Python worker just to unpickle a few rows — profiled at
    ~0.45 s per consuming action on local[32] (32 x ~0.3 s spawns,
    the dominant cost of several sub-second gates' final collect).
    The pandas/Arrow path ships the batch into a JVM-side RDD with no
    Python workers at evaluation; coalesce(1) folds the empty slices
    so the consumer reads one trivial task. Values are unchanged —
    the oracle value-hash pins that — and any conversion failure
    falls back to the original list path."""
    from pyspark.sql.types import StructType

    st = (
        schema if isinstance(schema, StructType)
        else spark.createDataFrame([], schema).schema
    )
    rows = [tuple(r) for r in rows]
    if not rows:
        return spark.createDataFrame([], st)
    try:
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=st.names)
        return spark.createDataFrame(pdf, schema=st).coalesce(1)
    except Exception:
        return spark.createDataFrame(rows, st)


def immutable_parquet_count(spark: SparkSession, path: str) -> int:
    """Row count of a parquet path, memoized per (applicationId,
    path, stat fingerprint). The first call runs the parquet-footer
    count job; later calls in the same application are a dict hit
    while the files are unchanged.

    A local path rewritten within one application changes its stat
    fingerprint (``_path_stamp``) and is counted again; a path the
    driver cannot stat is keyed without one and must not be rewritten
    in place. Entries of earlier applications, and older fingerprints
    of the same path, are evicted on insert."""
    try:
        key = (spark.sparkContext.applicationId, path, _path_stamp(path))
    except Exception:
        return read_immutable_parquet(spark, path).count()
    n = _COUNT_MEMO.get(key)
    if n is None:
        n = read_immutable_parquet(spark, path).count()
        _memo_put(_COUNT_MEMO, key, n)
    return int(n)
