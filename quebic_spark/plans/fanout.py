"""Conditional scan fan-out.

Single-file test inputs arrive as ONE partition, which serializes every
downstream expression; but an unconditional ``repartition()`` is a full
shuffle of the input — at 100 TB that is a corpus-sized shuffle paid
just to read. ``fan_out`` shuffles ONLY when the scan is actually
under-partitioned (fewer splits than the cluster's parallelism), so the
same operator code gets parallelism on tiny fixtures and a zero-shuffle
scan on real multi-file tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _scan_split_estimate(spark: SparkSession, df: DataFrame) -> int | None:
    """Estimated scan-partition count for a BARE file-relation frame,
    from relation statistics — no RDD materialization.

    ``df.rdd.getNumPartitions()`` (the exact probe) builds the full
    Python RDD conversion: ~200 ms of driver/py4j work per call, paid
    once per table read in EVERY query construction (r20 profile —
    cross-cutting, ~0.3-0.5 s per bench gate). For the only frames the
    operators pass here (fresh ``spark.read.parquet(...)``), the split
    count Spark would produce is a pure function of the relation's
    per-file byte lengths and three confs — mirror
    ``FilePartition.maxSplitBytes`` and ``getFilePartitions``
    arithmetically instead, with openCost charged per FILE:

        bytes_per_core = (sum(lengths) + n_files * openCost)
                         / defaultParallelism
        split          = min(maxPartitionBytes,
                             max(openCost, bytes_per_core))

    One file: ``ceil(length / split)``. Several: cut every file into
    pieces of at most ``split`` bytes, sort all pieces by length
    descending, and pack them greedily in that order — each piece
    is charged its bytes plus openCost, and a partition closes when
    its charge plus the next piece's bytes would exceed ``split``.
    The estimate counts those partitions.

    Returns ``None`` whenever the plan is anything but a single file
    relation or any step fails — the caller falls back to the exact
    probe. Either way ``fan_out`` is purely a performance choice:
    results are identical with or without the repartition.
    """
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        size = int(str(plan.stats().sizeInBytes()))
        if size <= 0:
            return None
        jutils = spark._jvm.org.apache.spark.network.util.JavaUtils
        max_pb = int(jutils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        ))
        open_cost = int(jutils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4MB")
        ))
        par = max(1, spark.sparkContext.defaultParallelism)
        # per-FILE lengths from the relation's FileIndex (driver-local
        # metadata, no job): Spark charges openCost once per file in
        # bytesPerCore AND once per split piece during bin packing, so
        # the single-openCost shortcut diverged on multi-file
        # directories (ADVICE r20) — mirror the real packing instead.
        statuses = plan.relation().location().allFiles()
        n_files = statuses.size()
        if n_files <= 0:
            return None
        lengths = [
            int(statuses.apply(i).getLen()) for i in range(n_files)
        ]
        total = sum(lengths)
        bytes_per_core = (total + n_files * open_cost) // par
        split = max(1, min(max_pb, max(open_cost, bytes_per_core)))
        if n_files == 1:
            return -(-total // split)
        # FilePartition.getFilePartitions: every file is cut into
        # <=split pieces, ALL pieces are sorted by length descending,
        # then packed greedily — each piece charged its bytes +
        # openCost, partition closed when the next piece's bytes
        # would overflow the split
        pieces = []
        for ln in lengths:
            while ln > split:
                pieces.append(split)
                ln -= split
            if ln > 0:
                pieces.append(ln)
        pieces.sort(reverse=True)
        n_parts, current = 0, 0
        for p in pieces:
            if current + p > split and current > 0:
                n_parts += 1
                current = 0
            current += p + open_cost
        return n_parts + (1 if current > 0 else 0)
    except Exception:
        return None


def fan_out(
    spark: SparkSession, df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Repartition ``df`` to the default parallelism iff it has fewer
    partitions than that; otherwise return it untouched (no shuffle).
    ``min_partitions=0`` is an explicit no-op floor (every frame
    already has >= 0 partitions), not "use the default" — the falsy
    `or` spelling silently substituted defaultParallelism and forced
    the exact shuffle the caller asked to avoid (r15 review)."""
    if min_partitions is None:
        target = spark.sparkContext.defaultParallelism
    else:
        target = min_partitions
    n = _scan_split_estimate(spark, df)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n >= target:
        return df
    return df.repartition(target)
