"""Distributed graph primitives used by the dedup layer.

``connected_components`` picks its physical strategy by the MEASURED
dup-graph size — the same adaptive philosophy as broadcast-vs-shuffle
joins:

* **edge list fits one task** (``<= driver_max_edges``, default 1M
  edges ~ a few tens of MB): collect it and run exact UNION-FIND with
  path compression on the driver — zero iterative rounds, one job.
  A near-dup graph is almost always this case even at corpus scales
  where the CORPUS itself is far beyond driver memory: the graph is
  sized by the duplicates, not the data. Only the edges collect;
  node-side work (semi/anti joins against endpoints) stays
  distributed.
* **bigger**: GraphX/GraphFrames-style min-label propagation with
  hash-to-min pointer doubling — a driver loop of declarative Spark
  actions (ONE materializing action per round), never per-row driver
  work. Rounds are O(log diameter): neighbor-min alone needs
  O(diameter) rounds and a chain-shaped cosine-dup graph measured
  50+; composing each round with label(x) <- label(label(x)) squares
  the reach per round.

The distributed loop is hardened for real depth:

* every ``checkpoint_every`` rounds the label frame is
  ``localCheckpoint``-ed (eager), truncating the logical plan. The
  doubling join references the round's frame TWICE, so un-truncated
  lineage roughly triples per round and Catalyst analysis time — not
  the data — becomes the bottleneck (measured 32s vs 8s on a
  2.6k-edge graph); the default cadence is therefore every round;
* hitting ``max_iters`` without convergence RAISES instead of
  returning silently-wrong labels (a doc pointing at a non-minimal
  cluster root mis-assigns keepers downstream);
* all intermediate caches are released before returning; the result is
  a checkpointed frame with no live lineage into the loop;
* the loop runs only over nodes incident to an edge — isolated nodes
  (the overwhelming majority of a near-dup corpus: most documents have
  no duplicate) are label=self by definition and union back in at the
  end, so every per-round shuffle is sized by the dup GRAPH, not the
  corpus;
* the loop plans on its OWN child session (``spark.newSession()``:
  same SparkContext and data, separate SQL conf), where
  ``spark.sql.shuffle.partitions`` is sized by the measured edge count
  — the caller's session conf is never touched, so concurrent planning
  on the shared session observes its own settings throughout.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quebic_spark.session import local_rows_frame

DRIVER_CC_MAX_EDGES = 1_000_000


class ConvergenceError(RuntimeError):
    """Raised when an iterative algorithm hits its round cap while
    labels are still changing (graph diameter exceeds the cap)."""


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    max_iters: int = 20,
    checkpoint_every: int = 1,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    Args:
        nodes: one column ``doc_id`` (any orderable id type).
        edges: columns ``src``/``dst``; treated as DIRECTED — pass both
            orientations for an undirected graph.
        max_iters: hard round cap for the distributed loop (rounds are
            O(log diameter) via pointer doubling); exceeding it raises
            :class:`ConvergenceError` rather than returning bad labels.
        checkpoint_every: lineage-truncation period (rounds).
        driver_max_edges: edge-count threshold for the driver-side
            union-find strategy; pass 0 to force the distributed loop.

    Returns:
        ``(doc_id, cluster_id)`` — checkpointed, lineage-free, bound to
        the CALLER's session.
    """
    # localCheckpoint (eager), not cache: edges lineage is the caller's
    # whole upstream pipeline (e.g. the MinHash LSH DAG), and a lazily-
    # populated cache gets only PARTIALLY filled by the probe actions
    # below — later uses would recompute missing partitions through the
    # full upstream plan. Checkpointing pays one materialization up
    # front. NOTE: this runs under the caller's shuffle config
    # (pipeline-scale); only the distributed loop shrinks it.
    edges = edges.select("src", "dst").localCheckpoint()
    spark = edges.sparkSession
    n_edges = edges.count()
    try:
        endpoints = (
            edges.select(F.col("src").alias("doc_id"))
            .union(edges.select(F.col("dst").alias("doc_id")))
            .distinct()
        )
        if n_edges <= driver_max_edges:
            # single-pass assembly (r20, guide §2.4): the union-find
            # labels are a TINY broadcastable frame covering exactly
            # the endpoint set, so one LEFT join labels endpoints and
            # isolated nodes in the same corpus scan —
            # coalesce(label, doc_id) is "own cluster root" for every
            # node without an incident edge. The previous shape
            # (inner join + separate broadcast anti-join + union)
            # scanned the corpus-sized nodes frame twice and built
            # two broadcasts; results are identical row for row.
            # Non-node endpoints are ignored by both shapes (the left
            # side IS nodes).
            uf = _driver_union_find(spark, edges)
            return (
                nodes.select("doc_id")
                .join(F.broadcast(uf), "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("cluster_id", F.col("doc_id")).alias(
                        "cluster_id"
                    ),
                )
                .localCheckpoint()
            )
        labels = _distributed_min_label(
            spark, edges, nodes,
            max_iters=max_iters, checkpoint_every=checkpoint_every,
            n_edges=n_edges,
        )
        # isolated nodes (no incident edge) are their own cluster
        # root; they never touched the loop, so all per-edge work was
        # sized by the dup graph rather than the full node set. Above
        # the driver bound, endpoints is itself up to 2x a huge edge
        # set — hinting it broadcast would OOM; Catalyst/AQE chooses
        # the strategy here.
        isolated = nodes.select("doc_id").join(
            endpoints, "doc_id", "left_anti"
        ).select("doc_id", F.col("doc_id").alias("cluster_id"))
        return (
            labels.select("doc_id", "cluster_id")
            .union(isolated)
            .localCheckpoint()
        )
    finally:
        edges.unpersist()


def _driver_union_find(
    spark: SparkSession, edges: DataFrame
) -> DataFrame:
    """Exact union-find over a collected edge list (bounded by
    ``driver_max_edges`` — the caller measured it first). Root = min
    node id per component, matching the distributed semantics bit for
    bit. Output is only ENDPOINT labels as a tiny local frame; the
    caller attaches them to the node set with one broadcast left
    join (r20: previously this function also restricted to the node
    set with its own corpus-scan join — a second scan the caller's
    single-pass assembly now avoids)."""
    parent: dict = {}
    seen: set = set()

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            nxt = parent[x]
            parent[x] = root
            x = nxt
        return root

    # Arrow-batched transfer: collect() builds a Row object per edge
    # (~100+ bytes each — heavy at the 1M-edge threshold); toPandas
    # lands two flat columns instead
    pdf = edges.toPandas()
    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        seen.add(a)
        seen.add(b)
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        lo, hi = (ra, rb) if ra < rb else (rb, ra)
        parent[hi] = lo
    pairs = [(x, find(x)) for x in seen]
    # the caller's left join both attaches these labels AND restricts
    # to its node set (a non-node endpoint simply never matches), so
    # no corpus scan happens here
    schema = edges.select(
        F.col("src").alias("doc_id"),
        F.col("src").alias("cluster_id"),
    ).schema
    # one home for small driver-side frames: the Arrow path with no
    # Python workers at evaluation, falling back to the list path if
    # the conversion fails
    return local_rows_frame(spark, pairs, schema)


def _distributed_min_label(
    spark: SparkSession,
    edges: DataFrame,
    nodes: DataFrame,
    *,
    max_iters: int,
    checkpoint_every: int,
    n_edges: int,
) -> DataFrame:
    # NOTE: endpoints are re-derived from the child-session edge view
    # below — the caller's frame is bound to the caller session and
    # would drag its conf into loop planning.
    # Size the LOOP's shuffles by the measured graph, not the session
    # default: a vanilla 200-partition session pays 200 empty tasks per
    # round for a small dup graph, and a billion-edge graph under a
    # small test config would spill.
    loop_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(8, -(-n_edges // 50_000)),
    )
    # Child session: same SparkContext, cache manager, and data plane,
    # but an ISOLATED SQL conf — the graph-sized shuffle setting lives
    # only here. Frames cross sessions via global temp views (plan
    # hand-off, no data movement: the views wrap checkpointed RDDs —
    # BOTH of them: nodes is checkpointed here too, or the child
    # session would re-execute the caller's full corpus-scale upstream
    # plan under the graph-sized (tiny) shuffle config — multi-TB per
    # task at 100 TB (r14 review; edges was already checkpointed
    # above).
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    tag = uuid.uuid4().hex[:12]
    edges_view, nodes_view, out_view = (
        f"cc_edges_{tag}", f"cc_nodes_{tag}", f"cc_labels_{tag}"
    )
    edges.createGlobalTempView(edges_view)
    nodes.select("doc_id").localCheckpoint().createGlobalTempView(
        nodes_view
    )
    gt = spark.conf.get("spark.sql.globalTempDatabase", "global_temp")
    c_edges = child.table(f"{gt}.{edges_view}")
    c_nodes = child.table(f"{gt}.{nodes_view}")

    c_endpoints = (
        c_edges.select(F.col("src").alias("doc_id"))
        .union(c_edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    active = c_nodes.join(c_endpoints, "doc_id", "left_semi")
    labels = active.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint()
    id_type = labels.schema["cluster_id"].dataType
    converged = False
    try:
        for rnd in range(1, max_iters + 1):
            msgs = c_edges.join(
                labels.select("doc_id", "cluster_id"),
                F.col("src") == F.col("doc_id"),
            ).select(
                F.col("dst").alias("doc_id"),
                "cluster_id",
                F.lit(None).cast(id_type).alias("old_cid"),
            )
            # old label rides the union as a third column: every active
            # doc has EXACTLY one labels row, so min(old_cid) ignoring
            # the msgs rows' nulls recovers it — the convergence diff
            # then needs no second join against the previous round
            propagated = (
                labels.select(
                    "doc_id",
                    "cluster_id",
                    F.col("cluster_id").alias("old_cid"),
                )
                .union(msgs)
                .groupBy("doc_id")
                .agg(
                    F.min("cluster_id").alias("cluster_id"),
                    F.min("old_cid").alias("old_cid"),
                )
            )
            # pointer doubling (hash-to-min acceleration): follow the
            # label's OWN label one hop — label(x) <- label(label(x)).
            # Neighbor-min alone moves the component minimum ONE hop
            # per round; composing with the jump squares the reach, so
            # convergence is O(log diameter). cluster_id is always an
            # active node id (a min over node ids), so the self-join
            # hits; LEFT + coalesce guards the root pointing at
            # itself. The join is label-table-sized — graph-scale,
            # never corpus-scale.
            new_labels = (
                propagated.alias("n")
                .join(
                    propagated.select(
                        F.col("doc_id").alias("j_id"),
                        F.col("cluster_id").alias("j_cid"),
                    ).alias("j"),
                    F.col("n.cluster_id") == F.col("j.j_id"),
                    "left",
                )
                .select(
                    "doc_id",
                    F.coalesce("j_cid", "cluster_id").alias("cluster_id"),
                    "old_cid",
                )
            )
            if rnd % checkpoint_every == 0:
                # full truncation: drops ALL prior-round lineage (the
                # doubling join references `propagated` twice, so an
                # un-truncated plan ~triples per round and Catalyst
                # analysis becomes the bottleneck)
                new_labels = new_labels.localCheckpoint()
            else:
                new_labels = new_labels.cache()
            # ONE materializing action per round: this full count
            # populates the cache/checkpoint completely (a short-
            # circuit probe would strand a cache partial) AND reads
            # the convergence diff off the carried old_cid column
            changed = new_labels.filter(
                F.col("cluster_id") != F.col("old_cid")
            ).count()
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            raise ConvergenceError(
                f"connected_components: labels still changing after "
                f"{max_iters} rounds — graph diameter exceeds the cap; "
                f"raise max_iters"
            )
        result = labels.select("doc_id", "cluster_id").localCheckpoint()
        # hand the (already-materialized) result back to the CALLER's
        # session so downstream planning uses the caller's conf; the
        # table() plan resolves to the checkpointed RDD at creation,
        # so dropping the view immediately after is safe (no
        # recompute, no second copy)
        result.createGlobalTempView(out_view)
        try:
            return spark.table(f"{gt}.{out_view}")
        finally:
            spark.catalog.dropGlobalTempView(out_view)
    finally:
        spark.catalog.dropGlobalTempView(edges_view)
        spark.catalog.dropGlobalTempView(nodes_view)
        labels.unpersist()
