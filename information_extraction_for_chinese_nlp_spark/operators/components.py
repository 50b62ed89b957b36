"""Connected components — canonicalization over the entity match graph.

Pure-DataFrame iterative min-label propagation (no GraphFrames):
each round every node adopts the minimum component id in its closed
neighborhood; convergence in O(graph diameter) rounds. Lineage is
truncated each round so the plan doesn't grow unboundedly
(SURVEY.md §4 item 3) — ``localCheckpoint`` by default, reliable
``checkpoint()`` with ``durable=True`` for fault-tolerant cluster runs. Entity-match graphs are unions of
small cliques (diameter ≲ 2-3), so this beats the large-star/small-star
constant factor while having the same shuffle profile per round.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

# symmetric edge rows per loop partition — see connected_components
_LOOP_ROWS_PER_PARTITION = 128 * 1024


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    durable: bool = False,
    pointer_jump: bool = False,
    broadcast_label_limit: int = 100_000,
) -> DataFrame:
    """edges(src, dst) undirected -> (node, component) with component =
    min node id of the component (lexicographic for strings).

    ``durable=False`` truncates lineage with ``localCheckpoint`` —
    fastest, but the blocks live on executors and die with them.
    ``durable=True`` uses reliable ``checkpoint()`` (persisted to the
    configured checkpoint dir — HDFS/object store on a real cluster),
    so a long-running canonicalization survives executor loss; prefer it
    for cluster jobs where a lost executor would otherwise restart the
    whole iteration history.

    Loop partitioning is DERIVED from the materialized symmetric edge
    table — ``ceil(|sym| / _LOOP_ROWS_PER_PARTITION)``, clamped to the
    session ``spark.sql.shuffle.partitions`` — instead of inheriting a
    session constant sized for corpus-scale stages (guide §2: derive
    partitioning from input size, never a local[N] constant). Iterative
    CC rounds are scheduling-bound: at 500k nodes / 884k sym rows the
    r8 sweep measured 32 session partitions = 9.8s, AQE-1m-floor =
    6.4s, 8 derived partitions = 4.5s (min-of-3 each), with a shallow
    optimum at ~1e5 rows/task; on big graphs the clamp saturates to the
    session value, so the rule only ever REMOVES scheduling overhead.
    The count is applied operator-locally, as a ``coalesce`` on the two
    frames the loop materializes (the label seed and each round's
    labels) — never by setting session confs, which would leak into
    queries other threads plan on the same session. ``coalesce``, not
    ``repartition(n, "node")``: a hash exchange under the round's
    ``groupBy("node")`` would satisfy its distribution and drop the
    map-side min-combine, so a dense graph would shuffle every edge
    every round instead of ~|V| rows per map task. The row count rides
    the edge-materialization job as an ``Observation`` metric (no extra
    action).

    ``broadcast_label_limit``: while the node count stays at or under
    this many rows, each round's label join carries an ``F.broadcast``
    hint on the LABEL side — the edge table is then never exchanged
    (the round's only shuffle is the map-combined min aggregation,
    O(|V|) rows, not O(|E|)). This is the dense-graph win: a near-dup
    pair graph of 584k edges over 2.7k nodes spent most of its 4.4s
    re-exchanging sym every round for a label table that fits in one
    broadcast (r8 q8_dataprep audit: 4.0 -> 3.1s min-of-4, identical
    labels). The default is deliberately LOW (100k rows): every round
    pays a fresh driver collect + broadcast of the label table, and the
    r8 A/B measured the flip side — hinting a 500k-node chain graph
    REGRESSED q10-shape CC 6.1 -> 9.9s — so the hint is only right when
    the label table is small in absolute terms, not merely
    broadcastable. Past the limit the join plans unhinted exactly as
    before (unbounded in |V|). The node count rides the label-
    materialization job as an ``Observation`` metric (no extra action).
    """
    cleanup_dir: str | None = None
    if durable:
        sc = edges.sparkSession.sparkContext
        # Ownership tracking: getCheckpointDir() keeps returning OUR
        # auto-created (and afterwards deleted) dir on later calls, so
        # "is it unset?" alone would make run 2+ skip the mkdtemp branch
        # and checkpoint into a recreated dir nobody cleans — exactly the
        # unbounded-/tmp growth this branch exists to prevent. A dir we
        # created (recorded on the SparkContext in its RESOLVED form,
        # scheme included) counts as unset. One durable run per
        # SparkContext at a time: concurrent runs would share the global
        # checkpoint dir and run 1's cleanup would delete run 2's live
        # checkpoint files.
        current = sc.getCheckpointDir()
        auto_owned = getattr(sc, "_cc_auto_checkpoint_resolved", None)
        if current is None or current == auto_owned:
            if not sc.master.startswith("local"):
                # a driver-local tempdir is NOT shared storage: executors
                # would checkpoint to their own /tmp and cross-node reads
                # (or node loss) fail — the opposite of what durable=True
                # promises. Fail loudly instead of silently degrading.
                raise ValueError(
                    "durable=True on a cluster requires "
                    "sparkContext.setCheckpointDir(<shared fs path>) first"
                )
            # Per-run unique subdir (NOT a fixed shared path): repeated
            # runs must not accumulate unbounded checkpoint RDD files in
            # /tmp. setCheckpointDir is global SparkContext state — we
            # only overwrite it when unset or when it points at a dir WE
            # created, and we delete our own subdir after convergence
            # (see finally below).
            cleanup_dir = tempfile.mkdtemp(prefix="spark-cc-checkpoint-")
            sc.setCheckpointDir(cleanup_dir)
            sc._cc_auto_checkpoint_resolved = sc.getCheckpointDir()

    def cut(df: DataFrame) -> DataFrame:
        return df.checkpoint() if durable else df.localCheckpoint()

    try:
        # row counts for the partition derivation and the broadcast
        # decision ride the cut jobs as Observation metrics — zero
        # extra actions (a separate count per decision measurably taxed
        # tiny-graph callers like build_graph's entity CC, r8)
        sym_obs = Observation()
        sym = edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        sym = cut(
            sym.filter(F.col("a") != F.col("b"))
            .distinct()
            .observe(sym_obs, F.count(F.lit(1)).alias("n"))
        )
        session_parts = int(
            edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        loop_parts = max(1, min(
            session_parts, -(-sym_obs.get["n"] // _LOOP_ROWS_PER_PARTITION)
        ))

        lab_obs = Observation()
        labels = cut(
            sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .coalesce(loop_parts)
            .observe(lab_obs, F.count(F.lit(1)).alias("n"))
        )
        # the node set is loop-invariant, so one metric decides the
        # hint for every round (see broadcast_label_limit above)
        bcast_labels = lab_obs.get["n"] <= broadcast_label_limit

        def hint(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if bcast_labels else df

        for _round in range(max_iter):
            # neighbor labels: for edge (a,b), b hears a's component
            msgs = sym.join(hint(labels), sym["a"] == labels["node"]).select(
                F.col("b").alias("node"),
                F.col("component"),
                F.lit(False).alias("_old"),
            )
            # the node's previous label rides through the SAME shuffle
            # as the min-aggregation (`_prev` = the one tagged-old row
            # per node), so the convergence probe below is a filter
            # over the materialized blocks instead of a per-round
            # new-vs-old labels JOIN (r7: that join was ~2s/round of
            # q10's wall at 500k nodes).
            propagated = (
                labels.select("node", "component", F.lit(True).alias("_old"))
                .union(msgs)
                .groupBy("node")
                .agg(
                    F.min("component").alias("component"),
                    F.min(F.when(F.col("_old"), F.col("component"))).alias(
                        "_prev"
                    ),
                )
            )
            # pointer jumping (OPT-IN): a node's label is itself a node
            # whose own label may be smaller — follow one hop
            # (label-of-label), so labels travel ~2^k hops after k
            # rounds instead of k, turning O(diameter) rounds into
            # O(log diameter) on DEEP graphs (chains, long near-dup
            # runs; measured ~20% wall win on the 500k-node chain bench
            # fixture, q10_cc_full). Default OFF because this module's
            # common callers (entity-match cliques, dedup near-dup
            # clusters, merge_components' contraction folds) are
            # diameter ≲ 2-3 and converge in 2-3 rounds either way —
            # for them the extra full-label-set join per round is
            # overhead, not acceleration. Turn it on when the edge set
            # can chain (path-shaped graphs, transitive near-dup runs).
            if pointer_jump:
                hop = propagated.select(
                    F.col("node").alias("_c"), F.col("component").alias("_cc")
                )
                propagated = propagated.join(
                    hint(hop), propagated["component"] == hop["_c"], "left"
                ).select(
                    "node",
                    F.coalesce("_cc", "component").alias("component"),
                    "_prev",
                )
            # convergence probe as an Observation metric on the SAME job
            # that materializes the round's checkpoint — the pre-r8
            # shape paid a separate (cheap but scheduler-round-trip)
            # count job per round over the materialized blocks
            obs = Observation()
            new_labels = cut(
                propagated.coalesce(loop_parts).observe(
                    obs,
                    F.sum(
                        F.when(F.col("component") != F.col("_prev"), 1)
                    ).alias("_changed"),
                )
            )
            changed = obs.get["_changed"] or 0
            labels = new_labels.drop("_prev")
            if changed == 0:
                break
        if cleanup_dir is not None:
            # detach the result from the reliable checkpoint files (the
            # localCheckpoint materializes its blocks executor-side) so
            # this run's checkpoint dir can be removed without breaking
            # later reads of the returned frame.
            labels = labels.localCheckpoint()
            shutil.rmtree(cleanup_dir, ignore_errors=True)
        return labels
    except BaseException:
        if cleanup_dir is not None:
            shutil.rmtree(cleanup_dir, ignore_errors=True)
        raise


def _local_components(edge_rows) -> list:
    """Driver-side union-find over a SMALL edge list (the contraction
    graph of a merge fold), components labeled by min member id —
    byte-for-byte the labeling :func:`connected_components` produces on
    the same edges. Invariant: a tree's root is always the minimum
    element of its component (union parents the smaller root), so
    ``find(n)`` is the min member. Self-loop rows are skipped entirely,
    and loop-only nodes are never emitted — matching the distributed
    operator's ``a != b`` edge filter. Python's ``<`` on str compares
    code points, which equals Spark's default UTF8-binary ordering
    (UTF-8 byte order preserves code-point order), so string component
    ids agree with ``F.min`` too."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a == b:
            continue
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return [(n, find(n)) for n in parent]


def merge_components(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_fold_threshold: int | None = 20_000,
) -> DataFrame:
    """Incremental connected components: fold a batch of new edges into a
    converged (node, component) labeling WITHOUT re-running CC over the
    full graph — the pattern a 10^12-turn KG needs, where each ingest
    batch touches a vanishing fraction of the accumulated entity graph.

    Standard contraction argument: components of (old graph ∪ new edges)
    equal components of the CONTRACTED graph whose nodes are the old
    component ids plus any brand-new nodes, with one edge per new edge
    (endpoints mapped through their old labels). So the expensive
    iteration runs only on the contraction graph — bounded by the new
    batch size, not the accumulated graph — and the result joins back as
    a relabel map. Component ids stay "min member id" because the min
    over a merged component equals the min over its old component ids
    (each of which is already the min of its members).

    Equivalence with a full recompute over the union graph is
    pytest-pinned (random planted graphs) and DuckDB-oracled.

    ``local_fold_threshold``: the contraction graph is bounded by the
    NEW BATCH, not the accumulated graph — at ingest cadence it is
    usually a few thousand edges, where the distributed iteration's
    floor (~2 actions per round: join+groupBy materialization and a
    convergence probe, each a full scheduler round-trip) dominates wall
    time. At or under this many contracted edges the fold collects them
    once and runs a driver-side union-find (:func:`_local_components`),
    broadcasting the tiny relabel map back — one action instead of
    ~2+2·rounds, identical labeling (parity pytest-pinned). The probe
    is a single ``limit(threshold+1).collect()``: if it comes back
    full, the batch is genuinely large and the iterative distributed
    path runs as before. ``None`` disables the probe (always
    distributed — the pre-round-7 behavior)."""
    # self-loops carry no connectivity and would otherwise surface their
    # node as a spurious singleton (connected_components never emits
    # loop-only nodes — keep the same contract)
    new_edges = new_edges.filter(F.col(src) != F.col(dst))
    e = new_edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    s_lab = prev_labels.select(
        F.col("node").alias("_s"), F.col("component").alias("_cs")
    )
    d_lab = prev_labels.select(
        F.col("node").alias("_d"), F.col("component").alias("_cd")
    )
    contracted = (
        e.join(s_lab, on="_s", how="left")
        .join(d_lab, on="_d", how="left")
        .select(
            F.coalesce("_cs", "_s").alias("src"),
            F.coalesce("_cd", "_d").alias("dst"),
        )
    )
    local_fold = False
    relabel = None
    if local_fold_threshold is not None:
        probe = contracted.limit(local_fold_threshold + 1).collect()
        if len(probe) <= local_fold_threshold:
            pairs = _local_components((r[0], r[1]) for r in probe)
            id_type = contracted.schema["src"].dataType
            schema = T.StructType([
                T.StructField("_key", id_type, True),
                T.StructField("_new", id_type, True),
            ])
            relabel = F.broadcast(
                prev_labels.sparkSession.createDataFrame(pairs, schema)
            )
            local_fold = True
        # else: probe came back full — large batch, fall through to the
        # iterative distributed path (contracted recomputes its two
        # label joins once more; negligible next to the iteration).
    if relabel is None:
        relabel = connected_components(contracted, max_iter=max_iter).select(
            F.col("node").alias("_key"), F.col("component").alias("_new")
        )

    # old nodes: relabel through their component id (untouched components
    # are absent from the map -> keep their label)
    relabeled_old = (
        prev_labels.join(
            relabel, prev_labels["component"] == relabel["_key"], "left"
        )
        .select(
            "node", F.coalesce("_new", "component").alias("component")
        )
    )
    # brand-new nodes: endpoints of new edges never seen before
    cand = (
        new_edges.select(F.col(src).alias("node"))
        .union(new_edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    if local_fold:
        # small-batch shape: the naive left_anti below must SHUFFLE all
        # of prev_labels (anti joins only broadcast their right side,
        # and prev_labels is the big accumulated graph) — at ingest
        # cadence that shuffle IS the fold cost. Flip it: broadcast the
        # batch-bounded candidate set into one shuffle-free scan of
        # prev_labels to find which candidates are old, then anti-join
        # two tiny frames. prev_labels is scanned, never exchanged.
        seen = prev_labels.select("node").join(F.broadcast(cand), on="node")
        new_nodes = cand.join(F.broadcast(seen), on="node", how="left_anti")
    else:
        # big-batch fallback: cand may exceed the broadcast budget, so
        # pay the classic anti join (both sides exchange on node) —
        # amortized by the large batch that forced this path.
        new_nodes = cand.join(
            prev_labels.select("node"), on="node", how="left_anti"
        )
    labeled_new = (
        new_nodes.join(relabel, new_nodes["node"] == relabel["_key"], "left")
        .select("node", F.coalesce("_new", "node").alias("component"))
    )
    return relabeled_old.unionByName(labeled_new)
