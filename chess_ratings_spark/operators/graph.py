"""Connected components over a pair graph — the step after near-dup
detection in a training-data pipeline: pair lists say "a≈b", but
dedup needs CLUSTERS (keep one representative per component, drop the
rest), and pairs compose transitively (a≈b, b≈c ⇒ {a,b,c} is one
cluster even when a≉c directly).

Two implementations behind the same (node, component) contract:

* ``connected_components`` — iterative min-label propagation (the
  Pregel/GraphX pattern expressed in DataFrames): every node starts
  labeled with itself; each round a node takes the min label among
  itself and its neighbors; converged when no label changes. Rounds
  needed = graph DIAMETER. Near-dup graphs are shallow (duplicates
  cluster tightly, 2-4 rounds in practice) — the default path.
* ``connected_components_twostar`` — alternating large-star /
  small-star contraction (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC 2014): converges in O(log² n) rounds
  independent of diameter, so it's the path for DEEP graphs (long
  chains — e.g. transitive URL redirect graphs) where label
  propagation would need diameter rounds.

Scale shape (both): each round is one or two equi-join/min-agg passes —
shuffle on the node key, no driver data. The driver coordinates only
the loop and reads ONE scalar per round (changed-label count / edge-set
fingerprint) — the standard iterative-algorithm contract (same as
GraphFrames/MLlib), not a collect of data. Hygiene per round: the
superseded cached state is unpersisted as soon as its successor is
materialized, and lineage is cut with an EAGER ``localCheckpoint``
every round. The checkpoint is almost free — the per-round scalar read
already materializes every partition, so the only marginal cost is the
local storage write — and without it each round's logical plan nests
the previous round's plus the (potentially enormous) pair-producer
lineage, and Catalyst re-optimizes that whole tree per action: measured
15.2 s → 2.9 s for a 2-round two-star run whose input pairs come from
the minhash pipeline. On a real cluster prefer
``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` —
localCheckpoint is lost on executor failure; in local mode the executor
IS the driver, so the distinction is moot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chess_ratings_spark.session import conf_scope


def _loop_shuffle_partitions(df: DataFrame, n: int = 32):
    """Scope spark.sql.shuffle.partitions for the ITERATIVE loop body.

    Each round materializes a 1-row scalar (changed count / edge
    fingerprint), so every in-loop shuffle actually executes — under a
    session default of 200-400 partitions a small pair graph pays
    hundreds of empty tasks per round, dominating wall-clock. The pair
    graph after near-dup blocking is orders of magnitude smaller than
    the corpus (pairs ≈ candidate survivors, not documents), so a small
    fixed count is right even at 100 TB corpus scale; callers with
    genuinely huge graphs pass a bigger n. Restored on exit; the loop
    runs driver-side and serially, same contract as the streaming
    state-partitions scope."""
    return conf_scope(df.sparkSession, {"spark.sql.shuffle.partitions": str(n)})


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node in `pairs`, where component is
    the minimum node id reachable through the pair graph."""
    with _loop_shuffle_partitions(pairs):
        # eager checkpoint: cuts the pair-producer lineage (minhash/LSH
        # plans are huge) so each round optimizes a shallow tree
        edges = (
            pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # init = round 1 fused: each node starts at min(self, direct
        # neighbors) — near-dup graphs are dominated by 2-node clusters,
        # which are already converged after this, so the loop usually runs
        # exactly one confirmation round
        labels = (
            edges.groupBy(F.col("a").alias("node"))
            .agg(F.min(F.least("a", "b")).alias("component"))
            .localCheckpoint(eager=True)
        )
        for _ in range(max_iter):
            # neighbor labels: for each edge a->b, b's label offered to a
            offered = edges.join(
                labels.withColumnRenamed("node", "b"), "b"
            ).select(F.col("a").alias("node"), "component")
            new_labels = (
                labels.union(offered)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            labels.unpersist()  # superseded state — drop before next round
            labels = new_labels
            if changed == 0:
                break
        edges.unpersist()
    return labels.select("node", "component")


def _canon(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges oriented (larger a, smaller b), self
    loops dropped — the normal form both star rounds emit into."""
    return (
        edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node connects its STRICTLY LARGER
    neighbors to the minimum of its closed neighborhood."""
    d = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = d.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return _canon(
        d.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node connects its SMALLER-OR-EQUAL
    neighbors (and itself) to the minimum among them."""
    d = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return _canon(
        d.join(mins, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
    )


def connected_components_twostar(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star edge
    contraction — O(log² n) rounds regardless of diameter, the variant
    to reach for when the pair graph has long chains.

    Convergence check is a per-round scalar fingerprint (edge count +
    bit_xor of xxhash64 over canonical edges — xor is order-independent
    and cannot overflow under ANSI arithmetic, and the edge set is
    distinct so no self-cancellation): when a large+small pair leaves
    the fingerprint unchanged the edge set is a fixed point — a forest
    of stars whose centers are the component minima. A 64-bit collision
    on unequal sets is ~2⁻⁶⁴-scale; the cost is one 1-row aggregate per
    round vs an exceptAll shuffle pair.
    """
    all_nodes = (
        pairs.select(F.col(src).alias("node"))
        .union(pairs.select(F.col(dst).alias("node")))
        .distinct()
        .cache()
    )

    def fingerprint(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    with _loop_shuffle_partitions(pairs):
        edges = _canon(
            pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        ).localCheckpoint(eager=True)
        fp = fingerprint(edges)
        for _ in range(max_iter):
            new_edges = _small_star(_large_star(edges)).localCheckpoint(
                eager=True
            )
            new_fp = fingerprint(new_edges)
            edges.unpersist()
            edges = new_edges
            if new_fp == fp:
                break
            fp = new_fp
    # fixed point: every edge is (node, component-min). Star centers /
    # singleton-free inputs mean any node absent from the 'a' side is
    # its own component.
    star = edges.groupBy(F.col("a").alias("node")).agg(
        F.min("b").alias("component")
    )  # min-agg: defensive against a max_iter exit short of the fixed point
    labels = all_nodes.join(star, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )
    all_nodes.unpersist()
    return labels


def pagerank_fixedpoint(
    edges: DataFrame,
    iters: int = 10,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    ckpt_every: int = 3,
    shuffle_parts: int = 16,
) -> DataFrame:
    """(node, rank) after `iters` PageRank power iterations in EXACT
    integer fixed-point arithmetic: ranks live in units of 1/scale,
    per-edge contribution is rank div out_degree (integer division),
    and the damping step is (damping_pct * s) div 100 — no floats
    anywhere, so the result is bit-identical on any engine, partition
    layout, or reduction order (the property that makes an iterative
    numeric job auditable; float PageRank differs per run by summation
    order). Dangling mass is dropped, not redistributed — the variant
    with an exact integer form; document the choice where ranking
    absolute values matter.

    Scale shape per iteration: one equi-join of the static
    (edges ⋈ out-degree) relation against the current ranks, one
    map-side-combinable sum keyed on dst, one left join back to the
    node set. Lineage hygiene differs from the CC loops deliberately:
    PageRank runs a FIXED iteration count (no per-round scalar read to
    piggyback on), so an eager checkpoint every round only buys plan
    shallowness — measured 11.9s/7.2s -> 5.6s at sf0.1 by widening the
    cadence to every `ckpt_every`=3 rounds (a 3-round lineage tail is
    cheap to optimize; the superseded checkpoint is unpersisted as
    soon as its successor materializes).
    """
    base = scale - (damping_pct * scale) // 100
    # 16 loop partitions, not the CC default 32: every iteration runs
    # ~4 tiny shuffles to completion (the eager checkpoints execute
    # them), so task-launch overhead dominates — measured 9.5s -> 5.0s
    # at sf0.1 (587k edges). Callers with genuinely huge graphs raise it.
    #
    # Loop state is the CONTRIBUTION table (dst, s), not the full rank
    # table: rank(node) is a pure per-row function of s — rank = base +
    # (damping_pct * coalesce(s, 0)) div 100, with s=0 for nodes absent
    # from the contribution table — so re-materializing (node, rank) via
    # a nodes-left-join every round only to immediately inner-join it
    # back onto the edges was two joins where one suffices. Each round
    # is now ONE left join (edges_deg ⋈ contrib on src) + one keyed sum;
    # the node table is touched once, at the end, to emit ranks for
    # every node including the contribution-free ones. Bit-identical by
    # construction (same integer expressions, absent-key s ≡ 0 on both
    # shapes); round 15 measured 4.99 s → 3.35 s min-of-3 at sf0.1.
    if iters <= 0:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        return nodes.select("node", F.lit(scale).cast("bigint").alias("rank"))
    rank_of_src = f"({base} + ({damping_pct} * coalesce(s, 0)) div 100)"
    with _loop_shuffle_partitions(edges, shuffle_parts):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        edges_deg = edges.join(deg, "src").localCheckpoint(eager=True)
        # iteration 1 fused: every rank is exactly `scale`, so the first
        # contribution needs no join at all
        contrib = (
            edges_deg.select("dst", F.expr(f"{scale} div d").alias("part"))
            .groupBy("dst")
            .agg(F.sum("part").alias("s"))
        )
        last_ck: DataFrame | None = None
        for i in range(1, iters):
            prev = contrib.select(F.col("dst").alias("node"), "s")
            contrib = (
                edges_deg.join(prev, edges_deg["src"] == prev["node"], "left")
                .select("dst", F.expr(f"{rank_of_src} div d").alias("part"))
                .groupBy("dst")
                .agg(F.sum("part").alias("s"))
            )
            if (i + 1) % ckpt_every == 0 or i == iters - 1:
                contrib = contrib.localCheckpoint(eager=True)
                if last_ck is not None:
                    last_ck.unpersist()
                last_ck = contrib
        # nodes from the checkpointed frame, not the caller's edge plan:
        # reading edges_deg avoids re-running the (possibly expensive)
        # edge-producer lineage once more just to enumerate node ids
        nodes = (
            edges_deg.select(F.col("src").alias("node"))
            .union(edges_deg.select(F.col("dst").alias("node")))
            .distinct()
        )
        ranks = nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            "node",
            F.expr(rank_of_src).cast("bigint").alias("rank"),
        )
    return ranks


def label_propagation(edges: DataFrame, iters: int = 3, shuffle_parts: int = 16) -> DataFrame:
    """(node, lbl) after `iters` SYNCHRONOUS label-propagation rounds
    (Raghavan et al. 2007) over the undirected closure of `edges`:
    labels start as node ids; each round every node adopts the most
    frequent label among its neighbors PLUS ITSELF (weight 1) with a
    (count desc, label asc) tie-break — fully deterministic, unlike
    the async/random-order LPA variants, so the result is engine- and
    layout-independent and a SQL oracle can unroll the identical
    rounds. The self-vote is the standard damping for synchronous
    LPA's period-2 oscillation on bipartite structure (a bare star
    swaps hub/leaf labels forever; with the self-vote it converges in
    one round — tests/test_corpus.py). All-integer.

    Scale shape per round: one equi-join of the static undirected edge
    list against the current labels, one grouped count keyed on
    (node, label), one per-node top-1 pick via max_by — everything
    shuffles on the node key only and every aggregation is partial
    (map-side) mergeable. Same loop hygiene as pagerank_fixedpoint:
    static relations checkpointed once, per-round eager checkpoint
    (fixed small iteration count), loop-scoped shuffle partitions."""
    with _loop_shuffle_partitions(edges, shuffle_parts):
        ud = (
            edges.select("src", "dst")
            .union(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        labels = ud.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("lbl")
        )
        for _ in range(iters):
            nbr = ud.join(
                labels.withColumnRenamed("node", "__n"),
                F.col("dst") == F.col("__n"),
            ).select(F.col("src").alias("node"), "lbl")
            votes = nbr.unionByName(labels.select("node", "lbl"))  # self-vote
            prev = labels
            # top-1 vote via two-level hash aggregation, not a sort
            # window: max_by over (c, -lbl) is exactly the
            # (count desc, label asc) row_number()==1 pick — lbl is
            # unique within a node's vote groups so the struct ordering
            # has no ties — and partial (map-side) aggregation replaces
            # the per-round exchange+sort the window needed (guide
            # §2.3: aggregate before you shuffle).
            labels = (
                votes.groupBy("node", "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("node")
                .agg(
                    F.expr("max_by(lbl, struct(c, -lbl))").alias("lbl")
                )
                .localCheckpoint(eager=True)
            )
            if prev is not None and prev.is_cached:
                prev.unpersist()
        return labels


def kcore_peel(
    edges: DataFrame, k: int, rounds: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Synchronous k-core peeling for a fixed number of rounds.

    Round r: degrees over the surviving edge set e_{r-1}, keep nodes
    with degree >= k, keep edges with BOTH endpoints kept. Returns one
    row per round: (round, n_nodes, n_edges) — the census of the
    surviving subgraph, which is constant once the peel reaches its
    fixpoint (the k-core). Fixed-round synchronous peeling is the
    deterministic, oracle-replayable form: each round is one degree
    aggregation plus two semi-joins, all keyed on node ids — the same
    per-round shuffle budget as PageRank, with the edge frame SHRINKING
    monotonically. State hygiene matches the other fixed-point loops:
    eager localCheckpoint per round cuts lineage, superseded frames are
    dereferenced immediately."""
    with _loop_shuffle_partitions(edges):
        cur = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        out = None
        prev_ann = None
        for r in range(1, rounds + 1):
            # One materialized pass per round: posexplode the two
            # endpoints, count the node's degree with a window (counts
            # BOTH positions, so self-loops and non-bipartite graphs
            # keep the union-based degree), and pivot back to one row
            # per edge carrying (dega, degb). The old form spent two
            # eager jobs per round (checkpoint `alive`, checkpoint the
            # semi-joined survivors); everything below — survivors,
            # alive census, edge census — is a map-side filter or a
            # tiny agg over THIS one checkpoint.
            ex = cur.select(
                "a",
                "b",
                F.posexplode(F.array("a", "b")).alias("pos", "node"),
            )
            ann = (
                ex.withColumn(
                    "deg",
                    F.count(F.lit(1)).over(Window.partitionBy("node")),
                )
                .groupBy("a", "b")
                .agg(
                    F.max(F.when(F.col("pos") == 0, F.col("deg"))).alias(
                        "dega"
                    ),
                    F.max(F.when(F.col("pos") == 1, F.col("deg"))).alias(
                        "degb"
                    ),
                )
                .localCheckpoint(eager=True)
            )
            nxt = ann.filter(
                (F.col("dega") >= k) & (F.col("degb") >= k)
            ).select("a", "b")
            alive = (
                ann.filter(F.col("dega") >= k)
                .select(F.col("a").alias("node"))
                .union(
                    ann.filter(F.col("degb") >= k).select(
                        F.col("b").alias("node")
                    )
                )
                .distinct()
            )
            census = alive.agg(
                F.lit(r).cast("int").alias("round"),
                F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            ).crossJoin(
                F.broadcast(
                    nxt.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
                )
            )
            out = census if out is None else out.unionByName(census)
            # Pin the census rows accumulated so far (≤ r tiny rows) so
            # nothing downstream references superseded `ann` frames,
            # then let go of the PREVIOUS round's O(edges) checkpoint —
            # the current `ann` is still `cur`'s source for the next
            # round. Superseded checkpoint blocks are freed by
            # dereferencing (rebinding `prev_ann`) plus Spark's
            # ContextCleaner, not by unpersist(), which only drops
            # SQL-cache entries and a localCheckpoint'd frame has none.
            # Holding every round's ann would keep the SUM of all
            # rounds' surviving edge sets reachable; this keeps at most
            # two rounds' edges referenced.
            out = out.localCheckpoint(eager=True)
            if r == 1:
                cur.unpersist()
            if prev_ann is not None:
                prev_ann.unpersist()
            prev_ann = ann
            cur = nxt
        assert out is not None
        return out.orderBy("round")


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source BFS over an undirected edge set for a fixed number
    of frontier expansions: returns one row per distance layer
    (dist, n_nodes) — nodes FIRST reached at that distance (dist 0 =
    the seed set). Each round is one frontier-to-edges equi-join, a
    DISTINCT, and an anti-join against the visited set — all keyed on
    node ids; the frontier shrinks once the reachable set saturates.
    Same loop hygiene as the other fixed-point operators (eager
    localCheckpoint, predecessor unpersist). `seeds` must carry a
    single `node` column."""
    with _loop_shuffle_partitions(edges):
        und = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .unionByName(
                edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        frontier = seeds.select("node").distinct().localCheckpoint(eager=True)
        visited = frontier
        out = frontier.groupBy().agg(
            F.lit(0).cast("int").alias("dist"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        )
        for d in range(1, rounds + 1):
            nxt = (
                und.join(
                    frontier.withColumnRenamed("node", "a"), "a", "semi"
                )
                .select(F.col("b").alias("node"))
                .distinct()
                .join(visited, "node", "anti")
                .localCheckpoint(eager=True)
            )
            census = nxt.groupBy().agg(
                F.lit(d).cast("int").alias("dist"),
                F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            )
            out = out.unionByName(census)
            # the visited set stays a LAZY union of the per-round
            # checkpointed frontiers: materializing it each round was a
            # second eager job per round for a frame every piece of
            # which is already checkpointed — the anti-join just scans
            # the union of those stored blocks
            visited = visited.unionByName(nxt)
            frontier = nxt
        return out.orderBy("dist")
