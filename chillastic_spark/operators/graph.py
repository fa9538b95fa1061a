"""Iterative graph algorithms over DataFrame edge lists — PageRank,
complementing the pointer-jumping connected components
(operators/components.py).

Spark-first shape: each power iteration is one join (ranks → out-edge
contributions) + one aggregation, with the round state pinned via the
shared ``chillastic_spark.persist.materialize`` (iterative=True: the
cluster mode is a RELIABLE checkpoint, surviving executor loss) to
keep the lineage flat — the classic DataFrame PageRank. No driver-side
graph; state per round is one (node, rank) table shuffled on node id.

Use on the corpus: PageRank over the k-NN similarity graph
(operators/similarity.knn_graph_edges) scores embedding CENTRALITY —
highly-ranked docs are the corpus's representative cores, low ranks
the isolates; curation uses both ends (seed selection, outlier
review). Iterative fixpoints are one of the documented
not-SQL-expressible families (like the sketches), so the registered
query is rows-only with a NumPy replay property test pinning the
math.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.persist import materialize, release

# Lazy round-state checkpoints are forced (eager sync + release of all
# older pins) every this many rounds: per-job scheduler overhead is the
# dominant cost of small/medium iterations, while live round-state
# memory stays bounded by _SYNC_ROUNDS + 1 tables.
_SYNC_ROUNDS = 3


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    digits: int = 6,
) -> DataFrame:
    """(node, rank) after ``iters`` power iterations of standard
    damped PageRank on the DIRECTED edge list (uniform out-edge
    weights; dangling nodes' mass redistributes uniformly, the
    classic formulation). Ranks sum to ~N (the 1-per-node scaling).

    Determinism: every per-edge contribution is rounded at ``digits``
    and summed as DECIMAL (associative — partitioning cannot change
    the sum), and each round's ranks re-round — the DSIR/LM recipe,
    so results are bit-reproducible across partitionings, replays,
    and the pure-Python twin.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    # setup pins are LAZY; the two setup actions below (node count,
    # dangling count) double as their materialization jobs, so setup is
    # 2 Spark jobs instead of the 5 the r9 eager pins cost
    e = materialize(e, iterative=True, eager=False)
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        iterative=True,
        eager=False,
    )
    n_nodes = nodes.count()  # materializes e + nodes
    # pinned: deg feeds the out-edge checkpoint AND the dangling
    # anti-join — unpinned, the edges scan + distinct + groupBy ran
    # twice during setup
    deg = materialize(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg")),
        iterative=True,
        eager=False,
    )
    # out-edges with weights, checkpointed once — reused every round;
    # lazy: first loop job computes and pins it
    out = materialize(e.join(deg, "src"), iterative=True, eager=False)

    dec = "decimal(28,{})".format(digits)
    # the DANGLING SET (nodes with no out-edges) is fixed across
    # iterations — only its rank mass changes. Compute it once; when
    # it is empty (every kNN graph: each node has out-edges) skip the
    # per-iteration mass aggregate entirely (x + 0.0 == x bit-wise,
    # so results are unchanged). FULL count, not limit(1): this action
    # materializes the lazy deg + dangling pins, and a partial scan
    # would leave them half-populated.
    dangling_nodes = materialize(
        nodes.join(deg, nodes["node"] == deg["src"], "left_anti"),
        iterative=True,
        eager=False,
    )
    has_dangling = bool(dangling_nodes.count())

    ranks = nodes.withColumn("rank", F.lit(1.0))
    # Round state is pinned LAZILY and synced (eager checkpoint job +
    # release of everything older) every _SYNC_ROUNDS rounds and on the
    # last round: a k-round PageRank is ceil(k/_SYNC_ROUNDS) Spark jobs
    # instead of k (r9 shape: one eager checkpoint job per round). The
    # sync job computes every pending lazy round in one pass — each
    # round's checkpoint persists as it computes, so the within-job
    # chain stays flat — and live round-state pins stay bounded by
    # _SYNC_ROUNDS + 1 tables, preserving the r9 memory contract's
    # spirit (bounded, not 2).
    pending: "list[DataFrame]" = []
    for i in range(iters):
        contrib = (
            out.join(ranks, out["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                CF.round_det(F.col("rank") / F.col("out_deg"), digits)
                .cast(dec)
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias("in_sum"))
        )
        base = nodes.join(contrib, "node", "left")
        if has_dangling:
            # dangling mass: rank currently held by the fixed set
            dangling = dangling_nodes.join(ranks, "node").agg(
                F.coalesce(F.sum(F.col("rank").cast(dec)), F.lit(0))
                .cast("double")
                .alias("d")
            )
            base = base.crossJoin(F.broadcast(dangling))
            mass = F.coalesce("in_sum", F.lit(0.0)) + F.col("d") / n_nodes
        else:
            mass = F.coalesce("in_sum", F.lit(0.0))
        sync = (i + 1) % _SYNC_ROUNDS == 0 or i == iters - 1
        ranks = materialize(
            base.select(
                "node",
                CF.round_det((1.0 - damping) + damping * mass, digits).alias(
                    "rank"
                ),
            ),
            iterative=True,
            eager=sync,
        )
        if sync:
            # everything older than this checkpoint is now fully
            # computed (it is an ancestor of the job that just ran)
            # and referenced by nothing downstream — release it
            for p in pending:
                release(p)
            pending = [ranks]
        else:
            pending.append(ranks)
    # the setup pins feed nothing once the final ranks checkpoint is
    # computed (iterative pins are eager in every mode): unreleased,
    # each pagerank call leaked four corpus-scale tables for the
    # session lifetime — the callers run outside any batch_scope
    for setup_pin in (e, nodes, deg, out, dangling_nodes):
        release(setup_pin)
    return ranks


def pagerank_local(
    edge_list: "list[tuple]", iters: int = 10, damping: float = 0.85,
    digits: int = 6,
) -> "dict":
    """Pure-Python replay (the test oracle): identical formulation,
    identical per-round rounding."""
    edges = sorted(set(edge_list))
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out: dict = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
    import math

    p = 10 ** digits

    def rd(x: float) -> float:
        return math.floor(x * p + 0.5) / p

    ranks = {v: 1.0 for v in nodes}
    for _ in range(iters):
        # contributions rounded per-edge, summed in integer micro-units
        # — exactly the Spark DECIMAL sum, in any order
        in_units = {v: 0 for v in nodes}
        for a, outs in out.items():
            cu = math.floor(ranks[a] / len(outs) * p + 0.5)
            for b in outs:
                in_units[b] += cu
        # HALF-UP like the Spark DECIMAL casts (Python round() is
        # banker's half-to-even — a silently different rounding rule)
        dang_units = sum(
            math.floor(r * p + 0.5) for v, r in ranks.items() if v not in out
        )
        ranks = {
            v: rd(
                (1.0 - damping)
                + damping * (in_units[v] / p + (dang_units / p) / n)
            )
            for v in nodes
        }
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """(node, label) after ``iters`` SYNCHRONOUS label-propagation
    rounds on the UNDIRECTED graph (labels start as node ids; each
    round every node adopts the most frequent label among its
    neighbors, ties broken by smallest label — fully deterministic,
    unlike classic randomized LPA). Communities in the corpus k-NN
    graph = topical clusters; the curation companion to PageRank
    centrality (cores) and connected components (duplicate groups).

    All-integer arithmetic (label counts), so cross-engine exactness
    needs no rounding recipe at all; a fixed iteration count makes the
    fixpoint SQL-unrollable, same as :func:`pagerank`. Each round is
    one equi-join + two aggregations shuffled on node id; lineage cut
    per round."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    # lazy pin: the first sync job below materializes it (r10 round)
    und = materialize(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct(),
        iterative=True,
        eager=False,
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # EAGER per-round sync, unlike pagerank's 3-round batches: an LPA
    # round is a vote join + TWO aggregations, so a 3-round-deep lazy
    # plan costs more in optimizer/AQE work than the saved jobs —
    # measured at sf0.1 (knn_communities, 3 adjacent-window reps):
    # batched 6.29/5.17/6.92s vs per-round 5.24/4.83/6.54s. The lazy
    # setup pin above still saves its separate materialization job
    # (round 1 computes it).
    prev: "DataFrame | None" = None
    for i in range(iters):
        votes = (
            und.join(
                labels.withColumnRenamed("node", "__n"),
                F.col("dst") == F.col("__n"),
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label").alias("lb")
                    )
                ).alias("s")
            )
            .select("node", F.col("s.lb").alias("label"))
        )
        labels = materialize(labels, iterative=True, eager=True)
        if prev is not None:
            release(prev)  # the new round is already materialized
        prev = labels
    # the undirected edge pin feeds nothing once the final labels
    # checkpoint exists — unreleased it leaked per call (pagerank rule)
    release(und)
    return labels


def label_propagation_local(
    edge_list: "list[tuple]", iters: int = 3
) -> "dict":
    """Pure-Python replay (the test oracle): identical synchronous
    update, identical (count desc, label asc) tie-break."""
    e = set()
    for a, b in edge_list:
        e.add((a, b))
        e.add((b, a))
    nbrs: dict = {}
    for a, b in sorted(e):
        nbrs.setdefault(a, []).append(b)
    labels = {v: v for v in nbrs}
    for _ in range(iters):
        new = {}
        for v, ns in nbrs.items():
            votes: dict = {}
            for u in ns:
                votes[labels[u]] = votes.get(labels[u], 0) + 1
            new[v] = min(votes, key=lambda l: (-votes[l], l))
        labels = new
    return labels
