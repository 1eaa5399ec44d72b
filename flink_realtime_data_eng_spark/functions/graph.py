"""Graph operators for dedup clustering.

Near-duplicate detection yields PAIRS (LSH candidates verified by exact
Jaccard — ``dedup.neardup_pipeline``); deduplication needs CLUSTERS
(keep one doc per connected component of the pair graph). Spark has no
built-in connected components, so :func:`connected_components`
implements synchronous min-label propagation:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated to a fixpoint, which needs O(component diameter) rounds;
near-dup components are shallow (dozens of docs, diameter a few hops).

Two execution paths, chosen per call by one bounded collect
(:func:`collect_at_most`):

- Up to ``_FIXPOINT_ROWS_PER_PARTITION`` = 2M edge rows counted in both
  directions (every bench-scale pair graph): one Spark action ships the
  NULL-free edges to the driver, where the same synchronous rounds replay
  in numpy on sorted integer codes (:func:`_label_fixpoint`). At this
  scale a fixpoint's cost is Spark job scheduling, not data, so the whole
  fixpoint costs that one action. The labels come back as one partition,
  so later joins and sorts add no exchange on their side.
- Larger graphs run the distributed loop: each round is one shuffle join
  + one aggregation on a plan whose width (:func:`_distribute`) is sized
  from the counted symmetric edge frame (:func:`counted_checkpoint`); the
  driver only reads a scalar change count per round, and
  ``localCheckpoint`` truncates the lineage each round so plan size stays
  constant. The probe first costs one more pass over the edges.

Both paths return the same rows and honour the same ``max_iter``
contract. :func:`label_propagation` (community detection) takes the same
switch through the same helper.

A chain longer than ``max_iter`` hops raises ``RuntimeError`` rather
than returning a half-converged labeling. Below 2M rows a round costs
nothing extra (one numpy pass on the driver), so only the round bound,
not cost, limits min-label on long chains; raise ``max_iter`` for such
graphs.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

# Target rows per shuffle partition inside fixpoint loops: ~2M edge/label
# rows ≈ 50-100 MB — the guide's 100 MB-1 GB shuffle-partition sizing,
# derived from the MEASURED frame size rather than the session default
# (which is sized for corpus-scale scans, not pair-scale fixpoints). A
# graph that fits in one such partition runs its fixpoint on the driver.
_FIXPOINT_ROWS_PER_PARTITION = 2_000_000

# Unique observed-metric names for counted_checkpoint's row counts.
_OBSERVED = itertools.count()


def _fixpoint_width(n_rows: int) -> int:
    """Shuffle width for a fixpoint loop: ceil(rows / 2M).

    Every round of a fixpoint shuffles the SAME bounded frame (edges /
    labels), so its right shuffle width is known up front from the
    materialized row count — unlike one-shot queries, where AQE's runtime
    coalescing is the adaptive answer. Scale-adaptive in both directions:
    490 bench rows → 1 partition, 10¹⁰ edges → 5000, with the session
    default as neither floor nor ceiling."""
    return max(1, -(-n_rows // _FIXPOINT_ROWS_PER_PARTITION))


def _distribute(df: DataFrame, width: int, *keys: str) -> DataFrame:
    """Impose the fixpoint width on ``df`` as a PLAN property — the
    concurrency-safe replacement for scoping ``spark.sql.shuffle.partitions``
    (a session-global mutation that two concurrent fixpoints would clobber;
    per-plan state lets callers thread independent pipelines).

    width == 1 coalesces to a SinglePartition frame: SinglePartition
    satisfies every required distribution, so joins and aggregates on it
    plan with ZERO exchanges. Wider frames get an explicit hash
    repartition on ``keys``; an equi-join on those keys reuses it, but an
    aggregate grouped on another column still shuffles (the min-label
    loop joins on ``b`` and groups on ``a``: one exchange per round). AQE
    stays ON (skew-split still applies inside each round)."""
    if width == 1:
        return df.coalesce(1)
    return df.repartition(width, *[F.col(k) for k in keys])


def counted_checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` materialized once (``localCheckpoint(eager=True)``) and its
    row count.

    The count rides the checkpoint's own job as an observed metric, so a
    caller that sizes its plan from it pays no separate count job. The
    metric is read from the checkpointed plan's accumulators once the job
    returns, not through an ``Observation``: that waits, with no timeout,
    for a listener-bus event the bus may deliver late or drop under
    load."""
    name = f"counted_checkpoint_{next(_OBSERVED)}"
    observed = df.observe(name, F.count(F.lit(1)).alias("n"))
    out = observed.localCheckpoint(eager=True)
    n = observed._jdf.queryExecution().observedMetrics().apply(name)
    return out, n.getLong(0)


def _symmetric(edges: DataFrame, src: str, dst: str,
               distinct: bool = True) -> tuple[DataFrame, int]:
    """Both directions of every edge as ``(a, b)``, NULL endpoints dropped
    (NULL is not a node id), materialized ONCE and returned with its row
    count (:func:`counted_checkpoint`).

    The frame is re-read by every round, and its lineage embeds whatever
    produced the edges (e.g. the whole LSH+Jaccard pipeline) — without the
    checkpoint the edge computation re-runs per round."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .dropna())
    if distinct:
        sym = sym.distinct()
    return counted_checkpoint(sym)


def collect_at_most(df: DataFrame, bound: int) -> pd.DataFrame | None:
    """``df`` as one pandas frame on the driver, or ``None`` when it has
    more than ``bound`` rows: one Spark action either way (plus any
    shuffle stage ``df`` already has), shipping at most ``bound + 1``
    rows. An integer column must hold no NULL (pandas would make it float
    and lose ids above 2**53)."""
    out = df.limit(bound + 1).toPandas()
    return None if len(out) > bound else out


def _label_fixpoint(e: pd.DataFrame, step,
                    max_rounds: int) -> tuple[pd.DataFrame, int]:
    """A synchronous label fixpoint over the undirected edge rows ``e``
    ``(a, b)``: ``(node, label)`` and the round that changed nothing, or
    ``max_rounds + 1`` when none did (what the distributed min-label loop
    would have counted). NULL endpoints are dropped; a repeated edge stays
    repeated (one vote per row for label propagation).

    Node keys are factorized with ``sort=True``, so code order is value
    order (for strings, code-point order, which is Spark's UTF-8 binary
    order) and a min or ascending tie-break on codes picks what the
    distributed loop picks on values. Every node starts labelled with
    itself; ``step(label, a, b)`` maps one round's label codes to the next
    until a round changes nothing or ``max_rounds`` rounds have run."""
    e = e.dropna()
    codes, keys = pd.factorize(pd.concat([e["a"], e["b"]]), sort=True)
    a, b = codes, np.roll(codes, len(e))  # every row in both directions
    keys = np.asarray(keys)
    label = np.arange(len(keys))
    rounds = max_rounds + 1
    for r in range(1, max_rounds + 1):
        nxt = step(label, a, b)
        if np.array_equal(nxt, label):
            rounds = r
            break
        label = nxt
    return pd.DataFrame({"node": keys, "label": keys[label]}), rounds


def _small_fixpoint(edges: DataFrame, src: str, dst: str, step,
                    max_rounds: int) -> tuple[DataFrame, int] | None:
    """:func:`_label_fixpoint` over ``edges`` as a one-partition ``(node,
    label)`` frame plus its rounds, or ``None`` when the edges exceed
    ``_FIXPOINT_ROWS_PER_PARTITION`` rows counted in both directions. One
    direction is shipped, NULL endpoints dropped first."""
    one = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).dropna()
    e = collect_at_most(one, _FIXPOINT_ROWS_PER_PARTITION // 2)
    if e is None:
        return None
    # coalesce widens both endpoints to one key type, as a union would
    key = edges.select(F.coalesce(src, dst)).schema[0].dataType.simpleString()
    labels, rounds = _label_fixpoint(e, step, max_rounds)
    out = edges.sparkSession.createDataFrame(labels, f"node {key}, label {key}")
    return out.coalesce(1), rounds


def _min_label_round(label, a, b):
    """One min-label round on codes: each node takes the minimum of its
    own label and its neighbours' labels."""
    nxt = label.copy()
    np.minimum.at(nxt, a, label[b])
    return nxt


def _majority_round(label, a, b):
    """One label-propagation round on codes: each node takes the label most
    frequent among its neighbours (every edge row is one vote), ties going
    to the smallest label."""
    n = len(label)
    # (node, label) as one int64 key: n is at most the 2M driver-path rows.
    pair, votes = np.unique(a * n + label[b], return_counts=True)
    node, lbl = pair // n, pair % n
    first = np.lexsort((lbl, -votes, node))
    node, lbl = node[first], lbl[first]
    head = np.diff(node, prepend=-1) != 0
    nxt = label.copy()
    nxt[node[head]] = lbl[head]
    return nxt


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Label every node of the undirected ``edges`` graph with the MINIMUM
    node id reachable from it (the canonical component representative).

    Returns ``(node, label)``. Deterministic: min is order-insensitive.
    Edges with a NULL endpoint are ignored. Raises if the fixpoint is not
    reached within ``max_iter`` rounds (returning half-propagated labels
    would silently split components). Runs on the driver up to 2M
    both-direction edge rows, as a distributed loop above (module
    docstring).
    """
    labels, rounds = (
        _small_fixpoint(edges, src, dst, _min_label_round, max_iter)
        or _min_label_loop(*_symmetric(edges, src, dst), max_iter))
    if rounds > max_iter:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "component diameter exceeds the bound; raise max_iter")
    return labels


def _min_label_loop(sym: DataFrame, n: int,
                    max_iter: int) -> tuple[DataFrame, int]:
    """The distributed min-label fixpoint over the ``n``-row ``sym``:
    returns the labels and the round that changed nothing (``max_iter +
    1`` if none did within the bound)."""
    width = _fixpoint_width(n)
    # shuffle_hash on the loop join sides: a localCheckpoint output has no
    # known partitioning, so without the hint AQE plans each round as a
    # BroadcastHashJoin whose broadcast exchange materializes as an EXTRA
    # driver job per round (measured: 45 → 37 jobs on the embedding pair
    # graph). The sides are hash-distributed on the join key already, and
    # SHJ consumes that exchange-free where SMJ would add per-round sorts.
    sym_j = _distribute(sym, width, "b").hint("shuffle_hash")
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    for r in range(1, max_iter + 1):
        labels_r = _distribute(labels, width, "node")
        neigh = (sym_j.join(labels_r, sym_j["b"] == labels_r["node"])
                 .groupBy("a").agg(F.min("label").alias("nlabel"))
                 .hint("shuffle_hash"))
        # Carry the old label through the update join so convergence is
        # a filter+count on the checkpointed result — no second join of
        # two full node sets per round just to detect change.
        # Lazy checkpoint + count: the count is the materializing
        # action, so each round pays ONE Spark job (materialize+count
        # fused) instead of two (eager materialize, then a count over
        # it); results identical.
        step = (labels_r.join(neigh, labels_r["node"] == neigh["a"], "left")
                        .select(labels_r["node"],
                                labels_r["label"].alias("old_label"),
                                F.least(labels_r["label"],
                                        F.coalesce(F.col("nlabel"),
                                                   labels_r["label"]))
                                 .alias("label"))
                        .localCheckpoint(eager=False))
        changed = step.filter(
            F.col("label") != F.col("old_label")).count()
        labels = step.select("node", "label")
        if changed == 0:
            return labels, r
    return labels, max_iter + 1


def label_propagation(edges: DataFrame, src: str = "id_a",
                      dst: str = "id_b", rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007): every node
    starts labelled with itself, and each of ``rounds`` rounds gives every
    node the label most frequent among its neighbours, ties going to the
    smallest label. Edges are NOT deduplicated, so a repeated edge is a
    repeated vote; NULL endpoints are dropped. Fixed rounds plus a total
    tie order make the result a pure function of the edge list.

    Returns ``(node, label)`` for every node of the graph. Takes the same
    size switch as :func:`connected_components`: at most 2M both-direction
    edge rows run on the driver, larger graphs run one edge join + one
    (node, label) count + one argmax window per round."""
    small = _small_fixpoint(edges, src, dst, _majority_round, rounds)
    if small is not None:
        return small[0]
    sym, _ = _symmetric(edges, src, dst, distinct=False)
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    w = Window.partitionBy("a").orderBy(F.col("n").desc(), F.col("label"))
    for _ in range(rounds):
        votes = (sym.join(labels.withColumnRenamed("node", "b"), "b")
                 .groupBy("a", "label").agg(F.count(F.lit(1)).alias("n")))
        labels = (votes.withColumn("rk", F.row_number().over(w))
                  .filter(F.col("rk") == 1)
                  .select(F.col("a").alias("node"), "label")
                  .localCheckpoint(eager=True))
    return labels


def pagerank(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
             iterations: int = 5, scale: int = 10 ** 9,
             damp_num: int = 17, damp_den: int = 20) -> DataFrame:
    """Fixed-iteration PageRank over the undirected ``edges`` graph in
    EXACT integer arithmetic — the iterative-algorithm pattern (power
    iteration) done Spark-shaped, and cross-engine hash-checkable.

    Scores are scaled integers (initial mass = ``scale`` per node); one
    update is ``score' = scale*(1-d) + d * Σ_in floor(score/deg)`` with
    ``d = damp_num/damp_den`` applied as integer multiply-then-divide, so
    every intermediate is a BIGINT and the result is independent of
    partitioning, summation order, and float association — a DuckDB
    oracle unrolling the same recurrence reproduces it bit-for-bit
    (float PageRank cannot be hash-compared across engines).

    Plan shape: the symmetrized edge+degree table materializes ONCE
    (``localCheckpoint`` — its lineage embeds whatever produced the edges,
    e.g. the full LSH pipeline); each of the ``iterations`` rounds is one
    edge-join + one node-keyed hash aggregate — shuffle proportional to
    |E|, driver traffic zero. Nodes outside the edge set are dangling by
    definition here and excluded (the similarity-graph use case ranks
    connected docs only).

    Output: (node, rank_i9) with rank at the ``scale`` fixed point.
    """
    sym, n_sym = _symmetric(edges, src, dst)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    sym_deg = sym.join(deg, "a").localCheckpoint(eager=True)
    base = scale * (damp_den - damp_num) // damp_den
    scores = (sym_deg.select(F.col("a").alias("node")).distinct()
              .withColumn("score", F.lit(scale).cast("bigint")))
    # sym_deg has exactly one row per sym row (every a has a degree).
    width = _fixpoint_width(n_sym)
    sym_deg_r = _distribute(sym_deg, width, "a")
    for _ in range(iterations):
        scores_r = _distribute(scores, width, "node")
        contrib = (sym_deg_r.join(scores_r, sym_deg_r["a"] == scores_r["node"])
                   .select(F.col("b"), F.expr("score DIV deg").alias("c")))
        # Lazy checkpoint: each round's scores feed exactly one consumer
        # (the next round's join), so materialization can ride the final
        # action — one Spark job for the whole unrolled chain instead of
        # one per round, while LogicalRDD still caps the plan size.
        scores = (contrib.groupBy("b").agg(F.sum("c").alias("s"))
                  .select(F.col("b").alias("node"),
                          (F.lit(base)
                           + F.expr(f"({damp_num} * s) DIV {damp_den}"))
                          .cast("bigint").alias("score"))
                  .localCheckpoint(eager=False))
    return scores.select("node", F.col("score").alias("rank_i9"))


def triangle_count(edges: DataFrame, src: str = "id_a",
                   dst: str = "id_b") -> DataFrame:
    """Global triangle count of the undirected graph — the clustering
    statistic (together with CC and PageRank) that characterizes a
    near-dup graph's shape: tight cliques (boilerplate families) vs
    chains (drifting revisions).

    Degree-ordered counting (the MapReduce-classic trick): orient every
    edge from the LOWER (degree, id) endpoint to the higher, so each
    triangle is counted exactly once at its lowest-ordered vertex and the
    wedge-join fan-out is bounded by the max ORIENTED out-degree —
    O(sqrt(|E|)) for any graph, versus the hub-quadratic blowup of naive
    wedge counting on skewed graphs. Two equi-joins, no cartesian.

    Returns one row: (n_triangles,).
    """
    # Materialize ONCE (the connected_components discipline): sym feeds
    # the degree table and two join sides, and its lineage embeds whatever
    # produced the edges (e.g. the whole LSH+Jaccard pipeline) — without
    # this the edge computation re-runs per reference (measured: the
    # un-checkpointed plan re-inlined the near-dup pipeline 8x, 201
    # exchanges vs 2 after).
    sym, _ = _symmetric(edges, src, dst)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    ranked = sym.join(deg.withColumnRenamed("a", "a_k")
                         .withColumnRenamed("deg", "deg_a"),
                      F.col("a") == F.col("a_k")) \
                .join(deg.withColumnRenamed("a", "b_k")
                         .withColumnRenamed("deg", "deg_b"),
                      F.col("b") == F.col("b_k"))
    oriented = (ranked.filter(
        (F.col("deg_a") < F.col("deg_b"))
        | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))))
        .select("a", "b")
        .localCheckpoint(eager=True))
    w1 = oriented.select(F.col("a").alias("u"), F.col("b").alias("v"))
    w2 = oriented.select(F.col("a").alias("u"), F.col("b").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    closing = oriented.select(F.col("a").alias("v"), F.col("b").alias("w")) \
        .union(oriented.select(F.col("b").alias("v"), F.col("a").alias("w")))
    tri = wedges.join(closing.distinct(), ["v", "w"])
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def kcore(edges: DataFrame, k: int = 2, rounds: int = 8,
          src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes whose
    degree in the SURVIVING subgraph is below k until a fixpoint — what
    remains is the maximal subgraph where every node keeps >= k
    neighbors. On a near-dup graph the 2-core separates true duplicate
    FAMILIES (mutually reinforcing clusters) from incidental one-off
    pair bridges, which is the distinction a dedup keep-policy acts on.

    Runs a FIXED ``rounds`` peels so the answer is a pure function of
    (edges, k, rounds) and an unrolled-CTE DuckDB oracle replays it
    bit-for-bit (the x_pagerank recipe); the fixture fixpoint is reached
    well inside the default and pinned by pytest. Production loops to
    convergence instead — swap the range for a while-changed check (one
    1-row count per round at the driver, the sanctioned scalar).

    Each round is one degree aggregate + two semi-joins on the current
    edge set, localCheckpointed PER ROUND — the round output feeds the
    next round's plan three times (degree base + both semi-join probes),
    so without materialization the peel chain re-executes 3^rounds
    times, the same blowup the oracle avoids with MATERIALIZED CTEs.
    O(rounds) keyed shuffles on a frame that only shrinks, never the
    corpus.

    Returns (node, deg) for surviving nodes with their in-core degree.
    """
    sym, n = _symmetric(edges, src, dst)
    width = _fixpoint_width(n)
    for _ in range(rounds):
        sym_r = _distribute(sym, width, "a")
        deg = sym_r.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        # Lazy checkpoint (fixed rounds, no driver decision): each
        # round's RDD still materializes exactly once — on the final
        # action — and serves its three consumers from the persisted
        # partitions, but the loop itself submits zero jobs.
        sym = (sym_r.join(keep, "a", "left_semi")
                    .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
                    .select("a", "b")
                    .localCheckpoint(eager=False))
    return (sym.groupBy(F.col("a").alias("node"))
               .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
               .orderBy("node"))


def bfs_hops(edges: DataFrame, seeds: DataFrame, rounds: int = 3,
             src: str = "id_a", dst: str = "id_b",
             id_col: str = "node") -> DataFrame:
    """Multi-source BFS over the undirected edge set: the minimum hop
    distance (0..rounds) from ANY seed — the N-hop neighborhood
    expansion behind lineage walks, contamination blast-radius checks
    and "everything within k links of a flagged doc" policies.

    BFS visits a node first at its minimum distance, so hop = the round
    that discovered it; each round is ONE equi-join of the current
    FRONTIER (not the whole visited set) against the adjacency list,
    followed by an anti-join on visited — O(rounds) keyed shuffles
    whose inputs shrink toward the fringe, never a corpus-sized
    recursion. Fixed ``rounds`` keeps the answer a pure function of
    (edges, seeds, rounds) so an unrolled-CTE DuckDB oracle replays it
    exactly (the kcore recipe). localCheckpoint per round: visited is
    referenced by the next round's anti-join AND the final union, and
    the frontier chain would otherwise re-execute cumulatively.

    Returns (node, hop) with hop 0 for the seeds themselves.
    """
    sym, n = _symmetric(edges, src, dst)
    frontier = (seeds.select(F.col(id_col).cast("bigint").alias("node"))
                .distinct().localCheckpoint(eager=True))
    layers = [frontier.select("node", F.lit(0).cast("int").alias("hop"))]
    visited = frontier
    width = _fixpoint_width(n)
    sym_a = _distribute(sym, width, "a")
    for r in range(1, rounds + 1):
        # Lazy: the loop is a FIXED number of rounds (no per-round
        # driver decision), so materialization rides the final action —
        # one job total; the LogicalRDD per round still caps plan depth
        # and the persisted partitions serve all three consumers (next
        # round's join, the visited anti-join, the final layer union).
        frontier = (_distribute(frontier, width, "node")
                    .join(sym_a, F.col("node") == sym_a["a"])
                    .select(F.col("b").alias("node")).distinct()
                    .join(visited, "node", "left_anti")
                    .localCheckpoint(eager=False))
        layers.append(frontier.select("node",
                                      F.lit(r).cast("int").alias("hop")))
        # No checkpoint needed: every union leaf is itself a
        # checkpointed frontier, so the visited plan is a flat union of
        # materialized RDDs — O(rounds) leaves, no lineage blowup — and
        # skipping the eager materialization saves one Spark job per
        # round.
        visited = visited.union(frontier)
    out = layers[0]
    for lay in layers[1:]:
        out = out.unionByName(lay)
    return out.orderBy("node")
