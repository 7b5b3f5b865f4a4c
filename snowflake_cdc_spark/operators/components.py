"""Connected components over a pair/edge list — the clustering step of a
near-duplicate pipeline (N2): pair detectors (MinHash-LSH q25, SimHash
q26, blocked Jaccard q27, quantization q96) emit edges; keeping one
document per *component* (not per pair) is what actually dedups a
corpus, because near-duplication is transitive in practice (A~B, B~C ⇒
keep one of {A,B,C}).

Algorithm: minimum-label propagation. Every node starts labeled with its
own id; each round, a node adopts the smallest label among itself and
its neighbors; at fixpoint the label is the component minimum (a
canonical representative). Convergence takes O(component diameter)
rounds — near-dup clusters are shallow (pairs/cliques/short chains), so
2-4 rounds in practice; each round is one join + one groupBy on the
edge list, all shuffles on the node key. Lineage is truncated per round
(localCheckpoint) so plans don't grow with iterations.

For adversarial deep graphs, ``connected_components_star`` implements
the large-star/small-star alternating algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): each round
contracts star centers toward the component minimum, halving effective
depth, so convergence is O(log diameter) rounds instead of
O(diameter). ``connected_components(algorithm="star")`` selects it.

Not expressible in one SQL query without recursion — the DuckDB oracle
for q102 uses a recursive CTE (transitive closure), an independent
algorithm, making this the engine's oracle-checked iterative lane.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from snowflake_cdc_spark.operators.util import ckpt_eager, ckpt_lazy


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    algorithm: str = "label",
    probe_iter: int = 4,
) -> DataFrame:
    """Return (node, component) with component = min node id reachable.

    ``edges`` is undirected input (each pair listed once is enough).
    Deterministic: labels are ids, min is total — same result on any
    partitioning, iteration interleaving, OR algorithm choice (all lanes
    converge to the component minimum). ``algorithm``:

    - ``"label"`` — min-label propagation, O(diameter) rounds, cheapest
      per round; right for shallow dedup graphs.
    - ``"star"`` — large-star/small-star, O(log diameter) rounds; right
      for deep/unknown graphs.
    - ``"auto"`` (round-3) — probe with label propagation for
      ``probe_iter`` rounds; if the fixpoint isn't reached the cluster
      depth exceeds the typical near-dup regime (pairs/cliques/short
      chains), so restart on the O(log d) star lane. The probe costs
      ``probe_iter`` cheap rounds, bounded regardless of graph shape —
      the failure mode it removes is label propagation grinding
      O(diameter) rounds on an adversarial chain (q118 benches exactly
      that).
    """
    if algorithm == "star":
        return connected_components_star(edges, src=src, dst=dst, max_iter=max_iter)
    if algorithm == "auto":
        # materialize the edge subtree ONCE (round 11): the label-prop
        # probe and the star fallback both consume it, and the detector
        # feeding it (minhash/banding/verify in the dedup lanes) is the
        # expensive part — without this a non-converging probe re-runs
        # the whole detector when star restarts
        edges = edges.transform(ckpt_lazy)
        labels, converged = _label_prop(edges, src, dst, probe_iter)
        if converged:
            return labels
        return connected_components_star(edges, src=src, dst=dst, max_iter=max_iter)
    labels, _ = _label_prop(edges, src, dst, max_iter)
    return labels


def _label_prop(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> tuple[DataFrame, bool]:
    """Min-label propagation; returns (labels, reached_fixpoint)."""
    # Materialize the edge list once (round 11): the symmetrize union
    # reads the input subtree TWICE (one branch per direction), and the
    # near-dup callers feed an expensive pair-detector subtree here
    # (minhash + banding + verify for q116/q230) — without this the
    # whole detector runs twice before the loop even starts.
    edges = edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).transform(ckpt_lazy)
    # Symmetrize once and pre-hash-partition on the probe key: the cached
    # InMemoryTableScan reports its outputPartitioning, so the per-round
    # join re-shuffles only the (small) label side, never the edge list.
    # REBALANCE instead of repartition (round 12): same hash
    # distribution on "a", but AQE sizes the partition count from the
    # data (1 partition for a bench-SF graph instead of the static 32 —
    # every per-round stage over the cached edge list was 32 tasks of
    # microseconds each; at scale it splits/coalesces to real sizes).
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .hint("rebalance", "a")
        .persist()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(ckpt_eager)
    )
    # Labels are elementwise non-increasing (min is monotone), so the label
    # sum strictly decreases until fixpoint: one cheap scan per round
    # replaces a join-based changed-row count. Decimal(38,0) so the sum
    # can't overflow at any node-id × corpus scale.
    _sum = lambda df: df.agg(
        F.sum(F.col("label").cast("decimal(38,0)"))
    ).collect()[0][0]
    prev_sum = _sum(labels)
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.a == labels.node)
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        labels = (
            labels.join(neighbor_min, "node", "left_outer")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            # lazy: the fixpoint sum right below materializes it — one job
            # per round instead of eager-checkpoint + separate scan
            .transform(ckpt_lazy)
        )
        cur_sum = _sum(labels)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    sym.unpersist()
    return labels.select("node", F.col("label").alias("component")), converged


def _large_star(sym: DataFrame) -> DataFrame:
    """Kiveris large-star: per node u, attach every strictly-larger
    neighbor to m(u) = min(Γ(u) ∪ {u}). Input (a,b) symmetric, no self
    loops; output directed edges, no self loops (m ≤ a < b)."""
    mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.filter(F.col("b") > F.col("a"))
        .join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """Kiveris small-star: direct edges toward the smaller endpoint,
    then per node u attach every smaller neighbor (and u itself) to
    m(u) = min of those neighbors."""
    directed = sym.filter(F.col("b") < F.col("a"))
    mins = directed.groupBy("a").agg(F.min("b").alias("m"))
    nbrs = directed.join(mins, "a")
    return (
        nbrs.filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .union(mins.select("a", F.col("m").alias("b")))
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Large-star/small-star alternating algorithm — O(log diameter)
    rounds, each round two keyed shuffles over the (shrinking) edge
    list. At fixpoint the edge set is a forest of stars (u → component
    min); roots appear only on the right side and label themselves.

    Both operations individually preserve connected components (paper
    Lemma 1/2), so each round rewrites the edge set in place; at
    fixpoint it is a star forest and both operations are identity.
    Convergence is detected by a deterministic edge-set fingerprint
    (count + sum of xxhash64) — one cheap scan per round, no join.

    Invariant kept between rounds: edges are distinct, self-loop-free,
    and point larger→smaller (both star ops emit only a > b), so
    small-star can treat its input as already-directed.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .transform(ckpt_eager)
    )
    all_nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .transform(ckpt_eager)
    )
    _fp = lambda df: tuple(
        df.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
        ).collect()[0]
    )
    prev = _fp(e)
    for _ in range(max_iter):
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        # lazy checkpoint: the fingerprint aggregation right below is the
        # action that materializes it — one job per round instead of two
        # (eager checkpoint + separate scan), same lineage truncation
        # no distinct between the two star ops (round 11): both are
        # min-aggregations, so duplicate edges cannot change any m(u);
        # the outer distinct still canonicalizes the round's output.
        # Dropping it removes one full exchange of the edge list per
        # round — the rounds x fixed-cost product IS this lane's cost.
        e = (
            _small_star(_large_star(sym))
            .distinct()
            .transform(ckpt_lazy)
        )
        cur = _fp(e)
        if cur == prev:
            break
        prev = cur
    parents = e.groupBy(F.col("a").alias("node")).agg(
        F.min("b").alias("component")
    )
    roots = all_nodes.join(parents, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return parents.union(roots)
