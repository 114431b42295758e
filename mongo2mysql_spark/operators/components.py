"""Connected components over a near-duplicate pair list (extension layer).

The dedup pipeline's final step: candidate PAIRS (from MinHash LSH
banding, n-gram Jaccard, or embedding cosine — operators/dedup.py) must
become CLUSTERS, i.e. the transitive closure of the pair relation,
before one representative per cluster can be kept.  A pair list alone
under-deduplicates: if A~B and B~C but A!~C, keeping "one of each pair"
retains two of {A,B,C}.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", ACM SoCC 2014).  Each round is two groupBy+join passes
over the edge list, and the edge set converges to one star per
component rooted at the component's minimum node id in O(log^2 n)
rounds — crucially bounded by graph SIZE, not graph DIAMETER.  Naive
label propagation needs diameter-many rounds, and at 100 TB a chain of
pairwise near-duplicates (common with templated/boilerplate text) makes
the diameter unbounded.

Scale shape: every round is {symmetrize -> groupBy(min) -> join} —
shuffles keyed on node id, no collect of neighbor lists (high-degree
nodes never materialize their neighborhood in one task's memory, unlike
collect_list formulations).  Per-round results are localCheckpoint'ed
eagerly: the iteration would otherwise nest each round's plan inside
the next (exponential lineage); on a real cluster use a reliable
checkpoint dir instead.  Convergence detection costs no job of its
own: an Observation on the round's checkpoint collects the edge-set
fingerprint in the same pass, so each round runs its star shuffles and
one checkpoint job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo2mysql_spark.telemetry import observe


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to m(u) = min(N(u) + {u})."""
    sym = edges.select("a", "b").union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    m = sym.groupBy("a").agg(F.min("b").alias("__mn"))
    m = m.select("a", F.least("a", "__mn").alias("__m"))
    return (
        sym.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("__m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge large->small, then connect every smaller
    neighbor (and u itself) to m(u) = min of u's smaller neighbors."""
    oriented = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    m = oriented.groupBy("a").agg(F.min("b").alias("__m"))
    neighbors = (
        oriented.join(m, "a")
        .select(F.col("b").alias("a"), F.col("__m").alias("b"))
    )
    self_edges = m.select("a", F.col("__m").alias("b"))
    return (
        neighbors.union(self_edges)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, src: str = "id_1", dst: str = "id_2", max_rounds: int = 30
) -> DataFrame:
    """Transitive closure of an undirected pair list.

    Returns one row per node appearing in ``edges``:
    ``(id, component)`` where ``component`` is the smallest node id
    reachable from ``id`` — a deterministic canonical cluster label.
    Nodes with no edges are absent (callers left-join and coalesce to
    the node's own id, which is what the registered query does).
    """
    def _checkpoint(df: DataFrame) -> tuple[DataFrame, tuple]:
        # The edge set, checkpointed, and its fingerprint for fixed-point
        # detection, observed on the checkpoint job: cardinality, the
        # label sum (monotonically non-increasing round to round —
        # Kiveris et al. prove per-node minima never increase), and an
        # order-insensitive 64-bit content hash.  Equality of the triple
        # across one round means the edge set stopped changing; the
        # union-find equivalence tests exercise this on chains/cliques.
        observed = observe(
            df, "cc_round",
            n=F.count(F.lit(1)),
            label_sum=F.sum(F.col("b").cast("decimal(38,0)")),
            hash_sum=F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
        )
        done = observed.frame.localCheckpoint()
        return done, tuple(observed.metrics.values())

    e, prev = _checkpoint(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if prev[0] == 0:
        return e.select(F.col("a").alias("id"), F.col("b").alias("component"))
    for _ in range(max_rounds):
        e, cur = _checkpoint(_small_star(_large_star(e)))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no fixed point in {max_rounds} rounds")
    # At the fixed point the edge set is a union of stars (member ->
    # component min).  Roots appear only on the b side.
    members = e.groupBy("a").agg(F.min("b").alias("component")).select(
        F.col("a").alias("id"), "component"
    )
    roots = (
        e.select(F.col("b").alias("id"))
        .subtract(e.select(F.col("a").alias("id")))
        .select("id", F.col("id").alias("component"))
    )
    return members.union(roots)


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    max_rounds: int = 30,
) -> DataFrame:
    """Maintain a connected-components labeling under an edge batch —
    the DELTA path of streaming near-dup graph maintenance.

    ``labels`` is an existing (id, component) frame where each
    component label is the min node id of its members (exactly what
    ``connected_components`` emits; unlisted nodes are implicit
    singletons).  ``new_edges`` is the incoming pair batch.  Returns
    the updated (id, component) labeling, EQUAL to batch
    ``connected_components`` over old ∪ new edges (asserted by the
    registered branch's same-answer-different-path oracle) — without
    ever re-reading the old edge set:

    - each new edge contracts to (comp(u), comp(v)) via two left joins
      against the labeling (unlabeled endpoints stand as themselves),
      so the closure re-runs on a graph of size O(|batch|), not
      O(|history|);
    - because every existing label IS the min member id of its old
      component, the contracted closure's min-label choice equals the
      true min over the merged components' members — the incremental
      answer is bit-identical to the batch answer, not just
      isomorphic;
    - the relabel is one keyed join of the labeling against the
      (components-touched)-bounded mapping, plus the batch's own new
      nodes.

    At 100 TB this is the difference between O(|ΔE|) per refresh and
    re-closing a trillion-edge graph every batch.
    """
    e = (
        new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    lab_u = labels.select(
        F.col("id").alias("u"), F.col("component").alias("cu")
    )
    lab_v = labels.select(
        F.col("id").alias("v"), F.col("component").alias("cv")
    )
    contracted = (
        e.join(lab_u, "u", "left")
        .join(lab_v, "v", "left")
        .select(
            F.coalesce("cu", "u").alias("id_1"),
            F.coalesce("cv", "v").alias("id_2"),
        )
    )
    # the delta closure: O(|batch|) nodes/edges regardless of history
    mapping = connected_components(
        contracted, "id_1", "id_2", max_rounds=max_rounds
    ).localCheckpoint()
    relabeled = (
        labels.join(
            mapping.select(
                F.col("id").alias("component"),
                F.col("component").alias("__new"),
            ),
            "component",
            "left",
        )
        .select(
            "id", F.coalesce("__new", F.col("component")).alias("component")
        )
    )
    # nodes first seen in this batch: their contracted stand-in is the
    # node id itself; absent from the mapping means still a singleton
    # (self-loop-only batch edges), which callers treat as implicit
    new_nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
    )
    new_labeled = new_nodes.join(mapping, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    return relabeled.unionByName(new_labeled)
