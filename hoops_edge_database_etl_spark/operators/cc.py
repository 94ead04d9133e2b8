"""Connected components over DataFrame edge lists — two interchangeable
algorithms with very different scaling envelopes.

``connected_components_labelprop`` is min-label propagation (q62, q411,
q440): one sweep per hop, so sweeps = component DIAMETER.
Perfect for near-dup graphs (LSH components are single-digit diameter) and
wrong for adversarial shapes — a 10k-node path needs 10k sweeps.

``connected_components_star`` is the alternating large-star/small-star
contraction (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14): each round rewires every node toward the minimum of its
neighborhood, provably converging in O(log n) rounds REGARDLESS of
diameter. Per-round exchanges, enumerated from the physical plan (r13,
ADVICE r12): THREE shuffle exchanges — the large-star groupBy-min, the
small-star groupBy-min, and the round-end distinct — plus two
BroadcastExchanges of the (post-aggregate, small) min frames; each star
step's join probes its symmetrized/oriented edge side with NO exchange
(broadcast hash join over the narrow-op edge lineage), which is why
dropping the mid-round dedup (r12, :func:`_orient`) removed the fourth
shuffle outright. Labelprop pays 2 exchanges per sweep, so labelprop wins
on shallow graphs and star wins past a small-constant diameter — the
measured crossover is documented in README ("Star vs labelprop
crossover").

Both return ``(node, component)`` with component = min node id reachable,
the same contract the reference's duplicate-resolution step implies
(reference: scripts/deduplicate_silver.py:1-120 keeps one canonical row per
duplicate group); there is no distributed-graph machinery in the reference
to translate — this is the Spark-native design for the same semantics.

Both drive their rounds with :func:`~.fixpoint.until_stable`. At 100 TB:
state is |V_active| + |E| rows hash-partitioned on node id, lineage
truncated per round with ``localCheckpoint``; the only driver-side values
are scalar convergence probes (count + checksum), never node sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hoops_edge_database_etl_spark.operators.fixpoint import until_stable


def _canon(edges: DataFrame) -> DataFrame:
    """Orient (u > v), drop self-loops and duplicates."""
    u, v = F.col("src"), F.col("dst")
    return (
        edges.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _orient(edges: DataFrame) -> DataFrame:
    """Orient (u > v) and drop self-loops WITHOUT deduplicating — narrow
    ops only, no exchange (r12: the mid-round dedup was one of the
    per-round shuffle exchanges; groupBy-min is duplicate-insensitive and
    the round-end :func:`_canon` restores the canonical set, so dropping
    it changes no per-round canonical edge set, probe value, or round
    count — A/B in ab_q410_r12.py, deleted; in git history at 953e8f3).

    Multiplicity caveat (ADVICE r12): duplicate edges admitted here fan
    through the small-star join and inflate the round-end distinct's
    shuffle input in proportion to duplicate multiplicity. The r12 win
    was measured on the bounded path-segment fixture (low multiplicity);
    r13 re-measured on a dense high-multiplicity co-purchase graph
    (ab_cc_dense_r13.py, deleted; in git history at 953e8f3 — every edge
    duplicated by order multiplicity) before trusting the tradeoff; numbers in
    OPTIMIZATION_r13.md. If a future corpus carries extreme duplicate
    multiplicity (>~10x), reinstate the mid-round :func:`_canon` for
    that call site — the two are drop-in interchangeable."""
    u, v = F.col("src"), F.col("dst")
    return edges.select(
        F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
    ).filter(F.col("u") != F.col("v"))


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round over canonical edges (u > v)."""
    # --- large-star: every neighbor LARGER than u links to the min of
    # Γ(u) ∪ {u}.  Symmetrize so each node sees its full neighborhood.
    sym = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    large = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    # NOT checkpointed (round-7 measurement, 3 reps at sf0.1: with
    # [5.9, 14.1] s -> without [4.3, 5.8] s on q410): the small-star
    # step reads this frame twice (mins + join), but the two reads
    # share the identical subtree, which Spark reuses — one
    # checkpoint per ROUND (after small-star) is enough lineage
    # truncation, and it halves the block writes.  NOT deduplicated
    # either (r12, guide §2.4): _orient is exchange-free, and the
    # duplicate (v, m) links it lets through are invisible to the
    # small-star groupBy-min and swept by the round-end _canon.
    e = _orient(large)
    # --- small-star: orient u > v (all neighbors of u here are smaller);
    # every smaller neighbor AND u itself link to min Γ(u).
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    j = e.join(mins, "u")
    small = j.select(F.col("v").alias("src"), F.col("m").alias("dst")).unionByName(
        j.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    )
    return _canon(small)


def connected_components_star(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Alternating large-star/small-star contraction.

    ``edges``: DataFrame with integer columns (src, dst), any orientation.
    Returns (node, component) for every node incident to an edge;
    component = min node id of the connected component. O(log n) rounds.
    Fixed point: the canonical edge set stops changing. Edges only ever
    rewire downward, so (count, sum of endpoints) is a monotone probe.
    """
    e = _canon(edges).localCheckpoint(eager=True)
    probe = (F.count(F.lit(1)), F.sum(F.col("u") + F.col("v")))
    e = until_stable(e, _star_round, probe, max_rounds, "star contraction")
    # Fixed point is a union of stars centered at component minima:
    # every edge is (member, root).
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return members.unionByName(roots)


def connected_components_labelprop(
    edges: DataFrame, max_sweeps: int = 30
) -> DataFrame:
    """Min-label propagation: one sweep per hop, so sweeps = component
    diameter.  Same (node, component) contract as
    :func:`connected_components_star`.  Labels only fall over a fixed
    node set, so ``sum(lbl)`` is a monotone probe.  Raises
    ``RuntimeError`` when the diameter exceeds ``max_sweeps``; use
    :func:`connected_components_star` for high-diameter graphs."""
    und = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    # Starting from min(self, direct neighbors) fuses the first sweep.
    labels = (
        und.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("lbl"))
        .select(F.col("src").alias("node"), "lbl")
    )

    def sweep(labels: DataFrame) -> DataFrame:
        prop = und.join(labels, und["dst"] == labels["node"]).select(
            F.col("src").alias("node"), F.col("lbl")
        )
        return labels.unionByName(prop).groupBy("node").agg(F.min("lbl").alias("lbl"))

    labels = until_stable(labels, sweep, (F.sum("lbl"),), max_sweeps, "label propagation")
    return labels.select("node", F.col("lbl").alias("component"))
