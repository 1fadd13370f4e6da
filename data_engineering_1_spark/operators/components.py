"""Connected components over an edge list — the clustering stage of a
near-dup pipeline: pairs -> clusters -> one survivor per cluster.

The reference stops at exact-hash dedup (no pair/cluster stage); this is
[north-star] scope: near-dup PAIRS (operators/dedup.py) only become a
deduplicated corpus once transitively-connected docs are grouped and one
representative is kept per group.

Spark-first design: alternating large-star / small-star contraction
(Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
Components in MapReduce and Beyond", SoCC'14 — the same algorithm
GraphFrames ships), expressed as DataFrame joins with the loop on the
driver.

- Each round runs one LARGE-STAR (every strictly-larger neighbor of u
  is rewired to u's min neighbor) and one SMALL-STAR (every
  smaller neighbor of u, and u itself, is rewired to u's min
  neighbor). Both preserve connectivity exactly and strictly shrink
  star heights; the alternation converges in O(log n) rounds on ANY
  graph — including adversarial id layouts where plain min-label
  propagation needs O(diameter) rounds. That is not theoretical: the
  30x fuzzy-name ER graph (592k nodes, 1.9M edges, ids uncorrelated
  with chain position) took >25 propagation rounds and the old
  propagation loop, capped at 25, silently returned WRONG labels
  (7411 components vs the 7391 fixpoint — caught by the staged parity
  sweep). Star contraction lands the same graph in a handful of
  rounds because rewiring hooks whole trees together instead of
  walking labels one edge per round.
- Every emitted edge satisfies child > parent, so each round's output
  is a parent-pointer forest fragment; at the fixpoint the edge set is
  a disjoint union of stars whose root IS the component minimum
  (parents only ever decrease, and the minimum can never acquire a
  parent above itself).
- Per round: two groupBy-min (map-side combinable) + two equi-joins +
  two distincts, all at a partition count sized to the edge list; the
  edge set only shrinks, so rounds get cheaper as the graph
  contracts. Each phase is localCheckpoint-ed to truncate lineage —
  without it the plan doubles per round and analysis time dominates.
  (On a real cluster with a checkpoint dir, ``checkpoint()`` to
  reliable storage is the durable equivalent.)
- Convergence: the authoritative check — every ORIGINAL edge must
  connect two identically-labeled nodes — is fused into the round's
  single action (a crossJoin of two 1-row aggregates), every round.
  ``bad == 0`` holds IFF the edge set is a disjoint union of stars
  rooted at component minima (labels equal along every original edge
  force one label per component; the minimum can never acquire a
  parent, so that label is the minimum), so the loop exits at the TRUE
  fixpoint round. The check re-joins the full original edge set each
  round, so total work is O(rounds x |E|) on top of the contraction's
  O(Σ|E_t|).
- If the loop hits ``max_iter`` without passing the authoritative
  check, the function RAISES rather than returning non-converged
  labels: a silently wrong clustering is strictly worse than a loud
  failure (the lesson of the r12 golden_record_fusion mismatch).
- Skew note for 100 TB: a giant component's root accumulates degree;
  groupBy-min absorbs it via partial aggregation, and the min-nbr
  join puts one key's adjacency in one task — at extreme scale,
  GraphFrames splits such keys with a salted skewed join; the hook is
  isolated in ``_min_nbrs`` if that becomes the bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# One shuffle partition per this many edges; tiny graphs collapse to a
# single dense task, billion-edge graphs fan out.
_EDGES_PER_PARTITION = 1_000_000


def _min_nbrs(sym: DataFrame) -> DataFrame:
    """(u, m) where m = min(u, min neighbor of u) over the symmetric
    edge view. Map-side combinable; the skew hook for giant-degree
    roots lives here."""
    return sym.groupBy("u").agg(
        F.least(F.first("u"), F.min("v")).alias("m")
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_out: str = "node",
    comp_out: str = "component",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    smallest node id reachable from the node (deterministic labels,
    engine-portable: an oracle can reproduce them with a recursive CTE).

    Nodes with no edges don't appear — callers keep singletons by
    left-joining this result against the full id set.

    Raises ``RuntimeError`` if the star-contraction fixpoint is not
    reached within ``max_iter`` rounds (O(log n) needed, so the
    default covers any graph that fits on hardware; never silent).
    """
    spark = edges.sparkSession
    # Canonical parent-pointer seed: (child=hi, parent=lo), self-loops
    # dropped, deduped. Built in ONE pass over the input so the
    # upstream pair pipeline (LSH + verify, typically the expensive
    # part) executes once. persist() — not localCheckpoint — so a
    # 100 TB edge list spills rather than OOMs and lineage survives
    # executor loss.
    u, v = F.col(src), F.col(dst)
    ee = (
        edges.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    n_edges = ee.count()
    orig = ee  # kept cached for the authoritative convergence check
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    parts = max(1, min(ceiling, n_edges // _EDGES_PER_PARTITION + 1))
    def _violations(lbl_src: DataFrame) -> DataFrame:
        """1-row (bad) count of ORIGINAL edges whose endpoints carry
        different labels under the star set ``lbl_src`` — the
        authoritative convergence predicate. limit(1) keeps the scan
        early-exiting: one violation is enough to keep looping."""
        lbl = lbl_src.select(
            F.col("u").alias("n_"), F.col("v").alias("c_")
        )
        return (
            orig.join(
                lbl.withColumnRenamed("n_", "u").withColumnRenamed(
                    "c_", "cu"
                ),
                "u",
                "left",
            )
            .join(
                lbl.withColumnRenamed("n_", "v").withColumnRenamed(
                    "c_", "cv"
                ),
                "v",
                "left",
            )
            # roots carry no label row: their label is themselves
            .select(
                F.coalesce("cu", "u").alias("cu"),
                F.coalesce("cv", "v").alias("cv"),
            )
            .filter(F.col("cu") != F.col("cv"))
            .limit(1)
            .agg(F.count(F.lit(1)).alias("bad"))
        )

    prev_ckpt: DataFrame | None = None
    converged = False
    for _ in range(max_iter):
        # ---- large-star: (v, m(u)) for every neighbor v > u --------
        sym = _symmetrize(ee)
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(_min_nbrs(sym).hint("shuffle_hash"), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            # one shuffle: hash on (u, v) at `parts` width satisfies
            # the dedup's clustering requirement, so distinct() rides it
            .repartition(parts, "u", "v")
            .distinct()
            .localCheckpoint(eager=False)
        )
        # ---- small-star: (v, m(u)) for v < u, plus (u, m(u)) -------
        lsym = _symmetrize(large)
        lmins = _min_nbrs(lsym)
        small = (
            lsym.filter(F.col("v") < F.col("u"))
            .join(lmins.hint("shuffle_hash"), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(lmins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .repartition(parts, "u", "v")
            .distinct()
            .localCheckpoint(eager=False)
        )
        # One action per round: the full count materializes both lazy
        # checkpoints (the violation scan may stop at its first hit),
        # and the authoritative violation count rides the same job
        # (both subtrees read the SAME checkpointed `small` RDD, so it
        # is computed once).
        row = (
            small.agg(F.count(F.lit(1)).alias("n"))
            .crossJoin(_violations(small))
            .first()
        )
        # small is materialized: the round's large blocks and the
        # previous round's star set are dead — free them now or the
        # loop leaks one checkpoint per round.
        large.unpersist()
        if prev_ckpt is not None:
            prev_ckpt.unpersist()
        prev_ckpt, ee = ee if ee is not orig else None, small
        if row["bad"] == 0:
            converged = True
            break
    if not converged:
        orig.unpersist()
        raise RuntimeError(
            "connected_components: no star-contraction fixpoint after "
            f"{max_iter} rounds ({n_edges} edges); raise max_iter"
        )
    # Fixpoint edge set = disjoint stars (child, root): labels are the
    # star edges plus a self row per root.
    labels = ee.select(
        F.col("u").alias(node_out), F.col("v").alias(comp_out)
    ).unionByName(
        ee.select(F.col("v").alias(node_out)).distinct().select(
            F.col(node_out), F.col(node_out).alias(comp_out)
        )
    )
    # Materialize before dropping the caches the plan reads from.
    out = labels.localCheckpoint(eager=True)
    orig.unpersist()
    if prev_ckpt is not None:
        prev_ckpt.unpersist()
    if ee is not orig:
        ee.unpersist()
    return out
