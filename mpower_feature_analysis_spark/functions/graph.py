"""Distributed connected components over candidate-pair edges — the
clustering step that turns near-duplicate PAIRS into dedup GROUPS (one
canonical document per component), completing the corpus-dedup pipeline:

    shingle/minhash candidates → Jaccard verify → connected components
    → keep min-id canonical per component.

Algorithm: min-label propagation + path halving (each vertex adopts the
smallest label among itself and its neighbors, then shortcuts to its
label's label — pointer doubling) — converges to the component-minimum in
O(log diameter) rounds. Each round is a bounded number of shuffles on the
vertex id (map-side combinable min agg + one label self-join).
``localCheckpoint`` of the label frame every round (and of the edge frame
once) truncates the lineage so plans don't grow unboundedly (the standard
Spark iterative-algorithm discipline; at cluster scale use checkpoint() to
reliable storage instead).

The fixpoint is unique (component minimum), so output is deterministic and
a DuckDB recursive-CTE oracle verifies it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    strict: bool = True,
) -> DataFrame:
    """Component label (= min vertex id in the component) for every vertex
    appearing in ``pairs``. Returns (id, component).

    Driver-side loop with one convergence check (count of changed labels)
    per round — the unavoidable action of an iterative fixpoint; the
    path-halving shortcut keeps round count logarithmic in the component
    diameter (tests include a diameter-40 chain).

    ``strict`` (default, round-2 advice): exhausting ``max_iter`` with
    labels still moving raises instead of returning silently — an
    unconverged labeling (labels not yet the component minimum) is
    otherwise indistinguishable from a converged one to callers like
    :func:`near_dup_clusters`, which would split one dup group into
    several canonicals. ``strict=False`` restores best-effort output for
    exploratory use. With path halving, 25 rounds cover components of
    diameter ~2^25 — hitting the cap means a pathological graph or a bug,
    not a tuning problem.

    The label frame is checkpointed EVERY round (round-7 — was every 5th):
    every round BOTH re-derives labels through two joins and an aggregate
    AND runs the convergence count over them, so an un-materialized round
    re-executes the whole chain since the last checkpoint once per
    consumer — at sf1.0 the per-round wall grew 0.9 s → 13 s by round 3
    and the round-5 checkpoint itself took 29 s replaying it all.
    Checkpointing the (tiny, O(V)) label frame each round keeps every
    round at the cost of its own two joins; total 31 s → ~4 s, fixpoint
    identical.
    """
    from ..utils import materialize

    # both union branches consume `pairs`; without a barrier the whole
    # candidate pipeline upstream runs once per branch inside the edges
    # checkpoint
    sel = materialize(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")), "persist"
    )
    # every round joins edges; without this the candidate-generation plan
    # upstream of `pairs` (often an LSH bucket join over the whole corpus)
    # is re-planned each round and only saved by shuffle-stage reuse, which
    # AQE re-optimization can defeat. One materialization, O(E) local
    # storage; at cluster scale use checkpoint() to reliable storage
    # instead (same discipline as the label checkpoints below).
    edges = (
        sel.unionByName(sel.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        # neighbor labels: for each edge u→v, v hears u's current label
        msgs = (
            edges.join(labels, edges["u"] == labels["id"])
            .select(F.col("v").alias("id"), F.col("component"))
        )
        new_labels = (
            labels.select("id", "component")
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # path halving (pointer doubling): adopt my component's component —
        # plain propagation alone moves labels ONE edge per round (a
        # diameter-D chain needs D rounds); the shortcut makes convergence
        # logarithmic in the component diameter
        x, y = new_labels.alias("x"), new_labels.alias("y")
        new_labels = x.join(
            y, F.col("x.component") == F.col("y.id"), "left"
        ).select(
            F.col("x.id").alias("id"),
            F.coalesce(F.col("y.component"), F.col("x.component")).alias("component"),
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        if strict:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                f"({changed} labels still changing): the labeling is not yet "
                "the component minimum. Raise max_iter, or pass strict=False "
                "for best-effort output."
            )
    return labels


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical assignment for EVERY document: the min doc id of its
    near-dup component (itself when it has no near-dup). Output
    (doc_id, canonical_id, is_canonical) — filtering ``is_canonical``
    dedups the corpus."""
    cc = connected_components(pairs)
    out = docs.select(F.col(id_col)).join(
        cc.withColumnRenamed("id", id_col), id_col, "left"
    )
    canonical = F.coalesce(F.col("component"), F.col(id_col))
    return out.select(
        id_col,
        canonical.alias("canonical_id"),
        (canonical == F.col(id_col)).alias("is_canonical"),
    )
