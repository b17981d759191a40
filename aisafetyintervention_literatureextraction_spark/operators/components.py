"""G5 — connected components by iterative hash-join label propagation.

The reference merges duplicate pairs *sequentially* with Cypher
rewiring per pair (reference db.py:106-155, driver loop
merge.py:107-109 — which iterates over node ids captured before any
merge, a latent staleness bug SURVEY.md §2.9 documents). Connected
components is the order-independent closure of the same intent and is
what the north rule prescribes ("GraphFrames-style iterative hash-join
label propagation").

Algorithm: min-label propagation with POINTER JUMPING to fixpoint —
    comp(v) ← min(comp(v), min over neighbors u of comp(u))   (hop)
    comp(v) ← min(comp(v), comp(comp(v)))                     (jump)
The jump step halves chain depth every iteration (path-doubling), so a
diameter-D chain converges in O(log D) iterations instead of O(D) —
the property that makes long near-dup chains safe at corpus scale
(ADVICE r1: plain propagation silently hit max_iter on them). The
rounds run on the graph kernels' shared loop
(``graph_analytics.iterate``): each pins its labels with ONE job, and
the number of changed labels rides that job as an Observation, so
convergence costs no extra action. Non-convergence within ``max_iter``
raises instead of silently returning wrong labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.caching import track
from .graph_analytics import _coalesced_kernel, iterate


@_coalesced_kernel
def connected_components(
    vertices: DataFrame,  # node_id long
    edges: DataFrame,     # a_id, b_id
    max_iter: int = 50,
    checkpoint_every: int = 1,
    initial_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns (node_id, component_id) — component_id = min node_id in
    the component. Deterministic and resume-stable because node ids
    are content hashes (functions/hashing.stable_node_id).

    ``initial_labels`` (node_id, component_id) warm-starts the
    propagation — valid whenever each supplied label is the min node
    id of SOME subset of the node's true component, which holds for a
    previous run's output because similarity edges are only ever
    ADDED (components merge, never split). An incremental run then
    converges in one or two iterations instead of O(log diameter).

    ``checkpoint_every`` is the pin cadence: rounds between pins ride
    lazily into the next pin's job, and convergence is checked at pins.

    The hop/jump rounds are linear joins over the label relation, the
    tiny-per-round-shuffle profile of the rank kernels, so the static
    relations are planned under AQE partition coalescing (r6,
    ``_coalesced_kernel``) and each round is one pin job."""
    # both are lazily persisted: the first round's pin job materializes
    # them, and every later round reads the cache
    sym = track(
        edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .union(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .distinct()
    )
    if initial_labels is not None:
        labels = vertices.join(
            initial_labels.select("node_id", F.col("component_id").alias("prev_comp")),
            "node_id", "left",
        ).select(
            "node_id",
            F.coalesce(F.col("prev_comp"), F.col("node_id")).alias("component_id"),
        )
    else:
        labels = vertices.select(
            F.col("node_id"), F.col("node_id").alias("component_id")
        )
    labels = track(labels)

    def round_(labels: DataFrame, i: int) -> DataFrame:
        labels = labels.select("node_id", "component_id")
        # hop: every edge forwards the source's current label
        msgs = (
            sym.join(labels, sym.src == labels.node_id)
            .select(F.col("dst").alias("node_id"), F.col("component_id"))
            .groupBy("node_id")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        hopped = (
            labels.join(msgs, "node_id", "left")
            .select(
                "node_id",
                F.least(
                    F.col("component_id"), F.coalesce(F.col("nbr_min"), F.col("component_id"))
                ).alias("component_id"),
            )
        )
        # jump: comp(v) ← comp(comp(v)) — labels are always node ids,
        # so the self-join resolves one indirection per iteration and
        # compounds with the hop into path doubling
        parent = hopped.select(
            F.col("node_id").alias("component_id"),
            F.col("component_id").alias("grand"),
        )
        jumped = (
            hopped.join(parent, "component_id", "left")
            .select(
                "node_id",
                F.least(
                    F.col("component_id"), F.coalesce(F.col("grand"), F.col("component_id"))
                ).alias("component_id"),
            )
        )
        return (
            jumped.join(
                labels.select("node_id", F.col("component_id").alias("prev")), "node_id"
            )
            .select(
                "node_id", "component_id",
                (F.col("component_id") != F.col("prev")).alias("changed"),
            )
        )

    labels, converged = iterate(
        round_, labels, max_iter,
        (F.count_if(F.col("changed")), lambda n_changed, _: n_changed == 0),
        pin_every=checkpoint_every,
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "iterations — labels would be wrong; raise max_iter (convergence is "
            "O(log diameter) with pointer jumping)"
        )
    return labels.drop("changed")
