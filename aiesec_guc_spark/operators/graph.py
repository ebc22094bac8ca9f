"""Connected components over an edge list — the clustering step that
turns verified near-dup *pairs* into dedup *groups* (keep one doc per
component), the canonical final stage of a large-scale dedup pipeline.

Algorithm: iterative min-label propagation.  Every node starts
labelled with its own id; each round, a node's label becomes the min
of its own and its neighbors' labels; stop at fixpoint.  Rounds
needed = the component diameter — near-dup components are short
chains, so convergence is fast; for adversarial long-chain graphs the
alternating large-star/small-star variant (same join shape) converges
in O(log n) rounds and is the drop-in upgrade.

Scale shape per round: one equi-join (edges ⋈ labels on the node id)
+ one grouped min — both hash-shuffle on node id, so successive
rounds reuse the same partitioning.  Each round's result is eagerly
materialized (localCheckpoint) to truncate the growing lineage, which
is mandatory for iterative DataFrame algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """(id, cluster_id) for every node in ``edges``; ``cluster_id`` is
    the minimum node id reachable in the component.

    Raises ``RuntimeError`` if labels have not reached a fixpoint
    within ``max_iter`` rounds — returning unconverged labels would
    silently split one true component into several (and downstream
    dedup would keep duplicates it was built to remove)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = materialize(e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))))
    labels = materialize(
        sym.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    converged = False
    for _ in range(max_iter):
        nmin = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # r15: carry a per-row changed flag INSIDE the round's
        # materialized frame instead of joining new vs old labels
        # afterwards — the convergence check becomes a filter-count
        # over the already-checkpointed result (zero extra shuffles)
        # where the old shape paid a full labels⋈labels join per round
        # (guide §2.4: remove shuffles outright).
        new_labels = materialize(
            labels.join(nmin, labels["id"] == nmin["src"], "left").select(
                labels["id"],
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (
                    F.coalesce(F.col("nlabel"), F.col("label"))
                    < F.col("label")
                ).alias("_chg"),
            )
        )
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the iteration budget; raise max_iter "
            "or switch to connected_components_star)"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round: every node u links its strictly-larger
    neighbors to min(N(u) ∪ {u}).  Input/output: symmetric edge list
    (u, v) — output is NOT symmetric and MAY carry duplicates (two
    neighbors of v can emit the same (v, m) link).

    CONTRACT (r16, per ADVICE): the output is ONLY valid as input to
    ``_small_star`` — its grouped ``min`` is duplicate-invariant and
    its trailing ``.distinct()`` dedups the relinked rows.  A direct
    consumer that counts rows or compares edge sets against this
    output would silently mis-count; add the dedup back at the call
    site if one ever appears (sole caller today:
    ``connected_components_star``).

    r15: no trailing ``.distinct()`` — the alternation always feeds
    this output into ``_small_star``, whose grouped ``min`` is
    duplicate-invariant and whose own final ``.distinct()`` dedups the
    relinked rows, so the extra corpus-wide shuffle per round bought
    nothing (guide §2.4: a distinct on data a downstream aggregate
    dedups anyway is a removable exchange)."""
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge high→low, then every
    node links its smaller-or-equal neighbors (and itself) to the
    minimum of that in-neighborhood."""
    directed = edges.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        directed.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_link = mins.select(F.col("u"), F.col("m").alias("v"))
    return relink.union(self_link).filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 25
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    same contract as :func:`connected_components` ((id, cluster_id),
    cluster_id = component minimum) but converging in O(log n) rounds
    on ANY graph, including adversarial long chains where min-label
    propagation needs diameter rounds.

    Per round: two grouped mins + two equi-joins on node id — the same
    shuffle shape as one min-label round, so the 100 TB posture is
    identical, just with exponentially fewer rounds.  Fixpoint = the
    directed edge set is unchanged (exact set comparison, no hashing).
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Node universe comes from the RAW edge list: a node whose only
    # edge is a self-loop is still a (singleton) component, and the
    # min-label variant labels it — dropping it here would make the
    # two variants disagree on the same input.
    all_nodes = materialize(
        raw.select(F.col("u").alias("id"))
        .union(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    e = raw.filter(F.col("u") != F.col("v")).distinct()
    # _small_star orients every edge high→low itself, so seeding with
    # the raw (deduped) edge list is equivalent to the symmetric form.
    cur = materialize(_small_star(e))
    n_cur = cur.count()
    converged = False
    for _ in range(max_iter):
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nxt = materialize(_small_star(_large_star(sym)))
        n_nxt = nxt.count()
        # Exact set equality, count-gated: the subtract (a distinct
        # shuffle of both sides) only runs in rounds where the counts
        # already agree — i.e. at most the final rounds.
        if n_nxt == n_cur and nxt.subtract(cur).isEmpty():
            converged = True
            cur = nxt
            break
        cur, n_cur = nxt, n_nxt
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # At fixpoint every edge is (node, component_min); minima and
    # isolated-in-output nodes label themselves.
    labels = cur.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    self_labeled = all_nodes.join(labels, "id", "left_anti").select(
        F.col("id"), F.col("id").alias("cluster_id")
    )
    return labels.union(self_labeled)


def triangle_counts_degree_oriented(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Per-node triangle counts via DEGREE orientation — the
    distributed triangle recipe whose wedge fan-out is bounded by
    O(sqrt(m)) per node even on skewed (power-law) graphs.

    Input: one row per UNDIRECTED edge, ``src < dst``, no duplicates.
    Output: (node, n_triangles) for every node on >= 1 triangle.

    Each undirected edge is oriented from the endpoint with the
    smaller (degree, node) pair to the larger — a total order, so the
    orientation is acyclic.  Every triangle then has exactly one
    "pivot" node with two out-edges (its minimum under the order), so
    joining the pivot's out-edge pairs (wedges) against the oriented
    edge set counts each triangle exactly once.  A hub of degree d in
    a naive ordered-by-id orientation can fan out O(d^2) wedges; under
    degree orientation a node's OUT-degree is at most O(sqrt(m))
    (classic arboricity bound), which is what makes the wedge join
    survive power-law graphs at 100 TB.

    Shapes: degree = one grouped count over the symmetrized edges;
    orientation = a join of edges to the broadcast-or-shuffled degree
    frame; wedges = one self-join on the pivot; closure = one
    equi-join on the (lo, hi) canonical edge key.  No cross products.
    """
    a, b = F.col(src), F.col(dst)
    sym = edges.select(a.alias("node"), b.alias("peer")).unionAll(
        edges.select(b.alias("node"), a.alias("peer"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))

    with_deg = (
        edges.select(a.alias("u"), b.alias("v"))
        .join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    # orient low (deg, id) -> high (deg, id); struct comparison gives
    # the lexicographic total order directly
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )

    w1 = oriented.select(F.col("src").alias("pivot"), F.col("dst").alias("x"))
    w2 = oriented.select(F.col("src").alias("pivot"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "pivot").filter(F.col("x") < F.col("y"))
    # closing edge in canonical (lo, hi) form — x < y already holds
    canon = edges.select(a.alias("x"), b.alias("y"))
    tris = wedges.join(canon, on=["x", "y"])

    pernode = (
        tris.select(F.col("pivot").alias("node"))
        .unionAll(tris.select(F.col("x").alias("node")))
        .unionAll(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return pernode
