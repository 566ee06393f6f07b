"""Connected components in one shuffle per round (min-label union-find).

Each round replicates every edge (c = greatest, p = least) to both of its
endpoints' keys and hash-repartitions on the key, so the task owning key
v holds every edge incident to v. A numpy union-find over the task's
edges (hook-to-min plus pointer jumping) emits (node, root) for every
non-root node it touched; root is the minimum of the node's LOCAL
component. The union of all tasks' pairs is the next round's edge set:
it keeps connectivity, and every node's minimum neighbour never grows.

Each task also reports two flags, and one aggregate over them decides
whether to stop:
  closed     every node the task touched is one of its keys, so each of
             its local components is a whole component;
  unchanged  the pairs it emitted equal its distinct input pairs.
All closed: the labels are exact. All unchanged: every node has at most
one parent and every parent is a root, i.e. the edges form a star forest
rooted at each component's minimum. Either way the final label of a node
is its minimum parent. When AQE coalesces a round's shuffle into one
partition (every small graph), the first round is closed.

A node's whole neighbourhood lands in one task, so a caller with
unbounded-degree hubs (exact-copy stars) should fold them in afterwards
instead of passing them here — DedupPipeline.run does.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig

_ROUND_SCHEMA = "c long, p long, closed boolean, unchanged boolean"


def release_local_checkpoint(df: DataFrame) -> None:
    """Release a superseded localCheckpoint's storage blocks NOW.

    The JVM holds checkpointed RDDs strongly (they survive GC for the
    session's lifetime), so iterative operators must drop their
    superseded rounds explicitly or a long session accumulates one block
    set per iteration per run. Only call once nothing will read the
    DataFrame again: a localCheckpoint has no lineage to recompute from.
    A frame that is not a bare checkpoint (a parquet scan, or a plan with
    operators above the checkpoint) is left alone."""
    plan = df._jdf.queryExecution().analyzed()
    if (plan.getClass().getSimpleName() == "LogicalRDD"
            and plan.rdd().isLocallyCheckpointed()):
        plan.rdd().unpersist(False)


def _union_find_round(batches):
    """mapInArrow kernel: one task's edges (c, p, k) -> (c, p) = (node,
    local root) for every non-root node, plus the task's closed and
    unchanged flags on every row."""
    cols = [(b.column("c").to_numpy(), b.column("p").to_numpy(),
             b.column("k").to_numpy()) for b in batches if b.num_rows]
    if not cols:
        return
    c, p, k = (np.concatenate(x) for x in zip(*cols))
    nodes, inv = np.unique(np.concatenate([c, p]), return_inverse=True)
    n = len(nodes)
    ci, pi = inv[:len(c)], inv[len(c):]
    # indices follow node order, so the min index of a tree is its min node
    parent = np.arange(n)
    while True:
        rc, rp = parent[ci], parent[pi]
        cross = rc != rp
        if not cross.any():
            break
        # hook every root to the smallest root it shares an edge with,
        # then jump pointers until each node points at its root
        np.minimum.at(parent, np.maximum(rc, rp)[cross],
                      np.minimum(rc, rp)[cross])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    child = np.flatnonzero(parent != np.arange(n))
    # keys are a subset of the touched nodes
    closed = len(np.unique(k)) == n
    unchanged = np.array_equal(np.unique(ci * n + pi),
                               child * n + parent[child])
    rows = len(child)
    yield pa.RecordBatch.from_arrays(
        [pa.array(nodes[child]), pa.array(nodes[parent[child]]),
         pa.array(np.full(rows, closed)), pa.array(np.full(rows, unchanged))],
        names=["c", "p", "closed", "unchanged"])


def cc_round(edges: DataFrame) -> DataFrame:
    """One round: edges(c, p) -> (c, p, closed, unchanged). One hash
    exchange (edge replicated to both endpoint keys) and one mapInArrow."""
    return (edges.select("c", "p", F.explode(F.array("c", "p")).alias("k"))
            .repartition("k")
            .mapInArrow(_union_find_round, _ROUND_SCHEMA))


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    cfg: DedupConfig,
) -> tuple[DataFrame, int]:
    """edges(src, dst) + nodes(file_id) -> clusters(file_id, cluster_id).

    cluster_id is the minimum file_id in the component. Returns
    (clusters_df, iterations). Raises RuntimeError when the rounds do not
    stop within cfg.max_cc_iters.
    """
    e = (edges.select(F.greatest("src", "dst").cast("long").alias("c"),
                      F.least("src", "dst").cast("long").alias("p"))
         .filter(F.col("c") != F.col("p")))
    prev = None
    for it in range(1, cfg.max_cc_iters + 1):
        # eager=False saves one job per round: the flags aggregate below
        # computes the kernel into the checkpoint blocks in its own job.
        # It is not lazy upstream: under AQE the call itself runs the
        # round's shuffle map stage (and, in round 1, every shuffle stage
        # of the input plan) before it returns.
        rnd = cc_round(e).localCheckpoint(eager=False)
        closed, unchanged = rnd.agg(F.min("closed"),
                                    F.min("unchanged")).first()
        # this round's blocks now hold everything the next round reads
        if prev is not None:
            release_local_checkpoint(prev)
        prev = rnd
        e = rnd.select("c", "p")
        # closed is NULL when the round has no rows (no edges at all)
        if closed is not False or unchanged:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {cfg.max_cc_iters} "
            "rounds")
    labels = e.groupBy(F.col("c").alias("file_id")).agg(
        F.min("p").alias("label"))
    return _with_singletons(nodes, labels), it


def cluster_representatives(
    clusters: DataFrame,
    attrs: DataFrame,
    id_col: str = "file_id",
    cluster_col: str = "cluster_id",
    size_col: str = "n_tokens",
) -> DataFrame:
    """Pick one representative per cluster from a MATERIALIZED clusters
    table: the member with max `size_col`, ties broken by min id.
    Returns (id_col, cluster_col, is_rep).

    This is the production shape of the `cluster_rep_docs` gate query
    (which must recompute its closure inline to stay self-contained): one
    hash join against the attribute table, then the argmax as TWO
    partial-aggregated aggregations and a join back — no cluster-wide
    window, so a 10^8-member boilerplate mega-cluster partial-aggregates
    map-side instead of gathering into a single task.
    """
    j = clusters.select(id_col, cluster_col).join(
        attrs.select(id_col, size_col), id_col)
    best = j.groupBy(cluster_col).agg(F.max(size_col).alias("_mx"))
    rep = (j.join(best, cluster_col)
             .filter(F.col(size_col) == F.col("_mx"))
             .groupBy(cluster_col).agg(F.min(id_col).alias("_rep")))
    return (j.join(rep, cluster_col)
             .select(id_col, cluster_col,
                     (F.col(id_col) == F.col("_rep")).alias("is_rep")))


def _with_singletons(nodes: DataFrame, labels: DataFrame) -> DataFrame:
    """Re-attach edge-less nodes (their own cluster) to the converged
    labels of the edge-touched subgraph."""
    return (
        nodes.select("file_id")
        .join(labels, "file_id", "left")
        .select("file_id",
                F.coalesce("label", "file_id").alias("cluster_id"))
    )
