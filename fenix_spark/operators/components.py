"""Connected components + canonical keep-list — the step that turns
near-dup PAIRS (operators/dedup.py) into dedup DECISIONS.

A verified pair list (a≈b, b≈c) is not yet a dedup policy: keeping
"the first of each pair" double-drops chains. The standard production
shape is: candidate pairs → verified pairs → CONNECTED COMPONENTS →
keep one canonical row per component. The reference has no analog
(its dedup story ends at exact row identity).

Every component is labelled with its MIN node id (deterministic,
engine-portable). The edge list is materialized once (eager
checkpoint — the pair pipeline upstream runs once, whichever path
follows), then one of two paths labels it; a differential test pins
them to each other (tests/test_components.py):

- **Driver union-find (pair lists up to ``_MAX_DRIVER_PAIRS``).** The
  pairs are collected through a bounded ``limit(cap+1)`` — the same
  loud-budget idea as ``similarity_join_brute(max_broadcast_rows=)``:
  the collect never pulls more than the cap, and one row over it
  selects the distributed path instead. Near-dup pair lists are a small
  fraction of the corpus, so this is the common case: a vectorized
  union-find on the driver, and the node→component map goes back as
  an Arrow-built local frame (``LocalTableScan`` — it broadcasts into
  the keep-list anti-join and starts no Python workers).
- **Distributed min-label propagation (above the cap).** Every node
  starts labelled with itself; each round every node takes the min
  label in its closed neighborhood; converged when no label changes.
  Each round is one equi-join + one groupBy over (id, label) pairs —
  never documents — then a ``localCheckpoint`` (lineage would
  otherwise deepen by two joins per round). It is eager because both
  join sides read it from concurrent jobs (see
  ``dedup.signed_set_groups`` for what a lazy one logs). Convergence
  is a round in which no label changed (a per-row flag, so it holds
  for any orderable id type, strings included).

``max_iter`` means the same on both paths: the number of propagation
rounds allowed, where a labelling needs 1 + the largest hop distance
from any node to its component's min id (the final round detects the
fixpoint). The driver path measures that distance with a BFS from
every component's min id and raises the same ``RuntimeError`` the
propagation loop raises — exceeding the cap is an ERROR, not a silent
truncation: a partially-converged labeling would silently under-dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from fenix_spark.checkpoint import checkpoint_eager as _ckpt_eager


# Largest pair list labelled on the driver; one row more selects
# distributed propagation. Measured at the cap (999,999 pairs, chains
# of 4 nodes, local[4] on a 4-core VM, 1 GB driver heap): the driver
# path ran connected_components + count in 5.9-7.7 s at 417 MB peak
# Python RSS, propagation in 16.5-20.6 s. Where the driver path stops
# paying off beyond that (larger heaps, wider graphs) is unmeasured.
_MAX_DRIVER_PAIRS = 1_000_000


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; the
    component id is the MIN node id in the component (deterministic,
    engine-portable). Node ids keep the input column type.

    Pair lists of at most ``_MAX_DRIVER_PAIRS`` rows (self-pairs and
    null ids excluded) are labelled on the driver; longer ones by
    distributed label propagation. Raises ``RuntimeError`` when the
    labelling needs more than ``max_iter`` propagation rounds."""
    a, b = F.col(left), F.col(right)
    node_type = pairs.select(a).union(pairs.select(b)).schema[0].dataType
    edges = (
        pairs.select(a.cast(node_type).alias("src"), b.cast(node_type).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .transform(_ckpt_eager)
    )
    collected = edges.limit(_MAX_DRIVER_PAIRS + 1).toArrow()
    if collected.num_rows > _MAX_DRIVER_PAIRS:
        return _propagate_labels(edges, max_iter)
    return _driver_components(pairs.sparkSession, collected, node_type, max_iter)


def _nonconvergence(max_iter: int) -> RuntimeError:
    return RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "component diameter exceeds the cap; raise max_iter (near-dup "
        "graphs converging this slowly usually mean the pair threshold "
        "is too loose)"
    )


def _driver_components(spark, edges, node_type, max_iter: int) -> DataFrame:
    """Min-id labelling of a collected (src, dst) Arrow table."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructField, StructType

    ends = pa.concat_arrays(
        [edges.column("src").combine_chunks(), edges.column("dst").combine_chunks()]
    )
    # sorted distinct ids: node index order IS id order, so the min
    # index of a component is its min id (Arrow compares strings
    # bytewise, as Spark does)
    nodes = pc.unique(ends)
    nodes = nodes.take(pc.sort_indices(nodes))
    idx = pc.index_in(ends, value_set=nodes).to_numpy()
    u, v = idx[: edges.num_rows], idx[edges.num_rows :]
    root = _min_roots(u, v, len(nodes))
    if _rounds_needed(u, v, root, max_iter) > max_iter:
        raise _nonconvergence(max_iter)
    schema = StructType(
        [StructField("node", node_type), StructField("component", node_type)]
    )
    table = pa.table({"node": nodes, "component": nodes.take(pa.array(root))})
    return spark.createDataFrame(table, schema=schema)


def _min_roots(u, v, n: int):
    """root[i] = the smallest node index in i's component: union-find
    by hooking every root onto its smallest neighbouring root, then
    pointer jumping, until no edge spans two trees. Parents only ever
    point to smaller indices, so a component's min index is its root;
    each round at least halves the trees of every unfinished component."""
    import numpy as np

    parent = np.arange(n)
    while True:
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        pu, pv = parent[u], parent[v]
        cross = pu != pv
        if not cross.any():
            return parent
        np.minimum.at(
            parent, np.maximum(pu, pv)[cross], np.minimum(pu, pv)[cross]
        )


def _rounds_needed(u, v, root, max_iter: int) -> int:
    """Rounds min-label propagation takes on this graph: 1 + the
    largest hop distance from a node to its component's min id. One
    frontier BFS from every component min at once (components are
    disjoint, so it is one BFS per component), stopped past
    ``max_iter``."""
    import numpy as np

    n = len(root)
    src, dst = np.concatenate([u, v]), np.concatenate([v, u])
    seen = root == np.arange(n)
    frontier = seen.copy()
    hops = 0
    while not seen.all():
        if hops == max_iter:
            return max_iter + 1
        hops += 1
        reached = np.zeros(n, dtype=bool)
        reached[dst[frontier[src]]] = True
        frontier = reached & ~seen
        seen |= frontier
    return hops + 1


def _propagate_labels(edges: DataFrame, max_iter: int) -> DataFrame:
    """Distributed min-label propagation over (src, dst) edges."""
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(_ckpt_eager)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .transform(_ckpt_eager)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        step = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .withColumn("changed", F.coalesce(F.col("nmin") < F.col("component"), F.lit(False)))
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
                "changed",
            )
            .transform(_ckpt_eager)
        )
        labels = step.drop("changed")
        if step.where("changed").isEmpty():
            return labels
    raise _nonconvergence(max_iter)


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    left: str = "id_a",
    right: str = "id_b",
    prefer_col: str | None = None,
) -> DataFrame:
    """Rows of ``df`` that SURVIVE pair-based dedup: one canonical
    member of every duplicate component, plus every row in no pair at
    all.

    The canonical member is the minimum-id row (deterministic,
    engine-portable) — unless ``prefer_col`` names a column, in which
    case each component keeps its HIGHEST-``prefer_col`` row (min id
    among ties; null prefer values lose to any non-null). That is the
    production policy: when a quality score exists, dedup should keep
    the best copy, not the oldest id. Both policies take any orderable
    id type.

    The joins are on ids (+ one prefer value); document payloads ride
    along untouched (column-pruned until the final projection). Up to
    ``_MAX_DRIVER_PAIRS`` pairs (see :func:`connected_components`) the
    component map is a driver-built local frame, so the survivor
    anti-join is one broadcast join."""
    comp = connected_components(pairs, left, right)
    if prefer_col is None:
        drop = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("__drop_id")
        )
    else:
        scored = comp.join(
            df.select(
                F.col(id_col).alias("node"),
                F.col(prefer_col).alias("__pref"),
            ),
            "node",
        )
        # per-component winner: max prefer (nulls last), then min id
        # among the members holding it — two partially aggregated
        # group-bys, ids of any orderable type, none negated
        best = scored.groupBy("component").agg(
            F.max(
                F.struct(F.col("__pref").isNotNull().alias("has"), F.col("__pref").alias("pref"))
            ).alias("__best")
        )
        winners = (
            scored.join(best, "component")
            .where(F.col("__pref").eqNullSafe(F.col("__best.pref")))
            .groupBy("component")
            .agg(F.min("node").alias("__keep_id"))
        )
        drop = (
            comp.join(winners, "component")
            .where(F.col("node") != F.col("__keep_id"))
            .select(F.col("node").alias("__drop_id"))
        )
    return df.join(
        drop, df[id_col] == drop["__drop_id"], "left_anti"
    )
