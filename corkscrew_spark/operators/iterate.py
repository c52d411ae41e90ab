"""Iteration policy of the graph and dedup operators, in one place.

The reference answers graph questions with recursive CTEs; here each is
a driver loop of DataFrame joins (operators/graph.py,
dedup.dup_clusters). A round that reads its loop condition goes through
:func:`materialize`; a fixed-count loop goes through :func:`unroll`;
fused loops run :data:`HOPS_PER_ROUND` hops per round; a convergence
loop that hits its round cap raises ``ValueError``. Convergence loops
stay plain ``for … else`` loops: their state shapes and stop rules
differ too much for one callback driver to hide anything.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: Hops fused into one materialized round by dup_clusters and
#: weighted_shortest_paths: rounds (barriers, driver round-trips) drop to
#: ceil(diameter / 2) for the same join work. Two won the r13 A/Bs at 32
#: and 8 cores (dedup_clusters 3.93 s vs 4.44 s one-hop, and 3 fewer jobs
#: than a checkpoint between the hops).
HOPS_PER_ROUND = 2


def materialize(df: DataFrame, *probes, timeout: float = 120.0):
    """Eager ``localCheckpoint`` that also returns observed aggregates
    computed by the SAME materialization job.

    A round's convergence probe (``isEmpty``/``count``/anti-join) is an
    aggregate over exactly the rows the checkpoint job already streams,
    so attaching it as an ``Observation`` saves a second action per
    round — and rounds × barrier latency is what Pregel-style loops cost.

    Returns ``(checkpointed_df, metrics_dict)``. The observe node does
    not survive into the checkpointed plan (it scans as ExistingRDD).
    The row is polled through ``obs._jo.getRowOrEmpty()`` because in
    PySpark 4.1.2 the public ``Observation.get`` calls ``getRow``, which
    waits with no deadline — it cannot keep the timeout or the fallback.
    Robustness: if the metric event is ever lost under listener
    pressure, the aggregates are re-derived with one cheap job over the
    already-materialized RDD — convergence never depends on event
    delivery.
    """
    obs = Observation()
    out = df.observe(obs, *probes).localCheckpoint(eager=True)
    deadline = time.monotonic() + timeout
    jo = obs._jo
    while time.monotonic() < deadline:
        if jo.getRowOrEmpty().isDefined():
            return out, obs.get
        time.sleep(0.002)
    # Fallback (never observed in practice): recompute over the
    # materialized scan — same values, one extra small job.
    return out, out.agg(*probes).first().asDict()


def unroll(step: Callable[[DataFrame], DataFrame], state: DataFrame,
           iters: int) -> DataFrame:
    """Apply ``step`` to ``state`` ``iters`` times, for loops with a
    fixed round count and no convergence test.

    Lineage is truncated after every 2nd round, never after the last:
    the caller's own action materializes the final 1-2 rounds, so a
    trailing eager checkpoint would pay one extra job plus a second
    materialization of the final frame (measured ~0.1-0.3 s per query),
    while the plan stays bounded at two rounds either way.
    """
    for it in range(iters):
        state = step(state)
        if it % 2 == 1 and it != iters - 1:
            state = state.localCheckpoint(eager=True)
    return state


def undirected_edges(edges: DataFrame, src_col: str = "src",
                     dst_col: str = "dst") -> DataFrame:
    """(src, dst): the undirected simple graph of ``edges`` — every
    non-loop edge once in each direction. Lazy."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def node_set(edges: DataFrame, src_col: str = "src",
             dst_col: str = "dst") -> DataFrame:
    """(node): every distinct endpoint of ``edges``. Lazy."""
    return (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
