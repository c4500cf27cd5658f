"""Connected components — Shiloach-Vishkin-style min-label propagation.

Reference semantics (SURVEY.md §2.4): init ``label[v] = v``; repeat
{ propagate the minimum label across every edge; pointer-jump
``label[v] := label[label[v]]`` } until fixpoint; component count =
number of distinct labels.  (Reference
``tests/stinger/src/alg/static_components.c:6-54``; relational form
``tests/sqlite/test.c:157-187``; BSP form
``tests/bagel/.../App.scala:208-220``.)

Spark-first design
------------------
* One round = ``edges ⋈ labels`` on ``dst`` → ``groupBy(src).min`` —
  a single shuffle of the small O(nv) label side when edges are
  pre-partitioned on ``src`` (see :meth:`Graph.canonical`); Catalyst
  broadcast-joins the label side automatically when it fits.
* Pointer-jumping (labels self-join) halves the round count on
  high-diameter graphs, same as the reference's jump step.
* Convergence is detected by the monotone decrease of
  ``SUM(label)`` (labels only ever decrease, so an unchanged sum ⇔
  fixpoint) — one scalar aggregate per round instead of a
  change-count join, mirroring the convergence-scalar pattern of
  ``tests/sqlite/test.c:180``.  The sum is aggregated as
  ``DECIMAL(38,0)`` so it cannot overflow even at 2^63-scale ids.
* ``localCheckpoint`` every ``checkpoint_every`` rounds truncates
  lineage (the Spark analog of Pegasus's per-stage HDFS
  materialization, ``tests/pegasus/sssp/SSSP.java:302-310``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import iter_partitions, local_input, record_fast_path, state_hint

#: edge-row bound for the single-task fast path (~16 B/row ⇒ ≤128 MB
#: in one task); past it the unrolled DataFrame loop runs
LOCAL_NE_MAX = 8_000_000


def _local_components(e: DataFrame) -> DataFrame:
    """Single-Arrow-task min-label fixpoint over a bounded-size
    symmetric edge table: NumPy min-scatter rounds + full pointer-jump
    closure per round.  The fixpoint (label = component min id) is
    structurally determined, so the output is bit-identical to the
    DataFrame loop's — integer labels carry no float-order risk.
    The edge table flows to the task through Spark; the driver never
    holds edge data."""

    def run(batches):
        import numpy as np
        import pandas as pd

        srcs: list = []
        dsts: list = []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy(dtype=np.int64))
            dsts.append(pdf["dst"].to_numpy(dtype=np.int64))
        src = np.concatenate(srcs) if srcs else np.empty(0, np.int64)
        dst = np.concatenate(dsts) if dsts else np.empty(0, np.int64)
        ids = np.unique(src)  # symmetric: src covers every vertex
        si = np.searchsorted(ids, src)
        di = np.searchsorted(ids, dst)
        if dst.size and not (
            (di < ids.size).all()
            and (ids[np.minimum(di, ids.size - 1)] == dst).all()
        ):
            raise ValueError(
                "edge table is not symmetric: a dst vertex never "
                "appears as src"
            )
        lab = np.arange(ids.size, dtype=np.int64)
        while True:
            m = lab.copy()
            np.minimum.at(m, si, lab[di])
            np.minimum(m, lab, out=m)
            while True:  # pointer-jump to closure
                mm = m[m]
                if np.array_equal(mm, m):
                    break
                m = mm
            if np.array_equal(m, lab):
                break
            lab = m
        yield pd.DataFrame({"id": ids, "label": ids[lab]})

    return local_input(e).coalesce(1).mapInPandas(run, "id long, label long")


def connected_components(
    edges: DataFrame,
    max_iter: int = 100,
    unroll: int = 4,  # chunk-end pointer jump collapses chains, so
    # low-diameter graphs converge in 1-2 chunks; linear plan growth
    # makes larger unrolls safe for high-diameter graphs
) -> DataFrame:
    """``(id, label)`` where ``label`` = min vertex id in the component.

    ``edges`` must be symmetric (every edge present in both
    directions), as produced by :func:`graph.symmetrize`.

    The propagation round references the evolving label state exactly
    ONCE: self-loop edges are appended to the (constant) edge relation
    so ``min over neighbors`` includes the vertex's own label, and the
    round is a single ``join + groupBy.min`` with no merge-back join.
    One self-reference per round ⇒ the unrolled lazy plan grows
    **linearly** in ``unroll`` (a state-referenced-twice formulation
    grows 2^k and stalls Catalyst beyond a handful of rounds).

    Pointer jumping (``label[v] := label[label[v]]``,
    ``static_components.c:30-37``) runs once per chunk on the
    checkpointed labels, where the self-join costs O(1) plan size —
    it collapses chains on high-diameter graphs without paying the
    exponential in-chunk plan tax.

    Convergence: labels only ever decrease, so an unchanged
    ``SUM(label)`` ⇔ fixpoint — one scalar per chunk, aggregated as
    ``DECIMAL(38,0)`` so it cannot overflow at 2^63-scale ids
    (convergence-scalar pattern of ``tests/sqlite/test.c:180``).
    """
    # constant relation: edges + self-loops (min over it ⇒ least(own,
    # nbrs)), right-sized so each iteration task owns ~250k edge rows.
    # The union stays LAZY: both inputs are already materialized (the
    # ids table is checkpointed here, the edge table by the caller),
    # so each round re-reads them through a narrow union instead of
    # paying an up-front materialization of a second full edge copy
    # (measured 52.8s -> 36.9s for CC on the 16M-edge medium graph).
    ne = edges.count()
    record_fast_path("components", ne <= LOCAL_NE_MAX)
    if ne <= LOCAL_NE_MAX:
        # guarded single-task fast path (round-10): the per-round cost
        # at sf0.1 is stage scheduling + AQE re-planning for tiny
        # shuffles, not compute.  The fixpoint is the same min-id
        # labeling either way (max_iter is a safety valve both paths
        # share only in the non-converged regime, which the 100-round
        # default never reaches on a graph small enough for this
        # guard).  Parity-tested in tests/test_components_local.py;
        # cluster-scale graphs take the unrolled loop below.
        return _local_components(edges.select("src", "dst"))
    ids = (
        edges.select(F.col("src").alias("id")).distinct().localCheckpoint()
    )
    # narrow-id loop (round-11, guide §2.3 "narrower types"): every
    # per-round exchange of this loop carries vertex ids — the 280 M
    # join-input rows AND the partial-min aggregates.  When every id
    # provably fits int32 (one tiny min/max over the materialized ids
    # table), run the whole loop on int keys and cast the final labels
    # back to the input type: the min-label fixpoint is identical
    # integers either way, so results are bit-identical while the
    # shuffled key bytes halve.  Ids past int32 (e.g. 64-bit hash ids
    # at 100 TB) keep the long loop — the check IS the scale path's
    # guard, not a local tweak.
    from .util import ids_fit_int32

    id_type = edges.schema["src"].dataType.simpleString()
    ids_ck = ids  # checkpointed handle (unpersisted at the end)
    narrow = id_type == "bigint" and ids_fit_int32(ids)
    if narrow:
        ids = ids.select(F.col("id").cast("int").alias("id"))
        e_rel = edges.select(
            F.col("src").cast("int").alias("src"),
            F.col("dst").cast("int").alias("dst"),
        )
    else:
        e_rel = edges.select("src", "dst")
    e_self = e_rel.unionAll(
        ids.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    ).coalesce(iter_partitions(ne))
    labels = ids.withColumn("label", F.col("id")).localCheckpoint()
    nv = labels.count()
    prev_sum = labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]

    done = 0
    while done < max_iter:
        k = min(unroll, max_iter - done)
        chunk_start = labels
        for _ in range(k):
            labels = (
                e_self.join(state_hint(labels, nv), e_self.dst == labels.id)
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("label").alias("label"))
            )
        labels = labels.localCheckpoint()
        # one cheap jump on materialized labels: O(1) plan size here
        parents = labels.select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        labels = (
            labels.join(
                state_hint(parents, nv), labels.label == parents.p_id, "left"
            )
            .select("id", F.coalesce("p_label", "label").alias("label"))
            .localCheckpoint()
        )
        done += k
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        chunk_start.unpersist()
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    ids_ck.unpersist()
    if narrow:
        labels = labels.select(
            F.col("id").cast(id_type).alias("id"),
            F.col("label").cast(id_type).alias("label"),
        )
    return labels


def component_count(labels: DataFrame) -> int:
    """Number of components (reference counts roots ``label[v]==v``,
    ``static_components.c:43-53``; equivalently distinct labels,
    ``tests/sqlite/test.c:180``)."""
    return labels.select("label").distinct().count()


def component_sizes(labels: DataFrame) -> DataFrame:
    """``(label, size)`` histogram of component sizes (reference
    histogram sink, ``src/util/histogram.c``)."""
    return labels.groupBy("label").agg(F.count("*").alias("size"))
