"""Synchronous weighted label propagation (SURVEY.md §3.3 P3).

Semantics (pinned; GraphX-compatible, deterministic):

- labels start as vertex ids;
- each round, every vertex adopts the neighbor label with the highest
  total incident edge weight; ties broken by the **minimum label id**;
- vertices with no neighbors keep their label;
- runs on the symmetrized graph for `max_iter` rounds (synchronous LPA
  on bipartite-ish structures can oscillate, so a fixed iteration cap
  is part of the contract, as in GraphX).

One round = one join + two hash aggregations (per-label weight sum,
then a struct-max argmax) — all Catalyst-native, whole-stage-codegen'd;
partial map-side combine means a hub's candidate list never lands on a
single reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from slmpy_spark.graph.edges import symmetrize, vertices
from slmpy_spark.util import materialize


def label_propagation(
    edges: DataFrame, max_iter: int = 20, checkpointer=None
) -> DataFrame:
    """Returns assign(id long, label long) after `max_iter` synchronous
    rounds (early-exits when no label changes)."""
    # pre-hash-partitioned on the per-round join key (dst) and cached,
    # so only the vertex-sized label table shuffles per round.  The
    # cache sits over a checkpoint LEAF so the per-round CacheManager
    # lookup / AQE replanning canonicalize a constant-size plan, not
    # the caller's lineage (see components.py; the leaf outlives the
    # cache — evicted cache partitions recompute from it).
    sym_leaf = materialize(symmetrize(edges))
    sym = sym_leaf.repartition("dst").persist()

    # init: singleton labels with the (unused beyond emptiness) vertex
    # set folded in — no separate persisted verts frame (r6)
    labels = materialize(
        vertices(edges).select("id", F.col("id").alias("label"))
    )

    for it in range(max_iter):
        # the changed flag rides on the frame and its sum is OBSERVED
        # on the materialize action — one Spark job per round.  The
        # iterated path passes verts=None: `labels` is verts-complete
        # by construction (the coalesce keeps every id), so the public
        # signature's verts re-join would only add a vertex-sized hash
        # join per round.  (r6 negative result, reverted: folding the
        # old label into the weight aggregation as a sentinel row to
        # drop this join-back measured ~1.5s SLOWER over 5 rounds at
        # sf0.1 under a quiet interleaved A/B — the join-back is a
        # cheap runtime-broadcast join, the sentinel branch widened the
        # big per-(id,label) exchange instead.)
        obs = Observation()
        new_labels = (
            lpa_round(sym, labels, None, with_changed=True)
            .observe(obs, F.sum("changed").alias("ch"))
            .transform(materialize)
        )
        changed = int(obs.get["ch"] or 0)
        labels.unpersist()
        labels = new_labels
        if checkpointer is not None:
            reread = checkpointer.save_state("lpa_labels", it, labels)
            labels.unpersist()
            labels = reread
        if changed == 0:
            break

    sym.unpersist()
    sym_leaf.unpersist()  # after the cache built over it is gone
    return labels.select("id", "label")


def lpa_round(
    sym: DataFrame,
    labels: DataFrame,
    verts: DataFrame | None = None,
    with_changed: bool = False,
) -> DataFrame:
    """One synchronous LPA round (SQL-expressible — used by the DuckDB
    oracle in __spark_entry__): adopt the max-weight neighbor label,
    ties → min label; isolated vertices keep theirs.

    `verts=None` trusts `labels` to already cover every vertex (true
    for the iterated loop, whose output keeps every id) and skips the
    vertex re-join; pass `verts` when `labels` may be partial (the
    public single-round contract).

    The argmax is a struct-max hash aggregation (max weight, tie →
    lowest label via max(w, -label)) — no window sort, so a hub's
    candidate list is partially combined map-side like any other agg."""
    nbr = (
        sym.join(labels.select("id", "label"), sym.dst == F.col("id"), "inner")
        .groupBy(F.col("src").alias("id"), F.col("label"))
        .agg(F.sum("weight").alias("w"))
    )
    best = (
        nbr.groupBy("id")
        .agg(F.max(F.struct(F.col("w"), (-F.col("label")).alias("nl"))).alias("b"))
        .select("id", (-F.col("b.nl")).alias("new_label"))
    )
    cols = ["id", F.coalesce(F.col("new_label"), F.col("label")).alias("label")]
    if with_changed:
        cols.append(
            (F.coalesce(F.col("new_label"), F.col("label")) != F.col("label"))
            .cast("int")
            .alias("changed")
        )
    base = (
        labels.select("id", "label")
        if verts is None
        else verts.join(labels.select("id", "label"), "id")
    )
    return base.join(best, "id", "left").select(*cols)
