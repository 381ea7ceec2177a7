"""Distributed connected components for the near-dup clustering stage.

Two algorithms over the same (src, dst) edge DataFrame:

- ``connected_components`` — alternating **large-star / small-star**
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): converges in O(log^2 n) rounds worst-case (O(log n) on real
  graphs), each round two groupBy/agg + join shapes with no driver-side
  data. This is the 100 TB scale path: a near-dup component's diameter
  (re-crawl chains A~B~C~...) no longer bounds the round count.
- ``min_label_components`` — one-hop min-label propagation, O(diameter)
  rounds. Kept as the independent cross-check implementation (the two
  must agree on every graph; tests pin that on adversarial chains) and
  for tiny interactive samples.

Both return (node, rep) with rep = min node id of the component, one row
per node that appears in the edge list; callers left-join and coalesce
to label isolated nodes with themselves (see __spark_entry__
_q_neardup_clusters). Both fail loud on non-convergence rather than
returning partial labels.

Reference parity note: the reference engine (Lulzx/zpdf) has no
clustering counterpart — this operator exists for the training-data
dedup pipeline (SURVEY.md §2.12 additions), so its spec is the published
algorithm, not a reference file.
"""

from __future__ import annotations

import uuid
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from zpdfspark.spark.session import job_session

__all__ = ["connected_components", "min_label_components"]


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected unique edges as (u, v) with u < v; self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For every node u: connect each STRICTLY LARGER neighbor to
    min(neighborhood(u) + {u}). Keeps the component connected while
    pointing big nodes at small ones; never increases edge count.

    Output may contain duplicate (u, v) rows, but never more rows than
    the canonical input: the join keeps one row per symmetric edge
    (u, v) with v > u, and each canonical edge appears in exactly one
    such direction, so the output is at most 1x the canonical count.
    The r6 round-cost fix dropped the dedup shuffle here —
    _small_star's groupBy collapses duplicates map-side and its final
    distinct restores canonical form, so one large+small round pays one
    fewer full exchange, and small-star's input is never larger than
    the canonical edge set."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # one explicit repartition on the group/join key: the aggregation
    # and the join probe side then share a SINGLE exchange (ReuseExchange
    # dedupes the identical subtree — guide §2.4 "two operations keyed
    # the same way can share one exchange"); before r6 the symmetric
    # edge list was shuffled twice per large-star
    sym = sym.repartition("u")
    mins = (sym.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("m")))
    out = (
        sym.where(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("m").alias("u"), F.col("v"))
    )
    # m = min(neighborhood(u) + {u}) <= u < v, so u < v is preserved
    # without re-canonicalizing
    return out.where(F.col("u") != F.col("v"))


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (u > v); for every u: connect u and all its smaller
    neighbors to min(neighbors + {u}) — flattens local trees to stars.

    ``mins`` is referenced ONCE (r6): the (m, u) self-link rows that
    used to come from a second union branch (which re-ran the whole
    aggregation subtree — Spark shares no un-materialized subplans) are
    emitted from the join output itself via a 2-element inline explode;
    the duplicates that introduces (one (m, u) per neighbor instead of
    one per node) collapse in the final distinct that already existed."""
    oriented = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    # shared exchange for the aggregation + join probe side, as in
    # _large_star
    oriented = oriented.repartition("u")
    # canonical edges already have u < v, so oriented has u > v and the
    # min over (neighbors + {u}) is simply min(v)
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    linked = (
        oriented.join(mins, "u")
        .select(F.explode(F.array(
            F.struct(F.col("m").alias("u"), F.col("v").alias("v")),
            F.struct(F.col("m").alias("u"), F.col("u").alias("v")),
        )).alias("uv"))
        .select("uv.u", "uv.v")
    )
    return (
        linked.where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         max_rounds: Optional[int] = None,
                         _round_counter: Optional[list] = None) -> DataFrame:
    """Large-star/small-star connected components.

    Returns (node, rep) for every node appearing in ``edges``, where rep
    is the minimum node id of its component. Raises RuntimeError if the
    edge set has not stabilized within ``max_rounds`` alternations
    (default 64 — far above the O(log^2 n) bound for any feasible n;
    2^64 nodes would not fit any cluster).

    Each round is two aggregate+join stages; the only driver-side action
    is the per-round convergence probe (one count of changed edges,
    early-exit limit(1)). ``_round_counter``, when given a list, receives
    the number of rounds used (tests pin the logarithmic bound).

    The loop's conf lives in a clone of the caller's session
    (``session.job_session``), never in the caller's. The returned frame
    belongs to the clone; joined into a caller's frame, it plans under
    the caller's conf.

    Fails loud on executor loss: each round's lazy ``localCheckpoint``
    keeps its blocks only on the executors that computed them, with no
    lineage to recompute them, so losing one fails the whole job."""
    spark = edges.sparkSession
    if max_rounds is None:
        max_rounds = 64
    # the edges reach the clone through a uniquely named temp view: the
    # clone copies the caller's temp views when it first resolves a name
    view = f"cc_edges_{uuid.uuid4().hex}"
    edges.createTempView(view)
    job = job_session(spark)
    try:
        edges = job.table(view)
    finally:
        spark.catalog.dropTempView(view)
    # Catalyst's constraint propagation is O(plan^2) and has a known
    # failure mode on iterative self-union plans (Union constraint
    # rewriting dies with "key not found: <attr>" when round N's plan
    # references attributes from round N-1 — hit by range-generated
    # edge lists). Disabling it for the loop is the established
    # practice for iterative graph algorithms on Spark (GraphFrames
    # ships the same advice).
    _SP = "spark.sql.shuffle.partitions"
    job.conf.set("spark.sql.constraintPropagation.enabled", "false")
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=True)
    n_e = e.count()
    if n_e == 0:
        return job.createDataFrame([], "node long, rep long")
    # Iterative-loop execution config (r6, guide §1.2 step 3 after the
    # algorithm shape is right): AQE re-plans and re-schedules every
    # query stage, which is pure overhead for the dozens of small
    # bounded queries this loop runs (measured at 10^5 edges: most of
    # each round's wall was driver-side planning / stage bring-up, not
    # compute); the loop sizes its shuffles DIRECTLY from the measured
    # edge count instead: at least ~16k edges per reduce task so task
    # scheduling is amortized, capped by the session's configured
    # shuffle parallelism — so the setting is input-derived plus the
    # same session knob every other query obeys, not a constant tuned to
    # this host (the bench's 10^5-edge graph gets 7 partitions; a
    # 10^12-edge graph saturates whatever parallelism the session
    # configured). Edge counts never grow across rounds (neither star
    # operator adds edges), so the round-1 size holds for the whole loop.
    job.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sess_par = int(job.conf.get(_SP))
    except ValueError:  # non-numeric ('auto')
        sess_par = 200
    job.conf.set(_SP, str(max(1, min(n_e // 16_384 + 1, sess_par))))
    converged = False
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # the large-star output is checkpointed before small-star
        # consumes it: small-star references its input in two branches
        # (the join side and the min aggregation), and without
        # materialization Spark evaluates the entire large-star subtree
        # once per reference (r6 plan audit: the LS aggregation exchange
        # appeared 3x in one round's physical plan). The checkpoint is
        # lazy: small-star's first aggregation stage materializes it; an
        # eager checkpoint would spend a whole extra pass per round just
        # to cache. (If the planner ever picks a sort-merge join inside
        # small-star, its two exchanges may both compute a partition of
        # `ls` before it is cached — duplicated work, never wrong
        # results.)
        ls = _large_star(e).localCheckpoint(eager=False)
        nxt = _small_star(ls).localCheckpoint(eager=False)
        # Convergence = the edge set is a union of stars, checked
        # DIRECTLY on nxt (r6): with u < v canonical edges, e is a star
        # union iff no node appears as both a parent and a child and no
        # child has two parents — and every star union is a fixpoint of
        # both operators (LS: children have no larger neighbors besides
        # none, the root keeps its edges; SS: every child's min-neighbor
        # IS its root), so stopping here returns the same labels the
        # edge-set-stability probe did, one round earlier (the old probe
        # needed an extra confirming round to see "no change") and in
        # ONE map-side-combined aggregation job instead of the two
        # exceptAll shuffles of both full sides this ran before r6.
        # Connectivity is invariant under both operators (Kiveris et
        # al.), so the star union reached is exactly the component
        # structure of the input.
        changed = (
            nxt.select(F.explode(F.array(
                F.struct(F.col("u").alias("n"), F.lit(0).alias("c")),
                F.struct(F.col("v").alias("n"), F.lit(1).alias("c")),
            )).alias("x"))
            .groupBy("x.n")
            .agg(F.sum("x.c").alias("as_child"),
                 F.count(F.lit(1)).alias("tot"))
            .where((F.col("as_child") > 1)
                   | ((F.col("as_child") > 0)
                      & (F.col("tot") > F.col("as_child"))))
            .limit(1).count()
        )
        e = nxt
        if changed == 0:
            converged = True
            break
    if _round_counter is not None:
        _round_counter.append(rounds)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            f"large-star/small-star rounds")
    # fixpoint edge set is a union of stars: (root=u, child=v) with u < v
    children = e.select(F.col("v").alias("node"), F.col("u").alias("rep"))
    roots = e.select(F.col("u").alias("node"),
                     F.col("u").alias("rep")).distinct()
    return children.unionByName(roots)


def min_label_components(edges: DataFrame, nodes: DataFrame,
                         src: str = "src", dst: str = "dst",
                         node_col: str = "node",
                         max_rounds: int = 10_000) -> DataFrame:
    """One-hop min-label propagation (the round-1/2 implementation,
    retained as the independent cross-check): each round every node takes
    the min label of itself and its neighbors. O(component diameter)
    rounds — do NOT use at scale; use connected_components.

    ``nodes`` must contain every vertex (isolated ones included) in
    ``node_col``; returns (node, rep) for all of them."""
    pairs = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(F.col(node_col).alias("node"),
                          F.col(node_col).alias("rep"))
    converged = False
    for _ in range(max_rounds):
        neighbor_min = (
            pairs.join(labels, pairs.b == labels.node)
            .groupBy("a").agg(F.min("rep").alias("nrep"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(F.col("rep"),
                        F.coalesce(F.col("nrep"), F.col("rep"))).alias("rep"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.rep") != F.col("o.rep"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"min_label_components did not converge within {max_rounds} "
            f"propagation rounds")
    return labels
