"""Graph kit: iterative graph operators over one symmetric edge relation.

:func:`sym_edges` builds the only input the operators accept, a
:class:`SymEdges` value. Over it:

  - :func:`connected_components` — "which docs are the same": min-label
    propagation with path compression, falling back to
    :func:`connected_components_star` (large-star/small-star) on graphs
    whose diameter exceeds its round budget;
  - :func:`pagerank` — "which doc is the most central representative",
    the canonical-doc signal when a near-dup cluster should keep its
    most-connected member instead of the min-id one;
  - :func:`label_propagation` — "which densely-linked group".

Every operator follows one iterative-DataFrame discipline:

  - the edge relation is localCheckpointed once and reused every round;
  - each round is joins + groupBy aggregates keyed by node id — pure
    shuffles, no driver-side data beyond a 1-row convergence scalar;
  - each round's relation is a lazy localCheckpoint, so lineage stays one
    round deep. :func:`_fixpoint` owns the cadence of the operators that
    test convergence: the round's checksum collect materializes the
    checkpoint in the round's one job, then the superseded round's blocks
    are released, so executor storage stays O(1) relations.

At 100 TB every per-round shuffle keys on node id, so a cluster partitions
the graph once and every round reuses that exchange.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import dec
from ..registry import query, table
from ..session import release_local_checkpoint

_DAMPING = 0.85
_PAGERANK_ROUNDS = 12
_LPA_ROUNDS = 10
_STAR_ROUNDS = 50


@dataclass(frozen=True)
class SymEdges:
    """A symmetric ``(src, dst)`` edge relation: both orientations of
    every input edge, self-loops dropped, distinct, checkpointed. Only
    :func:`sym_edges` builds one, and the operators accept nothing else,
    so none of them can run on a one-directional edge list."""

    df: DataFrame


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    # both orientations from one explode: the input plan runs once, where
    # a union of the two orientations would run it twice
    both = F.array(
        F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
        F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
    )
    return edges.where(F.col(src) != F.col(dst)).select(F.inline(both)).distinct()


def sym_edges(edges: DataFrame, src: str, dst: str) -> SymEdges:
    """The symmetric edge relation of ``edges``' (``src``, ``dst``)
    columns. Checkpointed eagerly: every round of every operator joins it,
    and without the lineage cut each round would re-run the upstream
    pair-finding plan. A node whose only edge is a self-loop has no
    neighbor and is in no operator's output."""
    return SymEdges(_symmetrize(edges, src, dst).localCheckpoint())


def _edges(sym: SymEdges) -> DataFrame:
    if not isinstance(sym, SymEdges):
        raise TypeError(
            f"expected SymEdges from sym_edges(), got {type(sym).__name__}"
        )
    return sym.df


def _set_checksum(df: DataFrame) -> tuple:
    """Order-insensitive checksum of a relation's row set. bit_xor, not a
    sum: ANSI mode raises on long-sum overflow and xxhash64 spans the full
    int64 range; with the row count it is collision-safe enough for a
    fixpoint test."""
    return tuple(
        df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).collect()[0]
    )


def _fixpoint(
    sym: SymEdges,
    start: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    checksum: Callable[[DataFrame], object],
    max_rounds: int,
    period: int = 1,
) -> tuple[DataFrame, bool]:
    """Apply ``step`` from ``start`` until a round's checksum equals one of
    the last ``period`` rounds' (period 2 also stops a synchronous
    2-cycle), for at most ``max_rounds`` rounds. Returns the last round's
    relation and whether it stopped on a repeat.

    Each round's relation is a lazy localCheckpoint that the checksum
    collect materializes in the same job; the superseded relation's blocks
    are then released. ``start`` is either ``sym``'s own relation, which
    the caller may read again and so is never released, or a relation
    derived from it, which is checkpointed here like every round's."""
    cur = start if start is sym.df else start.localCheckpoint(eager=False)
    seen = [checksum(cur)]
    for _ in range(max_rounds):
        nxt = step(cur).localCheckpoint(eager=False)
        h = checksum(nxt)
        if cur is not sym.df:
            release_local_checkpoint(cur)
        cur = nxt
        if h in seen[-period:]:
            return cur, True
        seen.append(h)
    return cur, False


def _label_sum(labels: DataFrame):
    # Exact decimal sum, not a long: ANSI mode raises on int64-sum overflow,
    # and node ids at corpus scale (or hashed ids) overflow a long sum.
    return labels.agg(F.sum(dec("comp", 0))).collect()[0][0]


def connected_components(sym: SymEdges, max_iter: int = 20) -> DataFrame:
    """(node, comp): connected components by iterative min-label propagation
    with pointer-doubling path compression, and an automatic large-star/
    small-star fallback for high-diameter graphs.

    Each round every node takes the min label among itself and its
    neighbors, then shortcuts comp -> comp(comp) (path compression): the
    label horizon roughly doubles per round, so convergence is O(log
    diameter) rounds instead of O(diameter). The compression step is sound
    because comp values are always node ids of the same component with
    comp(x) <= x (initially comp = self; propagation takes mins of such
    labels), so comp(comp(x)) is a valid — and no larger — component label
    for x. The fixpoint is unchanged: at convergence every node's label is
    stable under min-of-neighbors, which forces the label constant = min id
    on each component.

    Convergence needs no per-round self-join: both steps are MONOTONE
    (every comp only ever decreases), so the exact label sum strictly
    decreases until the fixpoint — an equal sum means no label changed.

    If the fixpoint is NOT reached within ``max_iter`` rounds, the function
    does not return partial components — it warns and reruns with
    :func:`connected_components_star`, whose round count is O(log^2 n)
    regardless of diameter.
    """
    edges = _edges(sym)

    def step(labels: DataFrame) -> DataFrame:
        msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), F.col("comp")
        )
        cand = msgs.unionByName(labels).groupBy("node").agg(F.min("comp").alias("comp"))
        # Path compression: comp -> comp(comp). Every comp value is a node
        # id present in cand, so the left join's null arm only fires
        # transiently within a round's plan; coalesce keeps the expression
        # total. The self-join's probe side is keyed on ``comp`` — on a
        # corpus with one giant connected component that key is maximally
        # skewed (every member row hashes to one partition). At test scale
        # AQE broadcasts the c2 side; at 100 TB a sort-merge plan relies on
        # AQE skew-join splitting (spark.sql.adaptive.skewJoin, on here),
        # which chunks even a single giant key — pinned by the
        # giant-component unit test.
        c2 = cand.select(F.col("node").alias("n2"), F.col("comp").alias("comp2"))
        return cand.join(c2, cand.comp == c2.n2, "left").select(
            "node", F.coalesce("comp2", "comp").alias("comp")
        )

    start = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    labels, converged = _fixpoint(sym, start, step, _label_sum, max_iter)
    if converged:
        return labels
    release_local_checkpoint(labels)
    warnings.warn(
        f"min-label propagation did not converge in {max_iter} rounds "
        "(graph diameter too high); falling back to large-star/small-star",
        RuntimeWarning,
        stacklevel=2,
    )
    return connected_components_star(sym)


def _large_star(e: DataFrame) -> DataFrame:
    m = e.groupBy("src").agg(F.min("dst").alias("min_nbr"))
    return (
        e.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least(F.col("src"), F.col("min_nbr")).alias("dst"),
        )
    )


def _small_star(e: DataFrame) -> DataFrame:
    # orient every edge toward its larger endpoint: src > dst
    o = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    m = o.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (
        o.join(m, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_link = m.select("src", F.col("m").alias("dst"))
    return relink.unionByName(self_link)


def connected_components_star(sym: SymEdges) -> DataFrame:
    """(node, comp): connected components by alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — O(log^2 n) rounds INDEPENDENT of graph
    diameter, the scale path for chain- or mesh-shaped graphs where
    min-label propagation needs O(diameter) rounds.

      large-star: each node u links every strictly-LARGER neighbor to
                  m(u) = min(N(u) ∪ {u})
      small-star: orient edges to the larger endpoint, then each node u
                  links its (all smaller) neighbors and itself to m(u)

    Both steps are a groupBy-min plus a join — pure shuffles, no driver
    data. At the fixpoint the edge set is a union of stars: every node
    points at its component's minimum, which is exactly the (node, comp)
    labeling. The fixpoint test is the edge set's checksum."""
    edges = _edges(sym)
    cur, converged = _fixpoint(
        sym,
        edges,
        lambda e: _symmetrize(_small_star(_large_star(e)), "src", "dst"),
        _set_checksum,
        _STAR_ROUNDS,
    )
    if not converged:
        raise RuntimeError(
            f"large-star/small-star did not converge in {_STAR_ROUNDS} rounds"
        )
    oriented = cur.select(
        F.greatest("src", "dst").alias("node"), F.least("src", "dst").alias("comp")
    )
    roots = oriented.select(F.col("comp").alias("node"), F.col("comp"))
    return (
        oriented.unionByName(roots).groupBy("node").agg(F.min("comp").alias("comp"))
    )


def pagerank(sym: SymEdges) -> DataFrame:
    """(node, rank) by power iteration over the symmetric edge list.

    rank'(v) = (1-d) + d * sum_{u in N(v)} rank(u) / deg(u), init 1.0 —
    the per-node-mean formulation whose total mass stays |V| (symmetric
    graphs have no dangling nodes: every node has degree >= 1). The
    fixed round budget is the approximation contract: the error contracts
    at the damping rate, so a tight tolerance would need
    ~log(tol)/log(d) rounds.

    Rounds have no driver action: each round's relation is a lazy
    localCheckpoint (lineage one round deep) and all of them materialize
    inside the caller's action, after this function returned. So the
    superseded rounds' narrow (node, rank) relations cannot be released
    here; they stay persisted until they become unreferenced and the
    ContextCleaner (or release_session_state) reaps them."""
    edges = _edges(sym)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))
    ranks = ranks.localCheckpoint(eager=False)
    out = edges.join(deg, on="src")  # (src, dst, deg) — checkpointed parent
    for _ in range(_PAGERANK_ROUNDS):
        contrib = out.join(
            ranks, out.src == ranks.node
        ).select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
        ranks = (
            contrib.groupBy("node")
            .agg((F.lit(1.0 - _DAMPING) + F.lit(_DAMPING) * F.sum("c")).alias("rank"))
            .localCheckpoint(eager=False)
        )
    return ranks


def label_propagation(sym: SymEdges) -> DataFrame:
    """(node, community) by synchronous label propagation (Raghavan et al.
    2007): each round every node adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label — deterministic, unlike
    the random-order sequential formulation.

    On a near-dup graph LPA splits a weakly-bridged component (two clique
    clusters sharing one accidental candidate edge) into its two natural
    communities, the right granularity for keep-one-per-cluster curation
    when components over-merge.

    Each round is join -> count-per-label -> max_by per node. It stops when
    the label set's checksum repeats the last round's or the one before
    (synchronous updates can 2-cycle on bipartite-ish graphs), and after a
    fixed round budget at most."""
    edges = _edges(sym)

    def step(labels: DataFrame) -> DataFrame:
        nbr = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), F.col("community")
        )
        votes = nbr.groupBy("node", "community").agg(F.count("*").alias("c"))
        return votes.groupBy("node").agg(
            F.max_by(
                "community",
                # vote count dominates; ties -> smallest label. max_by
                # picks the max struct, so negate the label part.
                F.struct(F.col("c"), (-F.col("community")).alias("nl")),
            ).alias("community")
        )

    start = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "community", F.col("node")
    )
    labels, _ = _fixpoint(sym, start, step, _set_checksum, _LPA_ROUNDS, period=2)
    return labels


def _neardup_sym(spark: SparkSession, sf_dir: str) -> SymEdges:
    # dedup imports this module at load time, so the import runs here
    from .dedup import neardup_pairs

    return sym_edges(neardup_pairs(table(spark, sf_dir, "documents")), "doc_a", "doc_b")


@query("q145_neardup_pagerank", None)  # rows-only: iterative power method
def q145_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the exact near-dup pair graph: per doc, its
    centrality within its duplicate neighborhood plus its cluster id —
    the 'keep the most central duplicate' ranking, joined against the
    same components q73 emits so downstream keep-one policies can pick
    argmax(rank) per cluster instead of min(doc_id). Both operators read
    one symmetric edge relation."""
    sym = _neardup_sym(spark, sf_dir)
    ranks = pagerank(sym)
    comps = connected_components(sym).withColumnRenamed("node", "c_node")
    return (
        ranks.join(comps, ranks.node == F.col("c_node"))
        .select(
            F.col("node").alias("doc_id"),
            F.round("rank", 9).alias("rank"),
            F.col("comp").alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


@query("q203_neardup_communities", None)  # rows-only: iterative LPA
def q203_neardup_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup community detection: LPA communities over the exact pair
    graph, with each community's size and its canonical (min) doc — the
    finer-grained sibling of q73's connected components for curation
    policies that should not merge across weak bridges."""
    comm = label_propagation(_neardup_sym(spark, sf_dir))
    sizes = comm.groupBy("community").agg(
        F.count("*").alias("community_size"), F.min("node").alias("canonical_doc")
    )
    return (
        comm.join(sizes, "community")
        .select(
            F.col("node").alias("doc_id"),
            F.col("community").alias("community_id"),
            "community_size",
            "canonical_doc",
        )
        .orderBy("doc_id")
    )
