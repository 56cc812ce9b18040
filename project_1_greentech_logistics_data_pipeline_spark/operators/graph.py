"""Graph analytics over derived edge lists (round 2): PageRank.

Connected components (dedup.connected_components / _star) answered
"which docs are the same"; PageRank answers "which doc is the most
central representative" — the canonical-doc selection signal when a
near-dup cluster should keep its most-connected member instead of the
min-id one. The same iterative-DataFrame discipline as the CC and
k-means operators applies:

  - the edge relation is localCheckpointed ONCE and reused every round;
  - each round is one join (ranks -> edges) + one groupBy-sum — pure
    shuffles keyed by node id, no driver-side data beyond a 1-row
    convergence scalar;
  - per-round ranks are localCheckpointed so lineage stays flat.

At 100 TB both per-round shuffles key on node id, so a cluster
partitions the graph once and every round reuses that exchange. Rank
mass is conserved exactly in expectation (no dangling nodes in a
symmetric pair graph), which the tests pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query


def _sym_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetrized, deduplicated, checkpointed (src, dst) edge relation —
    the shared per-round input of every iterative graph operator. Factored
    (r14 optimization pass) so a caller running BOTH pagerank and
    connected components over the same pair graph (q145) materializes it
    once instead of twice: the build is a union + distinct shuffle + an
    eager localCheckpoint, ~0.7-1.0 s at sf0.1 and a full corpus-pair
    shuffle at scale."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .distinct()
        .localCheckpoint()
    )


def assert_symmetrized(edges: DataFrame, src: str, dst: str, sample: int = 256) -> None:
    """Debug-mode symmetry check behind ``SPARK_GRAFT_DEBUG_SYMMETRY=1``
    (r14 ADVICE item 2): a caller passing ``symmetrized=True`` with a
    one-directional edge list silently converges to WRONG degrees /
    components — the column-layout guard cannot see that. When the flag
    is set, take ``sample`` edges and anti-join their reversals against
    the relation; any miss raises with examples. One bounded extra job,
    OFF by default (the bench and production paths never pay it).

    The probe is the ``sample`` smallest rows by xxhash64(src, dst) — a
    deterministic pseudo-random draw ACROSS partitions (TakeOrdered: one
    pass, bounded driver state), not ``limit``, which would read only the
    first partition(s) and miss asymmetry produced late in scan order
    (review-caught, r15). Rows with a NULL endpoint are left out of the
    probe: their reversal can never equi-join, even when present."""
    import os

    if os.environ.get("SPARK_GRAFT_DEBUG_SYMMETRY") != "1":
        return
    probe = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropna()
        .orderBy(F.xxhash64("src", "dst"))
        .limit(sample)
    )
    rev = probe.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    missing = rev.join(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
        ["src", "dst"],
        "left_anti",
    ).limit(5).collect()
    if missing:
        raise ValueError(
            "symmetrized=True edges are NOT symmetric: missing reversed "
            f"rows, e.g. {[(r['src'], r['dst']) for r in missing]} "
            "(SPARK_GRAFT_DEBUG_SYMMETRY check)"
        )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 12,
    tol: float | None = None,
    symmetrized: bool = False,
) -> DataFrame:
    """(node, rank) by power iteration over the symmetrized edge list.

    rank'(v) = (1-d) + d * sum_{u in N(v)} rank(u) / deg(u), init 1.0 —
    the per-node-mean formulation whose total mass stays |V| (symmetric
    graphs have no dangling nodes: every node has degree >= 1).

    ``tol`` (opt-in) stops early when max |rank' - rank| < tol, via a
    1-row scalar per round (bounded driver state, same discipline as
    connected_components' convergence scalar). Default OFF: the error
    contracts at the damping rate (measured delta == 0.85^k on the
    near-dup graph), so a tight tol needs ~log(tol)/log(d) rounds and
    would never fire inside a small n_iter budget — the fixed budget IS
    the approximation contract, and the check costs a join per round.

    ``symmetrized=True`` declares that ``edges`` IS already the
    symmetrized+distinct+checkpointed relation (:func:`_sym_edges`
    output) — the build is skipped. Callers own the symmetry part of
    the contract (a non-symmetric input silently changes degrees — not
    checkable cheaply); the checkable part, column layout, is enforced
    loudly below (raise, not assert: -O safe), and
    ``SPARK_GRAFT_DEBUG_SYMMETRY=1`` adds a sampled reversed-row check
    (:func:`assert_symmetrized`, r15 — one bounded job, off by default)."""
    if symmetrized and edges.columns[:2] != [src, dst]:
        raise ValueError(
            "symmetrized=True requires a relation whose first columns are "
            f"[{src!r}, {dst!r}] (_sym_edges output); got {edges.columns!r}"
        )
    if symmetrized:
        assert_symmetrized(edges, src, dst)
    sym = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if symmetrized
        else _sym_edges(edges, src, dst)
    )
    from ..session import release_local_checkpoint

    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))
    ranks = ranks.localCheckpoint(eager=False)
    out = sym.join(deg, on="src")  # (src, dst, deg) — checkpointed parent
    # Materialization cadence (r15 optimization pass): LAZY checkpoint
    # every round. Each round still gets its own lineage cut at
    # construction time (the plan stays one-round-deep — this is NOT the
    # r13-measured "checkpoint every 4th round" deep fusion, whose
    # between-checkpoint plans grew quadratically and regressed 3x), but
    # with tol off nothing materializes until the caller's action: the
    # n_iter per-round eager-checkpoint driver jobs collapse into that
    # one final job. A/B at sf0.1 (interleaved, 4 reps): med 4.19 ->
    # 3.49 s, min 3.19 -> 2.84, ranks byte-equal at the output's 9-dp
    # rounding. With tol set, the per-round delta collect is the
    # materializing action (1 job/round instead of 2), and the
    # superseded round's blocks are released eagerly. With tol OFF the
    # rounds only materialize inside the CALLER's action, after this
    # function has returned — in-loop eager release is impossible, so
    # the n_iter intermediate rank relations (narrow (node, rank) rows)
    # stay persisted until they become unreferenced and the
    # ContextCleaner (or release_session_state's System.gc) reaps them.
    # That O(n_iter)-narrow-relations residency is the measured price of
    # the faster lazy cadence here; the O(1) eager-release guarantee
    # applies to connected_components/label_propagation, whose per-round
    # collects make in-loop release possible.
    for _ in range(n_iter):
        prev = ranks
        contrib = out.join(
            ranks, out.src == ranks.node
        ).select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
        ranks = (
            contrib.groupBy("node")
            .agg((F.lit(1.0 - damping) + F.lit(damping) * F.sum("c")).alias("rank"))
            .localCheckpoint(eager=False)
        )
        if tol is not None:
            delta = (
                ranks.join(prev.withColumnRenamed("rank", "prev_rank"), on="node")
                .agg(F.max(F.abs(F.col("rank") - F.col("prev_rank"))).alias("d"))
                .collect()[0]["d"]
            )
            release_local_checkpoint(prev)
            if delta is None or delta < tol:
                break
    return ranks


@query("q145_neardup_pagerank", None)  # rows-only: iterative power method
def q145_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the exact near-dup pair graph: per doc, its
    centrality within its duplicate neighborhood plus its cluster id —
    the 'keep the most central duplicate' ranking, joined against the
    same components q73 emits so downstream keep-one policies can pick
    argmax(rank) per cluster instead of min(doc_id)."""
    from .dedup import connected_components, neardup_pairs

    pairs = neardup_pairs(spark, sf_dir).localCheckpoint()
    # ONE symmetrized edge materialization shared by both iterative
    # consumers (r14 optimization pass: pagerank and components each
    # built their own union+distinct+checkpoint over the same pairs —
    # two identical shuffles and materializations; ~0.7-1.0 s at sf0.1,
    # one full pair shuffle saved at scale). Identical relation, so both
    # fixpoints are unchanged.
    sym = _sym_edges(pairs, "doc_a", "doc_b")
    ranks = pagerank(sym, symmetrized=True)
    comps = connected_components(sym, symmetrized=True).withColumnRenamed(
        "node", "c_node"
    )
    return (
        ranks.join(comps, ranks.node == F.col("c_node"))
        .select(
            F.col("node").alias("doc_id"),
            F.round("rank", 9).alias("rank"),
            F.col("comp").alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
) -> DataFrame:
    """(node, community) by synchronous label propagation (Raghavan et al.
    2007): each round every node adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label — deterministic, unlike
    the random-order sequential formulation.

    Where connected_components answers "is there any path" and pagerank
    answers "who is central", LPA answers "which densely-linked group" —
    on a near-dup graph it splits a weakly-bridged component (two clique
    clusters sharing one accidental candidate edge) into its two natural
    communities, the right granularity for keep-one-per-cluster curation
    when CC over-merges.

    Discipline matches the other iterative operators: symmetrized edge
    relation localCheckpointed once; each round is join -> count-per-label
    -> max_by per node (two shuffles keyed on node id, partitioning
    reusable across rounds on a real cluster); per-round labels
    localCheckpointed; convergence = label-multiset checksum unchanged
    (1-row scalar per round, bounded driver state). Fixed n_iter bounds
    worst-case oscillation (bipartite-ish graphs can 2-cycle under
    synchronous updates; the checksum also detects a 2-cycle by comparing
    against the round-before-last)."""
    sym = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    from ..session import release_local_checkpoint

    # Lazy checkpoints throughout (r15): the per-round checksum collect is
    # the materializing action, so each round is ONE driver job instead of
    # two (eager checkpoint + checksum); superseded rounds' blocks are
    # released eagerly. Label dynamics are untouched — rounds and labels
    # are byte-identical (the checksum history pins it).
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "community", F.col("node")
    ).localCheckpoint(eager=False)

    def _checksum(lab: DataFrame):
        # bit_xor, not sum: ANSI mode raises on long-sum overflow and
        # xxhash64 values span the full int64 range. XOR is commutative,
        # overflow-free, and (with the count) collision-safe enough for a
        # fixpoint check.
        return lab.agg(
            F.bit_xor(F.xxhash64("node", "community")).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]

    seen = [tuple(_checksum(labels))]
    for _ in range(n_iter):
        nbr = sym.join(labels, sym.src == labels.node).select(
            F.col("dst").alias("node"), F.col("community")
        )
        votes = nbr.groupBy("node", "community").agg(F.count("*").alias("c"))
        new_labels = (
            votes.groupBy("node")
            .agg(
                F.max_by(
                    "community",
                    # vote count dominates; ties -> smallest label. max_by
                    # picks the max struct, so negate the label part.
                    F.struct(F.col("c"), (-F.col("community")).alias("nl")),
                ).alias("community")
            )
            .localCheckpoint(eager=False)
        )
        h = tuple(_checksum(new_labels))  # materializes the lazy checkpoint
        release_local_checkpoint(labels)
        labels = new_labels
        if h in seen[-2:]:  # fixpoint or synchronous 2-cycle
            break
        seen.append(h)
    return labels


@query("q203_neardup_communities", None)  # rows-only: iterative LPA
def q203_neardup_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup community detection: LPA communities over the exact pair
    graph, with each community's size and its canonical (min) doc — the
    finer-grained sibling of q73's connected components for curation
    policies that should not merge across weak bridges."""
    from .dedup import neardup_pairs

    pairs = neardup_pairs(spark, sf_dir).localCheckpoint()
    comm = label_propagation(pairs, "doc_a", "doc_b")
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
