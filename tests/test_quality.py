"""Invariant tests for the rows-only quality operators (q132/q133) and the
distributed k-means primitive. Oracle-backed quality queries
(q130/q131/q134) are covered by test_queries_oracle.py's parametrization."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SF_LARGE = SF.replace("sf0.001", "sf0.1")


def _pairs(df):
    return {(r.vec_a, r.vec_b) for r in df.collect()}


def _cosines(df):
    return {(r.vec_a, r.vec_b): r.cosine for r in df.collect()}


def test_q132_precision_one_and_recall_floor(spark):
    """Cluster-bucketed candidates + exact verify: every reported pair must
    be a true pair (precision 1.0 by construction — exact cosine verify)
    with q47's exact cosine, and multi-probe top-2 assignment must keep
    recall well above the hard-assignment floor even on this
    structure-free testdata (measured at sf0.001: 0.30 hard -> 0.83
    top-2). sf0.1 is where a float32-squared normalization once moved two
    cosines by 1e-6."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q47_embedding_cosine_neardup,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.quality import (
        q132_semantic_dedup_clustered,
    )

    for sf in (SF, SF_LARGE):
        exact = _cosines(q47_embedding_cosine_neardup(spark, sf))
        clustered = _cosines(q132_semantic_dedup_clustered(spark, sf))
        assert clustered.keys() <= exact.keys(), "false positive pairs survived exact verify"
        assert len(exact) > 0
        assert len(clustered.keys() & exact.keys()) / len(exact) >= 0.6
        moved = {p: (c, exact[p]) for p, c in clustered.items() if c != exact[p]}
        assert not moved, (sf, moved)


def test_q132_deterministic(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.quality import (
        q132_semantic_dedup_clustered,
    )

    assert _pairs(q132_semantic_dedup_clustered(spark, SF)) == _pairs(
        q132_semantic_dedup_clustered(spark, SF)
    )


def test_kmeans_assign_partitions_all_vectors(spark):
    """Every vector gets exactly `probe` clusters, all in [0, k)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.quality import (
        kmeans_assign,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    emb = load_table(spark, SF, "embeddings")
    out = kmeans_assign(emb, k=4, n_iter=2, probe=2)
    assert out.count() == emb.count()
    bad = out.filter(
        (F.size("clusters") != 2)
        | F.exists("clusters", lambda c: (c < 0) | (c >= 4))
        | (F.col("clusters")[0] == F.col("clusters")[1])
    ).count()
    assert bad == 0


def test_vector_kit_jvm_and_numpy_twins_agree(spark):
    """The embedding kit's JVM expressions match their numpy twins on the
    sf0.1 embeddings: l2_normalize_expr vs unit_rows(as_matrix(...)), and
    nearest_centroids vs a stable argsort of the numpy scores at m=1 and
    m=4. q74 relies on this: it ranks query centroids on the JVM and
    assigns corpus rows in numpy."""
    import numpy as np

    from project_1_greentech_logistics_data_pipeline_spark.functions.vectors import (
        as_matrix,
        l2_normalize_expr,
        nearest_centroids,
        spherical_kmeans,
        unit_rows,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    emb = load_table(spark, SF_LARGE, "embeddings")
    centroids = spherical_kmeans(emb, 16, 3)
    rows = (
        emb.select("vec_id", "embedding", l2_normalize_expr("embedding").alias("n"))
        .select(
            "embedding",
            "n",
            nearest_centroids("n", centroids, 1).alias("top1"),
            nearest_centroids("n", centroids, 4).alias("top4"),
        )
        .collect()
    )
    m = unit_rows(as_matrix(r.embedding for r in rows))
    assert len(rows) > 1000
    assert np.abs(as_matrix(r.n for r in rows) - m).max() <= 1e-12
    order = np.argsort(-(m @ centroids.T), axis=1, kind="stable")
    assert [list(r.top1) for r in rows] == order[:, :1].tolist()
    assert [list(r.top4) for r in rows] == order[:, :4].tolist()


def test_q133_hll_estimates_within_tolerance(spark):
    """DataSketches HLL estimates per event_type (built daily, merged via
    hll_union_agg) must sit within 5% of the exact distinct counts, and
    the per-day sketch count must cover the full date range."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.quality import (
        q133_hll_sketch_rollup,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    est = {r.event_type: r for r in q133_hll_sketch_rollup(spark, SF).collect()}
    exact = {
        r.event_type: r.n
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for et, row in est.items():
        assert abs(row.est_distinct_users - exact[et]) <= 0.05 * exact[et], et
        assert row.n_days >= 1


def test_q136_streaks_conserve_active_days(spark):
    """Gaps-and-islands invariants: streak day-counts sum to the number of
    distinct (user, day) pairs, streaks span exactly their day count, and
    no user has overlapping or adjacent (mergeable) streaks."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.analytics import (
        q136_activity_streaks,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    rows = q136_activity_streaks(spark, SF).collect()
    active = (
        load_table(spark, SF, "events")
        .selectExpr("user_id", "to_date(ts) AS d")
        .distinct()
        .count()
    )
    assert sum(r.streak_days for r in rows) == active
    by_user: dict[int, list] = {}
    for r in rows:
        assert (r.streak_end - r.streak_start).days + 1 == r.streak_days
        by_user.setdefault(r.user_id, []).append(r)
    for streaks in by_user.values():
        streaks.sort(key=lambda r: r.streak_start)
        for a, b in zip(streaks, streaks[1:]):
            # a gap of at least one day separates consecutive streaks
            assert (b.streak_start - a.streak_end).days >= 2


def test_q137_mixture_is_exactly_the_hash_rule(spark):
    """The deterministic sampler keeps EXACTLY the rows the Knuth-hash rule
    selects — recomputed independently in Python — and is stable across
    runs."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.quality import (
        _KNUTH,
        _MIX_DEFAULT,
        _MIX_RATES,
        _MOD,
        q137_source_mixture_sample,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "source").collect()
    expected = {
        r.doc_id
        for r in docs
        if (r.doc_id * _KNUTH) % _MOD
        < int(_MIX_RATES.get(r.source, _MIX_DEFAULT) * _MOD)
    }
    got = {r.doc_id for r in q137_source_mixture_sample(spark, SF).collect()}
    assert got == expected
    assert got == {r.doc_id for r in q137_source_mixture_sample(spark, SF).collect()}


def test_q130_metric_bounds(spark):
    """Repetition metrics are well-formed probabilities/ratios."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.quality import (
        q130_repetition_metrics,
    )

    for r in q130_repetition_metrics(spark, SF).collect():
        assert 0 < r.top_token_frac <= 1
        assert 0 < r.top_bigram_frac <= 1
        assert 0 < r.distinct_ratio <= 1
        assert r.n_tokens > 0


def test_pagerank_conserves_mass_and_ranks_hubs(spark):
    """Power-iteration invariants on a known star+path graph: total rank
    mass == |V| (no dangling nodes in a symmetric graph), the star hub
    out-ranks its leaves, and the result is deterministic."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.graph import (
        pagerank,
        sym_edges,
    )

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (5, 6), (6, 7)], "src LONG, dst LONG"
    )
    r1 = {r.node: r.rank for r in pagerank(sym_edges(edges, "src", "dst")).collect()}
    r2 = {r.node: r.rank for r in pagerank(sym_edges(edges, "src", "dst")).collect()}
    assert r1 == r2
    assert abs(sum(r1.values()) - 8) < 1e-6
    assert r1[0] > r1[1] > 0  # hub beats leaf
    assert r1[6] > r1[5]  # path middle beats endpoint


def test_q145_rows_and_cluster_consistency(spark):
    """Every ranked doc belongs to a cluster, and within each cluster the
    rank-argmax is unique-or-tied — usable as a keep-one policy."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["q145_neardup_pagerank"](spark, SF).collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        assert r.rank > 0
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for members in by_cluster.values():
        assert len(members) >= 2  # pair graph: no singleton clusters


def test_pca_components_orthonormal_and_variance_ordered(spark):
    """PCA invariants: components are orthonormal, explained variances
    decrease, projections are deterministic across repartitionings, and
    per-component projected variance equals the eigenvalue."""
    import numpy as np

    from project_1_greentech_logistics_data_pipeline_spark.operators.similarity import (
        pca_components,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    emb = load_table(spark, SF, "embeddings")
    comps, evs, mean = pca_components(emb, k=4)
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(4), atol=1e-9)
    assert all(evs[i] >= evs[i + 1] for i in range(len(evs) - 1))
    comps2, evs2, _ = pca_components(emb.repartition(7), k=4)
    assert np.allclose(C, np.array(comps2), atol=1e-9)
    assert np.allclose(evs, evs2, atol=1e-9)
    # projected variance per component == eigenvalue
    X = np.array([np.asarray(r.embedding, dtype=float) for r in emb.collect()])
    P = (X - np.array(mean)) @ C.T
    assert np.allclose(P.var(axis=0, ddof=1), evs, rtol=1e-6)


def test_q153_projection_matches_numpy(spark):
    import numpy as np

    import __spark_entry__ as entrymod
    from project_1_greentech_logistics_data_pipeline_spark.operators.similarity import (
        pca_components,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    emb = load_table(spark, SF, "embeddings")
    comps, _, mean = pca_components(emb, k=4)
    want = {
        r.vec_id: (np.asarray(r.embedding, dtype=float) - np.array(mean))
        @ np.array(comps).T
        for r in emb.collect()
    }
    got = entrymod.queries()["q153_pca_project"](spark, SF).collect()
    for r in got:
        np.testing.assert_allclose(
            [r.pc1, r.pc2, r.pc3, r.pc4], want[r.vec_id], atol=1e-6
        )


def test_q166_overlap_estimates_within_tolerance(spark):
    """Inclusion-exclusion over HLL unions must land within 10% of the
    exact pairwise audience intersections (HLL error compounds across
    three estimates, so the bound is looser than single-sketch 5%)."""
    import itertools

    import __spark_entry__ as entrymod
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    est = {
        (r.type_a, r.type_b): r.est_overlap
        for r in entrymod.queries()["q166_hll_audience_overlap"](spark, SF).collect()
    }
    users = {
        t: {r.user_id for r in g.collect()}
        for t, g in (
            (t, load_table(spark, SF, "events").filter(F.col("event_type") == t).select("user_id").distinct())
            for t in {k for pair in est for k in pair}
        )
    }
    assert est
    for (ta, tb), e_ov in est.items():
        exact = len(users[ta] & users[tb])
        assert abs(e_ov - exact) <= max(0.1 * exact, 3), (ta, tb, e_ov, exact)
