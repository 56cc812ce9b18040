"""Property tests for the custom dedup machinery: the bitmap token-set
representation must agree exactly with the sparse array form, and the
distributed connected-components must agree with a union-find reference.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _jaccard_expr,
    _jaccard_mask_expr,
    bitmask_token_sets,
    hashed_token_sets,
)
from project_1_greentech_logistics_data_pipeline_spark.operators.graph import (
    connected_components,
    connected_components_star,
    sym_edges,
)
from project_1_greentech_logistics_data_pipeline_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def test_bitmap_jaccard_equals_array_jaccard(spark):
    """For every same-lang doc pair (no size-band prefilter — the full
    quadratic at sf0.001), popcount-over-masks must equal
    array_intersect-over-hashed-sets exactly."""
    arr = hashed_token_sets(spark, SF).select("doc_id", "lang", "hset")
    msk = bitmask_token_sets(load_table(spark, SF, "documents")).select(
        F.col("doc_id"), F.col("lang").alias("mlang"), "mask", "sz"
    )
    docs = arr.join(msk.drop("mlang"), "doc_id")
    a = docs.select(
        F.col("doc_id").alias("ida"), F.col("lang").alias("la"),
        F.col("hset").alias("ha"), F.col("mask").alias("ma"), F.col("sz").alias("sza"),
    )
    b = docs.select(
        F.col("doc_id").alias("idb"), F.col("lang").alias("lb"),
        F.col("hset").alias("hb"), F.col("mask").alias("mb"), F.col("sz").alias("szb"),
    )
    pairs = a.join(b, (F.col("la") == F.col("lb")) & (F.col("ida") < F.col("idb")))
    diff = pairs.select(
        (
            F.round(_jaccard_expr(F.col("ha"), F.col("hb")), 9)
            != F.round(
                _jaccard_mask_expr(F.col("ma"), F.col("mb"), F.col("sza"), F.col("szb")), 9
            )
        ).alias("mismatch")
    ).filter("mismatch")
    assert diff.count() == 0


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {}
    for node in {u for e in edges for u in e}:
        root = find(node)
        comp[node] = root
    # normalize: component id = min node in component
    groups = {}
    for node, root in comp.items():
        groups.setdefault(find(root), set()).add(node)
    out = {}
    for members in groups.values():
        m = min(members)
        for node in members:
            out[node] = m
    return out


def test_connected_components_matches_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(45)})
        edges = [(u, v) for u, v in edges if u != v]
        sym = sym_edges(spark.createDataFrame(edges, ["src", "dst"]), "src", "dst")
        got = {r["node"]: r["comp"] for r in connected_components(sym).collect()}
        expected = _uf_components(n, edges)
        assert got == expected, f"trial {trial}: {got} != {expected}"


def test_star_components_matches_union_find(spark):
    """large-star/small-star must agree with union-find on random graphs,
    including one with multiple components and isolated chain segments."""
    rng = random.Random(13)
    for trial in range(3):
        n = 80
        edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(50)})
        edges = [(u, v) for u, v in edges if u != v]
        sym = sym_edges(spark.createDataFrame(edges, ["src", "dst"]), "src", "dst")
        got = {r["node"]: r["comp"] for r in connected_components_star(sym).collect()}
        expected = _uf_components(n, edges)
        assert got == expected, f"trial {trial}: {got} != {expected}"


def _deep_chain(spark, n=121):
    """The canonical deep-chain fixture (diameter n-1) and its expected
    all-zero labeling — shared by the star test and the r14
    path-compression test so the two pin the SAME graph."""
    edges = [(i, i + 1) for i in range(n - 1)]
    return spark.createDataFrame(edges, ["src", "dst"]), {i: 0 for i in range(n)}


def test_star_components_deep_chain(spark):
    """A 120-hop chain: diameter far beyond label-prop's default max_iter.
    Star converges in O(log^2 n) rounds and must still label every node
    with the chain's minimum."""
    df, expected = _deep_chain(spark)
    sym = sym_edges(df, "src", "dst")
    got = {r["node"]: r["comp"] for r in connected_components_star(sym).collect()}
    assert got == expected


def test_label_prop_falls_back_on_deep_chain(spark):
    """connected_components must NOT return partial components when the
    diameter exceeds max_iter — it warns and falls back to star."""
    import warnings

    n = 40
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {
            r["node"]: r["comp"]
            for r in connected_components(sym_edges(df, "src", "dst"), max_iter=3).collect()
        }
    assert got == {i: 0 for i in range(n)}
    assert any("falling back" in str(x.message) for x in w)


def test_label_prop_path_compression_converges_on_deep_chain(spark):
    """Pin the r14 pointer-doubling path compression: a 120-hop chain
    (diameter 119 >> default max_iter 20) must converge DIRECTLY in
    O(log diameter) propagate+compress rounds — no star fallback, no
    warning — with the exact same labeling. Before the compression step
    this graph exhausted max_iter and took the fallback path."""
    import warnings

    df, expected = _deep_chain(spark)
    sym = sym_edges(df, "src", "dst")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {r["node"]: r["comp"] for r in connected_components(sym).collect()}
    assert got == expected
    assert not any("falling back" in str(x.message) for x in w)


def test_connected_components_giant_component_skew(spark):
    """Skew shape (r15, VERDICT item 5): ONE giant component (a hub node
    linked to 399 spokes, plus chain segments hanging off it) among many
    small 2-node components. The compression self-join's probe side is
    keyed on ``comp``, so at convergence every giant-component row carries
    the SAME key — the maximally skewed case the operator's 100 TB notes
    delegate to AQE broadcast/skew-join handling. Labels must still be
    exact: every giant member -> 0, each pair -> its min."""
    giant = [(0, i) for i in range(1, 400)]
    # a 20-hop chain hanging off spoke 399 adds diameter so compression
    # actually runs; (1, 399) adds one intra-hub cross edge
    giant += [(399 + i, 400 + i) for i in range(0, 20)]
    giant += [(1, 399)]
    small = [(1000 + 3 * i, 1000 + 3 * i + 1) for i in range(30)]
    sym = sym_edges(spark.createDataFrame(giant + small, ["src", "dst"]), "src", "dst")
    got = {r["node"]: r["comp"] for r in connected_components(sym).collect()}
    expected = _uf_components(2000, giant + small)
    assert got == expected
    assert sum(1 for c in got.values() if c == 0) == 420  # the giant comp


def test_connected_components_releases_round_blocks(spark):
    """Superseded rounds' localCheckpoint blocks are released eagerly, so
    the persistent-RDD count after a DEEP run (many rounds) grows by O(1)
    — the symmetrized edges and the final relation — not O(rounds), for
    min-label propagation and for large-star/small-star alike."""
    sc = spark.sparkContext
    # a 121-node chain: ~7 propagate+compress rounds, more star rounds
    edges = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for cc in (connected_components, connected_components_star):
        before = len(sc._jsc.getPersistentRDDs())
        got = {r["node"]: r["comp"] for r in cc(sym_edges(df, "src", "dst")).collect()}
        after = len(sc._jsc.getPersistentRDDs())
        assert got == {i: 0 for i in range(121)}
        # O(1) bound: sym + final relation (+ slack for the input relation)
        assert after - before <= 3, (
            f"{cc.__name__} leaks round checkpoint blocks: "
            f"{before} -> {after} persistent RDDs"
        )


def test_graph_kit_node_set_typed_input_and_shared_edges(spark):
    """Every graph operator reads one SymEdges relation: (1) a node whose
    only edge is a self-loop is in no operator's output, whichever
    components algorithm ran; (2) a raw DataFrame raises TypeError; (3)
    the star fallback never releases the caller's SymEdges, which q145
    reads again after components return."""
    import warnings

    import pytest

    from project_1_greentech_logistics_data_pipeline_spark.operators.graph import (
        label_propagation,
        pagerank,
    )

    df = spark.createDataFrame(
        [(100, 100)] + [(i, i + 1) for i in range(39)], "src long, dst long"
    )
    sym = sym_edges(df, "src", "dst")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        fallback = connected_components(sym, max_iter=1)
    assert any("falling back" in str(x.message) for x in w)
    ranks = pagerank(sym).collect()
    outputs = {
        "fallback": fallback.collect(),
        "pagerank": ranks,
        "components": connected_components(sym).collect(),
        "star": connected_components_star(sym).collect(),
        "lpa": label_propagation(sym).collect(),
    }
    for name, rows in outputs.items():
        assert {r["node"] for r in rows} == set(range(40)), name
    for op in (connected_components, connected_components_star, label_propagation, pagerank):
        with pytest.raises(TypeError):
            op(df)


def test_release_local_checkpoint_warns_once(spark, monkeypatch):
    """A failed checkpoint release is visible: the first failure emits one
    RuntimeWarning, later failures stay quiet, and nothing raises."""
    import warnings

    from project_1_greentech_logistics_data_pipeline_spark import session

    monkeypatch.setattr(session, "_release_warned", False)
    df = spark.range(3)  # not checkpointed: its plan has no RDD to release
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session.release_local_checkpoint(df)
        session.release_local_checkpoint(df)
    released = [w for w in caught if "release_local_checkpoint" in str(w.message)]
    assert len(released) == 1
    assert released[0].category is RuntimeWarning


def test_tune_warns_once_per_refused_key(monkeypatch):
    """A conf key the session refuses is visible: tune() emits one
    RuntimeWarning naming the key per process, and every other key is
    still set."""
    import warnings

    from project_1_greentech_logistics_data_pipeline_spark import session

    bad = "spark.sql.shuffle.partitions"

    class _Conf:
        def __init__(self):
            self.values = {}

        def set(self, k, v):
            if k == bad:
                raise RuntimeError("static conf")
            self.values[k] = v

        def get(self, k):
            assert k == session.CODEGEN_CACHE_KEY
            return str(session.CODEGEN_CACHE_ENTRIES)

    class _Session:
        conf = _Conf()

    monkeypatch.setattr(session, "_tune_warned", set())
    stub = _Session()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session.tune(stub)
        session.tune(stub)
    refused = [w for w in caught if bad in str(w.message)]
    assert len(refused) == 1
    assert refused[0].category is RuntimeWarning
    assert len(caught) == 1
    assert stub.conf.values == {
        k: v for k, v in session.RUNTIME_CONF.items() if k != bad
    }


def test_tune_warns_once_on_small_codegen_cache(monkeypatch):
    """A session built without get_spark keeps its codegen class cache
    size (a static conf): tune() says so with one RuntimeWarning per
    process and still applies every runtime conf."""
    import warnings

    from project_1_greentech_logistics_data_pipeline_spark import session

    class _Conf:
        def __init__(self):
            self.values = {}

        def set(self, k, v):
            self.values[k] = v

        def get(self, k):
            assert k == session.CODEGEN_CACHE_KEY
            return "100"  # Spark's default

    class _Session:
        conf = _Conf()

    monkeypatch.setattr(session, "_cache_warned", False)
    stub = _Session()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        session.tune(stub)
        session.tune(stub)
        session.tune(_Session())
    assert len(caught) == 1
    assert caught[0].category is RuntimeWarning
    assert session.CODEGEN_CACHE_KEY in str(caught[0].message)
    assert stub.conf.values == session.RUNTIME_CONF


def test_lsh_candidates_are_same_lang_only(spark):
    """Regression for the cross-lang candidate gap: q45's verified pairs
    must all be within-lang (the verify bitmaps are dictionary-encoded per
    lang, so cross-lang pairs would popcount garbage)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q45_minhash_lsh_neardup,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    pairs = q45_minhash_lsh_neardup(spark, SF)
    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"))
    cross = (
        pairs.join(a, "doc_a").join(b, "doc_b").filter("lang_a <> lang_b")
    )
    assert cross.count() == 0


def test_lsh_pairs_match_exact_pairs(spark):
    """On the testdata corpus the LSH path (q45) must find exactly the
    pair set of the exact baseline (q44) — precision 1.0 by construction,
    and recall 1.0 here because near-dup pairs sit far above the 0.95
    S-curve knee."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q44_ngram_jaccard_neardup,
        q45_minhash_lsh_neardup,
    )

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in q44_ngram_jaccard_neardup(spark, SF).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in q45_minhash_lsh_neardup(spark, SF).collect()
    }
    assert lsh == exact


def test_neardup_pairs_docs_override_composes_with_keep(spark, tmp_path):
    """A caller's own documents relation and a doc_id gate COMPOSE: the
    pair source takes any ``(doc_id, lang, text)`` relation (q217 passes
    redacted text), and a SEMI-gated one (q214's form) yields the induced
    subgraph. Corpus: three mutual near-dup docs (identical text) plus an
    unrelated doc; keep excludes one member of the trio, so the gated
    graph must contain exactly the one surviving pair and never touch the
    excluded id."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        neardup_pairs,
    )

    rows = [
        (1, "en", "alpha bravo charlie delta echo"),
        (2, "en", "alpha bravo charlie delta echo"),
        (3, "en", "alpha bravo charlie delta echo"),
        (4, "en", "zulu yankee xray whiskey victor"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    keep = spark.createDataFrame([(1,), (2,), (4,)], "doc_id long")
    full = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_pairs(docs).collect()
    }
    gated = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_pairs(docs.join(keep.select("doc_id"), "doc_id", "semi")).collect()
    }
    assert full == {(1, 2), (1, 3), (2, 3)}
    assert gated == {(1, 2)}
