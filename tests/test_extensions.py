"""Quality checks for the non-oracle (probabilistic / Pandas-UDF) operators:
MinHash-LSH recall vs brute force, SimHash invariants, ANN recall vs exact
top-k, lang-ID accuracy on a planted multilingual corpus, multimodal
plumbing determinism.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_minhash_lsh_matches_bruteforce(spark):
    """LSH precision is 1.0 by construction (exact verify on candidates);
    recall vs the brute-force q44 must be high at threshold 0.95 with
    8 bands x 4 rows."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q44_ngram_jaccard_neardup,
        q45_minhash_lsh_neardup,
    )

    exact = {
        (r["doc_a"], r["doc_b"]) for r in q44_ngram_jaccard_neardup(spark, SF).collect()
    }
    lsh_rows = q45_minhash_lsh_neardup(spark, SF).collect()
    lsh = {(r["doc_a"], r["doc_b"]) for r in lsh_rows}
    # precision: every LSH pair is >= threshold (they were exactly verified,
    # but q45 does not block on lang, so it may legitimately find cross-lang
    # pairs q44's lang blocking hides — only check pairs q44 could see)
    assert exact, "brute-force found no pairs; threshold miscalibrated"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9 ({len(exact)} exact pairs)"
    for r in lsh_rows:
        assert r["jaccard"] >= 0.95


def test_simhash_invariants(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q44_ngram_jaccard_neardup,
        q46_simhash_neardup,
        simhash_docs,
    )

    docs = simhash_docs(spark, SF)
    # 64-bit signatures, deterministic across runs
    sig1 = {r["doc_id"]: r["simhash"] for r in docs.collect()}
    sig2 = {r["doc_id"]: r["simhash"] for r in simhash_docs(spark, SF).collect()}
    assert sig1 == sig2
    pairs = q46_simhash_neardup(spark, SF)
    rows = pairs.collect()
    for r in rows:
        assert 0 <= r["hamming"] <= 6
        assert r["doc_a"] < r["doc_b"]
    # identical token sets (jaccard == 1.0) must have identical simhash
    j1 = q44_ngram_jaccard_neardup(spark, SF).filter(F.col("jaccard") >= 0.999999)
    ident = [(r["doc_a"], r["doc_b"]) for r in j1.collect()]
    assert ident, "no identical-token-set pairs in fixture; check threshold"
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    for a, b in ident:
        assert found.get((a, b)) == 0, f"identical sets {a},{b} not at hamming 0"


def test_ann_lsh_recall(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.similarity import (
        q48_knn_bruteforce,
        q49_knn_lsh,
    )

    exact = {}
    for r in q48_knn_bruteforce(spark, SF).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in q49_knn_lsh(spark, SF).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(approx.get(q, set()) & nbrs) / len(nbrs) for q, nbrs in exact.items()
    ]
    mean_recall = sum(recalls) / len(recalls)
    # near-orthogonal random embeddings are the worst case for LSH; the
    # multi-probe config must still find most true neighbors
    assert mean_recall >= 0.5, f"ANN mean recall {mean_recall:.3f} < 0.5"


def test_lang_id_on_planted_corpus(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        lang_id_expr,
    )

    corpus = [
        ("the cat sat on a mat and the dog is here", "en"),
        ("le chat est sur la table et le chien est un ami", "fr"),
        ("el gato y los perros es un grupo", "es"),
        ("der hund und die katze ist ein tier", "de"),
        ("我 在 这里 的 是 了", "zh"),
        ("xyzzy qwerty plugh", "und"),
    ]
    df = spark.createDataFrame(corpus, "text string, expected string")
    rows = df.select("expected", lang_id_expr("text").alias("got")).collect()
    for r in rows:
        assert r["got"] == r["expected"], f"{r['expected']} -> {r['got']}"


def test_multimodal_plumbing(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_media,
        extract_features,
        media_table,
    )

    m = media_table(spark, SF)
    # schema contract: binary content + mime + map metadata
    media_type = dict(zip(m.schema["media"].dataType.names, (f.dataType.simpleString() for f in m.schema["media"].dataType.fields)))
    assert media_type["content"] == "binary"
    assert media_type["meta"].startswith("map<string,string")

    feats = extract_features(m)
    rows = feats.collect()
    assert len(rows) == m.count()
    for r in rows[:20]:
        assert len(r["feature"]) == FEATURE_DIM
        assert 1 <= r["width"] <= 1920 and 1 <= r["height"] <= 1080
        assert r["nbytes"] > 0
    # deterministic across runs (Arrow batching must not affect results)
    again = {r["media_id"]: (r["width"], r["height"]) for r in extract_features(m).collect()}
    for r in rows:
        assert again[r["media_id"]] == (r["width"], r["height"])
    # the real decoder is an explicit stub
    with pytest.raises(NotImplementedError):
        decode_media(b"bytes", "image/png")


def test_q51_fnv_oracle_matches_fake_decode_on_boundary_payloads():
    """The q51 oracle re-derives fake_decode's FNV-1a in SQL (recursive
    CTE over hex pairs). Pin the re-derivation on the payloads the sf
    testdata never exercises: empty, 1 byte, exactly at/around the
    256-byte hash-prefix boundary, and multibyte UTF-8 — pure DuckDB vs
    pure Python, no Spark in the loop."""
    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.multimodal import (
        _Q51_SQL,
        fake_decode,
    )

    payloads = [
        "",                      # nb=0: recursion anchor only
        "a",                     # single byte
        "é世\U0001f600",  # multibyte UTF-8 (2+3+4 bytes)
        "x" * 255,               # one under the prefix boundary
        "y" * 256,               # exactly the boundary
        "z" * 300,               # bytes past 256 must not enter the hash
        "k" * 255 + "Q",         # 256 bytes: the final byte must enter the hash
    ]
    docs = [(i, f"src{i % 2}", t) for i, t in enumerate(payloads)]

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, source VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", docs)
    got = {r[0]: r[1:] for r in con.execute(_Q51_SQL).fetchall()}

    expected: dict = {}
    for doc_id, source, text in docs:
        content = text.encode("utf-8")
        d = fake_decode(content, "image/fake-" + source)
        mime = "image/fake-" + source
        n, tb, sw, sh = expected.get(mime, (0, 0, 0, 0))
        expected[mime] = (n + 1, tb + len(content), sw + d["width"], sh + d["height"])

    assert got == expected


def test_q51_oracle_preconditions_hold_in_testdata():
    """The q51 recursive-CTE oracle assumes (a) doc_id is UNIQUE — the
    fnv->base USING (doc_id) join fetches the next hex pair per key, so a
    duplicate would fan out hash states in the oracle while the Python
    path hashes each row independently — and (b) the '||' mime derivation
    NULL-propagates identically. Pin (a) on the actual driver-scale
    testdata and sanity-check (b)'s DuckDB semantics so an engine upgrade
    that changes either fails here, not as an opaque driver red."""
    import duckdb

    con = duckdb.connect()
    for sf in ("sf0.001", "sf0.01"):
        n, nd = con.execute(
            "SELECT COUNT(*), COUNT(DISTINCT doc_id) FROM "
            f"read_parquet('/root/testdata/{sf}/documents.parquet')"
        ).fetchone()
        assert n == nd, f"{sf}: doc_id not unique ({n} rows, {nd} distinct)"
    # '||' must NULL-propagate (DuckDB CONCAT would skip the NULL instead)
    assert con.execute("SELECT 'image/fake-' || NULL").fetchone()[0] is None


def test_case_mapping_engines_diverge_on_non_ascii(spark):
    """Java (Spark) implements FULL, context-sensitive Unicode case
    mapping; DuckDB implements SIMPLE per-codepoint mapping. Measured
    divergences: UPPER('ß') = 'SS' vs 'ẞ', LOWER('ΒΑΣ') = 'βας' (final
    sigma) vs 'βασ', LOWER('İ') = 'i'+combining-dot vs 'i'. Every
    LOWER()-keyed oracle (document fingerprints, q209 normalization,
    tokenize-lowercase, q20's UPPER/LOWER outputs) therefore carries an
    ASCII-text precondition, checked here on driver-scale testdata and
    flagged at session start by scripts/testdata_sniff.py. This test
    pins BOTH halves: if either engine changes its mapping (making the
    precondition moot or moving the boundary), or regenerated testdata
    starts shipping non-ASCII cased columns, it fails loudly instead of
    surfacing as an opaque driver red."""
    import duckdb

    from pyspark.sql import functions as F

    con = duckdb.connect()
    rows = spark.createDataFrame(
        [("ß",), ("ΒΑΣ",), ("İ",)], "s string"
    ).select("s", F.lower("s").alias("lo"), F.upper("s").alias("up")).collect()
    sk = {r["s"]: (r["lo"], r["up"]) for r in rows}
    assert sk["ß"][1] == "SS" and sk["ΒΑΣ"][0] == "βας"
    for s, (lo, up) in sk.items():
        dlo, dup = con.execute("SELECT LOWER(?), UPPER(?)", [s, s]).fetchone()
        assert (lo, up) != (dlo, dup), (
            f"engines now AGREE on {s!r} — the ASCII precondition may be "
            "retirable; re-probe the full divergence surface"
        )
    # the precondition itself, on EVERY sf the oracles run at — including
    # sf0.1, which only the manual sweep exercises (a regen that ships
    # non-ASCII solely in the largest corpus must still fail in-suite)
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        bad = con.execute(
            "SELECT SUM(CASE WHEN STRLEN(text) <> LENGTH(text) THEN 1 "
            "ELSE 0 END) FROM "
            f"read_parquet('/root/testdata/{sf}/documents.parquet')"
        ).fetchone()[0]
        assert not bad, f"{sf}: non-ASCII documents.text — case-mapping risk"
        bad = con.execute(
            "SELECT SUM(CASE WHEN STRLEN(p_name) <> LENGTH(p_name) "
            "THEN 1 ELSE 0 END + CASE WHEN STRLEN(p_type) <> "
            "LENGTH(p_type) THEN 1 ELSE 0 END) FROM "
            f"read_parquet('/root/testdata/{sf}/part.parquet')"
        ).fetchone()[0]
        assert not bad, f"{sf}: non-ASCII part.p_name/p_type — q20 risk"


def test_media_resize_plumbing(spark):
    """q52's oracle checks the scalar outputs; this pins the BYTES the
    oracle cannot see: payload length == the declared out_bytes, cycle
    structure, fit-math invariants, repartition-determinism, and the
    strict decode stub."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.multimodal import (
        RESIZE_MAX_H,
        RESIZE_MAX_W,
        _fit_dims,
        fake_resize,
        media_table,
        resize_media,
    )

    m = media_table(spark, SF)
    rows = resize_media(m).collect()
    assert len(rows) == m.count()
    payload_by_id = {}
    for r in rows:
        # fit inside the box, never upscaling
        assert 1 <= r["new_w"] <= min(r["orig_w"], RESIZE_MAX_W)
        assert 1 <= r["new_h"] <= min(r["orig_h"], RESIZE_MAX_H)
        assert (r["new_w"], r["new_h"]) == _fit_dims(r["orig_w"], r["orig_h"])
        payload = fake_resize(b"x" * 100, r["new_w"], r["new_h"])
        assert len(payload) == r["out_bytes"]
        payload_by_id[r["media_id"]] = (r["new_w"], r["new_h"], r["out_bytes"])

    # payload bytes: deterministic cycle of the source
    p = fake_resize(b"abc", 16, 16)
    assert len(p) == (16 * 16 * 3) // 64 + 16
    assert p == (b"abc" * (len(p) // 3 + 1))[: len(p)]

    # repartition must not change any output (Arrow batch boundaries move)
    again = {
        r["media_id"]: (r["new_w"], r["new_h"], r["out_bytes"])
        for r in resize_media(m.repartition(7)).collect()
    }
    assert again == payload_by_id

    with pytest.raises(Exception, match="NotImplementedError|codec"):
        resize_media(m, strict=True).limit(1).collect()


def test_media_verbs_exclude_unparseable_metadata(spark):
    """A missing or garbage metadata entry must EXCLUDE the asset, not
    reach pandas as NaN and kill the job inside the Python worker."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.multimodal import (
        media_without_declared_dims,
        resize_media,
        sample_frames,
        videos_without_duration,
    )

    rows = [
        (1, (b"payload-a", "image/x", {"width": "100", "height": "50"})),
        (2, (b"payload-b", "image/x", {"height": "50"})),  # no width
        (3, (b"payload-c", "image/x", {"width": "N/A", "height": "50"})),
        (4, (b"payload-d", "video/x", {"duration_ms": "3000"})),
        (5, (b"payload-e", "video/x", {"fps": "24"})),  # no duration
    ]
    df = spark.createDataFrame(
        rows,
        "media_id long, media struct<content:binary,mime:string,meta:map<string,string>>",
    )
    resized = resize_media(df).collect()
    assert [r["media_id"] for r in resized] == [1]
    frames = sample_frames(df).collect()
    assert {r["media_id"] for r in frames} == {4}
    assert len(frames) == 3  # 3000ms at 1 fps

    # the complements make the exclusion routable (decode-first fallback):
    # disjoint from the verb's output and together covering every asset
    no_dims = {r["media_id"] for r in media_without_declared_dims(df).collect()}
    assert no_dims == {2, 3, 4, 5}
    assert no_dims | {r["media_id"] for r in resized} == {1, 2, 3, 4, 5}
    no_dur = {r["media_id"] for r in videos_without_duration(df).collect()}
    assert no_dur == {1, 2, 3, 5}
    assert no_dur | {r["media_id"] for r in frames} == {1, 2, 3, 4, 5}


def test_fit_dims_properties():
    """_fit_dims over its whole domain, not just the corpus's dim
    distribution (the q52 oracle covers w in [16,1935], h in [16,1095]):
    bounds, no-upscale, identity inside the box, and aspect-ratio
    preservation within integer-floor tolerance."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from project_1_greentech_logistics_data_pipeline_spark.operators.multimodal import (
        RESIZE_MAX_H,
        RESIZE_MAX_W,
        _fit_dims,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.integers(1, 100_000), st.integers(1, 100_000))
    def check(w, h):
        nw, nh = _fit_dims(w, h)
        assert 1 <= nw <= min(w, RESIZE_MAX_W)
        assert 1 <= nh <= min(h, RESIZE_MAX_H)
        if w <= RESIZE_MAX_W and h <= RESIZE_MAX_H:
            assert (nw, nh) == (w, h)
        else:
            # the limiting axis is fully used…
            assert nw == RESIZE_MAX_W or nh == RESIZE_MAX_H
            # …and the other is the floor of the exact rescale: aspect
            # preserved within one integer step
            if nw == RESIZE_MAX_W and nh != RESIZE_MAX_H:
                assert nh == max(1, (h * RESIZE_MAX_W) // w)
            if nh == RESIZE_MAX_H and nw != RESIZE_MAX_W:
                assert nw == max(1, (w * RESIZE_MAX_H) // h)

    check()


def test_media_parquet_nested_pruning(spark, tmp_path):
    """The 100 TB property of the media column design: when the media
    table is STORED (parquet struct column — the production shape), a
    metadata-only query reads ONLY the referenced sub-fields; the opaque
    binary payload never leaves the row-group. This is what makes
    plan/filter/rollup over media metadata cheap at scale — decode-free
    AND IO-free on the payload."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.multimodal import (
        media_table,
    )
    from project_1_greentech_logistics_data_pipeline_spark.plans import explain_str

    path = str(tmp_path / "media.parquet")
    media_table(spark, SF).write.parquet(path)
    stored = spark.read.parquet(path)

    meta_only = stored.select(
        "media_id",
        F.col("media.mime").alias("mime"),
        F.col("media.meta")["width"].alias("w"),
    )
    plan = explain_str(meta_only)
    assert "ReadSchema: " in plan, plan
    # exactly the schema token — a wider slice would spill into the
    # Project node text and make the positive asserts vacuous
    schema = plan.split("ReadSchema: ", 1)[1].split()[0]
    assert schema.startswith("struct<"), schema
    assert "content" not in schema, schema  # payload pruned from the scan
    assert "mime" in schema and "meta" in schema
    assert meta_only.count() == stored.count()


def test_frame_sample_plumbing(spark):
    """Row-expanding mapInPandas contract: per-asset expansion equals the
    declared n_frames (capped), frame bytes are the deterministic 64-byte
    windows, and strict mode routes through the honest decode stub."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.multimodal import (
        FRAME_MAX_PER_ASSET,
        fake_frame,
        sample_frames,
        video_table,
    )

    v = video_table(spark, SF)
    n_assets = v.count()
    assert n_assets > 0
    frames = sample_frames(v).collect()

    by_asset: dict = {}
    for r in frames:
        by_asset.setdefault(r["media_id"], []).append(r)
    assert len(by_asset) == n_assets  # every asset yields >= 1 frame
    src = {r["media_id"]: bytes(r["media"]["content"]) for r in v.collect()}
    for mid, rows in by_asset.items():
        n = rows[0]["n_frames"]
        assert 1 <= n <= FRAME_MAX_PER_ASSET
        assert len(rows) == n
        assert sorted(r["frame_idx"] for r in rows) == list(range(n))
        for r in rows:
            assert r["frame_ts_ms"] == r["frame_idx"] * 1000
            assert len(r["frame"]) == 64
            assert bytes(r["frame"]) == fake_frame(src[mid], r["frame_idx"])

    with pytest.raises(Exception, match="NotImplementedError|codec"):
        sample_frames(v, strict=True).limit(1).collect()


def test_centroid_similarity_shape(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.similarity import (
        q49b_centroid_similarity,
    )

    rows = q49b_centroid_similarity(spark, SF).collect()
    # 10 labels -> 45 unordered pairs
    assert len(rows) == 45
    for r in rows:
        assert -1.0 <= r["centroid_cosine"] <= 1.0


def test_approx_distinct_within_rsd(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.classics import (
        q28_approx_distinct,
    )

    for r in q28_approx_distinct(spark, SF).collect():
        exact = r["exact_customers"]
        approx = r["approx_customers"]
        assert abs(approx - exact) / exact <= 0.1, (exact, approx)


def test_sample_size_and_determinism(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.classics import (
        q29_sample,
    )

    n1 = q29_sample(spark, SF).count()
    n2 = q29_sample(spark, SF).count()
    assert n1 == n2  # key-stable: same keys -> same sample, any layout
    total = 6000  # sf0.001 lineitem rows
    assert 0.05 * total <= n1 <= 0.15 * total


def test_sample_is_exactly_the_hashlib_keep_set(spark):
    """q29's kept set must equal a from-scratch Python hashlib computation
    of the md5-prefix threshold over every (l_orderkey, l_linenumber) key —
    the engine-independent differential that pins the sample as a pure
    function of the key, not of Spark's partition layout."""
    import hashlib

    from project_1_greentech_logistics_data_pipeline_spark.operators.classics import (
        _Q29_FRAC,
        _Q29_SEED,
        q29_sample,
    )
    from project_1_greentech_logistics_data_pipeline_spark.functions.deterministic import (
        frac_threshold_hex,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    thresh = frac_threshold_hex(_Q29_FRAC)
    all_keys = [
        (r["l_orderkey"], r["l_linenumber"])
        for r in load_table(spark, SF, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .collect()
    ]
    expected = {
        (ok, ln)
        for ok, ln in all_keys
        if hashlib.md5(f"{ok}:{ln}:{_Q29_SEED}".encode()).hexdigest()[:15] < thresh
    }
    got = {
        (r["l_orderkey"], r["l_linenumber"])
        for r in q29_sample(spark, SF).collect()
    }
    assert got == expected
    assert 0 < len(got) < len(all_keys)


def test_salted_join_equivalence(spark):
    """salted_join must produce exactly the plain join's result."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.skew import (
        salted_join,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    plain = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
    salted = salted_join(
        o.withColumnRenamed("o_custkey", "k"),
        c.withColumnRenamed("c_custkey", "k"),
        key="k",
        salt_buckets=8,
    ).select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_ann_ivf_recall_and_shape(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.similarity import (
        TOP_K,
        q48_knn_bruteforce,
        q74_knn_ivf,
    )

    exact = {}
    for r in q48_knn_bruteforce(spark, SF).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in q74_knn_ivf(spark, SF).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # shape: every query answered with exactly k ranked neighbors
    assert set(approx) == set(exact)
    assert all(len(v) == TOP_K for v in approx.values())
    # recall floor: random embeddings are the no-structure worst case, so
    # recall tracks coverage (nprobe/k = 25%); require clearly above chance
    recalls = [
        len(approx[q] & exact[q]) / len(exact[q]) for q in exact
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.2, f"IVF mean recall {mean_recall:.3f} < 0.2"
    # determinism: seeded quantizer -> identical reruns
    rerun = {
        (r["query_id"], r["neighbor_id"], r["rk"]) for r in q74_knn_ivf(spark, SF).collect()
    }
    first = {
        (r["query_id"], r["neighbor_id"], r["rk"])
        for r in q74_knn_ivf(spark, SF).collect()
    }
    assert rerun == first


def test_stratified_sample_proportions_and_determinism(spark):
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        STRATA_FRACTIONS,
        q79_stratified_sample,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import load_table

    totals = {
        r["lang"]: r["n"]
        for r in load_table(spark, SF, "documents").groupBy("lang").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
        ).collect()
    }
    got = {r["lang"]: r["n_sampled"] for r in q79_stratified_sample(spark, SF).collect()}
    for lang, frac in STRATA_FRACTIONS.items():
        expect = totals[lang] * frac
        assert abs(got.get(lang, 0) - expect) <= max(10, 0.5 * expect), (
            lang, got.get(lang), expect,
        )
    rerun = {r["lang"]: r["n_sampled"] for r in q79_stratified_sample(spark, SF).collect()}
    assert rerun == got  # seeded -> identical


def test_train_val_split_invariants(spark):
    from pyspark.sql import functions as F

    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        train_val_split,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import load_table

    d = load_table(spark, SF, "documents")
    train, val = train_val_split(d, "doc_id", val_fraction=0.1)
    n, nt, nv = d.count(), train.count(), val.count()
    assert nt + nv == n  # conservation
    assert train.join(val, "doc_id", "left_semi").count() == 0  # disjoint
    assert abs(nv - 0.1 * n) <= max(10, 0.06 * n)  # fraction within tolerance
    # key-stability: same rows land in val regardless of partitioning
    val_ids = {r["doc_id"] for r in val.collect()}
    _, val2 = train_val_split(d.repartition(7), "doc_id", val_fraction=0.1)
    assert {r["doc_id"] for r in val2.collect()} == val_ids


def test_approx_percentile_tolerance(spark):
    """q95: sketch estimates must land near the exact interpolated
    percentiles (1% of the group's value range at accuracy=10000)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.classics2 import (
        q95_approx_percentile,
    )

    rows = q95_approx_percentile(spark, SF).collect()
    assert rows
    for r in rows:
        for a, e in (
            (r["approx_median"], r["exact_median"]),
            (r["approx_p90"], r["exact_p90"]),
        ):
            assert abs(a - e) / max(abs(e), 1.0) <= 0.01, (r["l_returnflag"], a, e)


def test_int8_quantization_roundtrip(spark):
    """q96: codes must be in [-127, 127] and dequantized vectors must
    reconstruct the original within half a quantization step."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.similarity import (
        q96_embedding_quantize_int8,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    q = q96_embedding_quantize_int8(spark, SF).collect()
    orig = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, SF, "embeddings").collect()
    }
    assert q
    for r in q:
        # qvec is serialized (canonicalizer-safe output contract); parse back
        # to ints so the typed int8 semantics stay pinned here.
        scale, codes = r["scale"], [int(c) for c in r["qvec"].split(",")]
        emb = orig[r["vec_id"]]
        assert scale is not None and scale > 0
        assert max(abs(c) for c in codes) == 127  # max|x| maps to full range
        step = 1.0 / scale
        for c, x in zip(codes, emb):
            assert abs(c) <= 127
            assert abs(c * step - x) <= step / 2 + 1e-9


def test_binned_interval_join_equivalence(spark):
    """binned_interval_join must produce exactly the naive theta-join's
    pairs on randomized timestamps (seeded), including tolerance-boundary
    and cross-bin matches."""
    import random

    from project_1_greentech_logistics_data_pipeline_spark.operators.temporal import (
        binned_interval_join,
    )

    rng = random.Random(7)
    base = 1_700_000_000
    lrows = [(i, base + rng.randint(0, 3600)) for i in range(200)]
    rrows = [(1000 + i, base + rng.randint(0, 3600)) for i in range(200)]
    # include exact-boundary pairs (diff == tolerance) and same-instant pairs
    lrows += [(900, base + 10_000), (901, base + 20_000)]
    rrows += [(1900, base + 10_000 + 300), (1901, base + 20_000)]
    l = spark.createDataFrame(
        [(i, __import__("datetime").datetime.utcfromtimestamp(t)) for i, t in lrows],
        "l_id long, l_ts timestamp_ntz",
    )
    r = spark.createDataFrame(
        [(i, __import__("datetime").datetime.utcfromtimestamp(t)) for i, t in rrows],
        "r_id long, r_ts timestamp_ntz",
    )
    binned = {
        (row["l_id"], row["r_id"])
        for row in binned_interval_join(
            l, r, "l_ts", "r_ts", "INTERVAL 5 MINUTES"
        ).collect()
    }
    from pyspark.sql import functions as F

    naive = {
        (row["l_id"], row["r_id"])
        for row in l.crossJoin(r)
        .filter(
            (F.col("r_ts") >= F.expr("l_ts - INTERVAL 5 MINUTES"))
            & (F.col("r_ts") <= F.expr("l_ts + INTERVAL 5 MINUTES"))
        )
        .collect()
    }
    assert binned == naive
    assert (900, 1900) in binned  # boundary diff == tolerance
    assert (901, 1901) in binned  # same instant


def test_chunking_conservation(spark):
    """q102: chunks tile every document — first chunk starts at token 1,
    consecutive chunks overlap by exactly chunk-stride tokens, and the
    union of chunk tokens covers the whole document."""
    from pyspark.sql import functions as F

    from project_1_greentech_logistics_data_pipeline_spark.functions.text import (
        tokens_expr,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        _CHUNK,
        _STRIDE,
        q102_document_chunking,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    chunks = q102_document_chunking(spark, SF)
    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.size(tokens_expr("text")).alias("n_doc_tokens")
    )
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("sum_chunk_tokens"),
            F.max("chunk_id").alias("last_chunk"),
        )
        .join(docs, "doc_id")
        .collect()
    )
    assert per_doc
    for r in per_doc:
        n, k = r["n_doc_tokens"], r["n_chunks"]
        # every token covered: last chunk reaches the end
        assert _STRIDE * r["last_chunk"] + _CHUNK >= n
        # no superfluous trailing chunk (previous chunk must NOT reach the end)
        if k > 1:
            assert _STRIDE * (r["last_chunk"] - 1) + _CHUNK < n
        # overlap accounting: sum of chunk sizes == n + overlap*(k-1) capped at end
        overlap_total = r["sum_chunk_tokens"] - n
        assert 0 <= overlap_total <= (_CHUNK - _STRIDE) * max(k - 1, 0)


def test_sequence_packing_invariants(spark):
    """q103: packs partition the corpus per language; every pack except
    possibly the last stays under budget + one document (sequential packing
    bound); pack ids are dense from 0."""
    from pyspark.sql import functions as F

    from project_1_greentech_logistics_data_pipeline_spark.functions.text import (
        tokens_expr,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        _BUDGET,
        q103_sequence_packing,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    packs = q103_sequence_packing(spark, SF).collect()
    docs = (
        load_table(spark, SF, "documents")
        .select("lang", F.size(tokens_expr("text")).alias("n"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n").alias("total"),
             F.max("n").alias("max_doc"))
        .collect()
    )
    by_lang = {r["lang"]: r for r in docs}
    from collections import defaultdict

    lang_packs = defaultdict(list)
    for p in packs:
        lang_packs[p["lang"]].append(p)
    assert set(lang_packs) == set(by_lang)
    for lang, plist in lang_packs.items():
        ids = sorted(p["pack_id"] for p in plist)
        assert ids == list(range(len(ids)))  # dense from 0
        # conservation: packs partition the language's docs and tokens
        assert sum(p["n_docs"] for p in plist) == by_lang[lang]["n_docs"]
        assert sum(p["total_tokens"] for p in plist) == by_lang[lang]["total"]
        # sequential-packing bound: a pack overflows by at most one doc
        for p in plist:
            assert p["total_tokens"] < _BUDGET + by_lang[lang]["max_doc"]


def test_cli_list_and_run(capsys):
    """The __main__ CLI lists every registry query and runs one."""
    from project_1_greentech_logistics_data_pipeline_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary  [oracle]" in out
    assert "[rows-only]" in out
    assert main(["run", "not_a_query"]) == 2


def test_label_propagation_splits_bridged_cliques(spark):
    """Two 4-cliques joined by a single bridge edge: CC merges them into
    one component; LPA must resolve two communities (the bridge never
    wins a majority), with the deterministic min-label tiebreak."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.graph import (
        connected_components,
        label_propagation,
        sym_edges,
    )

    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a < b]

    edges = clique([1, 2, 3, 4]) + clique([5, 6, 7, 8]) + [(4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")

    comp = connected_components(sym_edges(df, "src", "dst"))
    assert comp.select("comp").distinct().count() == 1  # CC: one blob

    lpa = {
        r["node"]: r["community"]
        for r in label_propagation(sym_edges(df, "src", "dst")).collect()
    }
    assert set(lpa) == set(range(1, 9))
    a = {lpa[n] for n in (1, 2, 3)}
    b = {lpa[n] for n in (6, 7, 8)}
    assert len(a) == 1 and len(b) == 1 and a != b  # two communities


def test_q203_communities_refine_components(spark):
    """On the real near-dup graph: every doc labeled exactly once, and
    each LPA community must sit inside ONE connected component
    (communities refine components, never cross them)."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    qs = em.queries()
    comm = qs["q203_neardup_communities"](spark, sf)
    comps = qs["q73_neardup_clusters"](spark, sf)

    rows = comm.collect()
    assert rows, "no communities found"
    assert len({r["doc_id"] for r in rows}) == len(rows)  # one label per doc
    # community size column agrees with the actual multiplicity
    from collections import Counter

    mult = Counter(r["community_id"] for r in rows)
    assert all(mult[r["community_id"]] == r["community_size"] for r in rows)

    j = (
        comm.join(comps, "doc_id")
        .groupBy("community_id")
        .agg(F.countDistinct("cluster_id").alias("ncomp"))
        .collect()
    )
    assert all(r["ncomp"] == 1 for r in j)  # refinement


def test_label_propagation_properties_random_graphs(spark):
    """LPA invariants on random graphs (hypothesis): every node gets
    exactly one label, every label is a node id from the same component,
    and communities REFINE connected components (never span two)."""
    from hypothesis import given, settings, strategies as st

    from project_1_greentech_logistics_data_pipeline_spark.operators.graph import (
        connected_components,
        label_propagation,
        sym_edges,
    )

    edge = st.tuples(
        st.integers(min_value=0, max_value=14), st.integers(min_value=0, max_value=14)
    ).filter(lambda e: e[0] != e[1])

    @settings(max_examples=5, deadline=None)
    @given(st.lists(edge, min_size=1, max_size=25, unique=True))
    def prop(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        sym = sym_edges(df, "src", "dst")
        lpa = {r["node"]: r["community"] for r in label_propagation(sym).collect()}
        cc = {r["node"]: r["comp"] for r in connected_components(sym).collect()}
        nodes = {n for e in edges for n in e}
        assert set(lpa) == nodes  # total, exactly-once labeling
        assert set(lpa.values()) <= nodes  # labels are node ids
        for u, lab in lpa.items():
            # the label is a node of u's own component...
            assert cc[lab] == cc[u]
        # ...and a community never spans two components
        comm_to_comp = {}
        for u, lab in lpa.items():
            assert comm_to_comp.setdefault(lab, cc[u]) == cc[u]

    prop()


def test_join_size_forecast_matches_actual_join(spark):
    """q205's histogram forecast must equal the REAL join's cardinality —
    the property that makes it a forecast rather than an estimate."""
    import __spark_entry__ as em
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    row = em.queries()["q205_join_size_forecast"](spark, sf).collect()[0]
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    actual = o.join(c, o.o_custkey == c.c_custkey).count()
    assert row["join_rows"] == actual
    anti_l = o.join(c, o.o_custkey == c.c_custkey, "left_anti").count()
    anti_r = c.join(o, o.o_custkey == c.c_custkey, "left_anti").count()
    assert row["left_rows_unmatched"] == anti_l
    assert row["right_rows_unmatched"] == anti_r


def test_registry_stamp_rotation_priority(monkeypatch):
    """The driver stamps only the FIRST 50 oracle-backed registry entries,
    so ordering is load-bearing: red-latest queries must re-verify first,
    then never-stamped ones, then already-green ones STALEST stamp first
    (so the window cycles the whole oracle surface across rounds instead
    of re-stamping one cohort), with rows-only queries last."""
    from project_1_greentech_logistics_data_pipeline_spark import registry

    monkeypatch.setattr(registry, "_RED", frozenset({"q_red"}))
    monkeypatch.setattr(registry, "_GREEN", frozenset({"q_old", "q_new"}))
    monkeypatch.setattr(registry, "_LAST_ROUND", {"q_old": 1, "q_new": 4})

    names = ["q_rows_only", "q_new", "q_old", "q_never", "q_red"]
    sqls = {"q_rows_only": None}
    ranked = sorted(names, key=lambda n: registry._priority(n, sqls.get(n, "SELECT 1")))
    assert ranked == ["q_red", "q_never", "q_old", "q_new", "q_rows_only"]


def test_registry_round_parse_tolerates_odd_report_names(tmp_path, monkeypatch):
    """A CORRECTNESS file matching the glob but with no digits in its name
    must still contribute its stamps (freshness metadata degrades to round
    0; the rows must NOT be dropped with the failed int parse)."""
    import json

    from project_1_greentech_logistics_data_pipeline_spark import registry

    (tmp_path / "CORRECTNESS_rerun.json").write_text(
        json.dumps({"q_x": {"rows_match": True, "schema_match": True,
                            "hash_match": True, "err": None}})
    )
    (tmp_path / "CORRECTNESS_r07.json").write_text(
        json.dumps({"q_y": {"rows_match": True, "schema_match": True,
                            "hash_match": False, "err": None}})
    )
    # and a digitless (round-0) file must NOT override a newer round's
    # verdict just because it sorts lexicographically last: q_z is red in
    # the rerun file but green in r07 — r07 wins
    (tmp_path / "CORRECTNESS_r07.json").write_text(
        json.dumps({
            "q_y": {"rows_match": True, "schema_match": True,
                    "hash_match": False, "err": None},
            "q_z": {"rows_match": True, "schema_match": True,
                    "hash_match": True, "err": None},
        })
    )
    rerun = json.loads((tmp_path / "CORRECTNESS_rerun.json").read_text())
    rerun["q_z"] = {"rows_match": False, "schema_match": True,
                    "hash_match": False, "err": None}
    (tmp_path / "CORRECTNESS_rerun.json").write_text(json.dumps(rerun))

    monkeypatch.setattr(registry, "_REPO_ROOT", str(tmp_path))
    green, red, last = registry._stamped_names()
    assert "q_x" in green and "q_y" in red
    assert last["q_x"] == 0 and last["q_y"] == 7
    assert "q_z" not in red and "q_z" in green


def test_registry_warns_once_on_unreadable_report(tmp_path, monkeypatch):
    """An unreadable CORRECTNESS report still contributes no stamps, but
    is visible: the first one in a process emits one RuntimeWarning naming
    the file and the exception type, and readable reports still count."""
    import json
    import warnings

    from project_1_greentech_logistics_data_pipeline_spark import registry

    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r02.json").write_text("[")
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q_x": {"hash_match": True, "err": None}})
    )
    monkeypatch.setattr(registry, "_REPO_ROOT", str(tmp_path))
    monkeypatch.setattr(registry, "_report_warned", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        green, _, _ = registry._stamped_names()
    assert green == {"q_x"}
    assert len(caught) == 1 and caught[0].category is RuntimeWarning
    msg = str(caught[0].message)
    assert "CORRECTNESS_r01.json" in msg and "JSONDecodeError" in msg


def test_ns_ts_sniff_failure_warns_once(tmp_path, monkeypatch):
    """A failed timestamp-unit footer sniff still falls back to the
    declared scan, but is visible: the first failure in a process emits
    one RuntimeWarning naming the path and the exception type."""
    import warnings

    from project_1_greentech_logistics_data_pipeline_spark.sources import readers

    bad = tmp_path / "events.parquet"
    bad.write_bytes(b"not a parquet file")
    monkeypatch.setattr(readers, "_NS_TS_COLS", {})
    monkeypatch.setattr(readers, "_sniff_warned", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert readers._ns_ts_cols(str(bad), "events") == ()
        assert readers._ns_ts_cols(str(tmp_path / "orders.parquet"), "orders") == ()
    assert len(caught) == 1 and caught[0].category is RuntimeWarning
    assert str(bad) in str(caught[0].message)


def test_registry_query_rejects_duplicate_name(monkeypatch):
    """A second @query with a taken name raises when it is applied, so a
    copy-pasted decorator cannot silently replace an earlier query; the
    decorator hands back the function itself."""
    from project_1_greentech_logistics_data_pipeline_spark import registry

    monkeypatch.setattr(registry, "_QUERIES", {})

    def fn(spark, sf_dir):
        return None

    assert registry.query("q_dup", None)(fn) is fn
    with pytest.raises(ValueError, match="duplicate query name: q_dup"):
        registry.query("q_dup", "SELECT 1")(fn)


def test_registry_modules_cover_every_query_module():
    """registry.MODULES names exactly the operator modules that register
    queries: import every operators/*.py and compare, so a new query
    module cannot be left out of the driver surface."""
    import importlib
    import pkgutil

    from project_1_greentech_logistics_data_pipeline_spark import operators, registry

    for m in pkgutil.iter_modules(operators.__path__):
        importlib.import_module(f"{operators.__name__}.{m.name}")
    registering = {
        fn.__module__.rsplit(".", 1)[-1] for fn, _ in registry._QUERIES.values()
    }
    assert registering == set(registry.MODULES)
    assert len(registry.MODULES) == len(registering)


def test_md5_split_matches_independent_hashlib_implementation(spark):
    """Triple-engine check of the portable split primitive: the Spark
    assignment (and, transitively via the q79b oracle test, DuckDB's)
    must equal a from-scratch Python hashlib computation of the same
    contract — first 15 hex chars of md5('<id>:<seed>') compared against
    frac_threshold_hex. Also sanity-checks the threshold math: the kept
    fraction lands near the requested fraction."""
    import hashlib

    from project_1_greentech_logistics_data_pipeline_spark.functions.deterministic import (
        frac_threshold_hex,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        SPLIT_SEED,
        train_val_split,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    d = load_table(spark, SF, "documents").select("doc_id")
    frac = 0.25
    _, val = train_val_split(d, "doc_id", val_fraction=frac)
    spark_val = {r["doc_id"] for r in val.collect()}

    ids = [r["doc_id"] for r in d.collect()]
    thresh = frac_threshold_hex(frac)

    def key(i):  # mirror md5_prefix's NULL contract exactly
        return "__null__" if i is None else str(i)

    py_val = {
        i
        for i in ids
        if hashlib.md5(f"{key(i)}:{SPLIT_SEED}".encode()).hexdigest()[:15] < thresh
    }
    assert spark_val == py_val
    assert abs(len(py_val) - frac * len(ids)) <= max(10, 0.06 * len(ids))


def test_q206_repetition_signals_edge_cases(spark, tmp_path):
    """Pin q206's metric definitions on payloads the sf corpus never
    exercises — gram-less docs (0/1/2 tokens), a fully-repeated doc, a
    no-repetition doc — against hand-computed values, and check the
    Spark path and the DuckDB oracle agree row-for-row on exactly these
    NULL-bearing edges (the LEFT-JOIN / empty-conditional-agg contract)."""
    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        _Q206_SQL,
        q206_repetition_signals,
    )

    docs = [
        (1, "x"),                        # 1 token: no grams at all
        (2, "a b"),                      # 1 bigram, no trigram
        (3, "a b a b a b"),              # "a b" dominates; all trigrams repeat
        (4, "t0 t1 t2 t3 t4 t5"),        # all distinct: top2=1, dup3=0
        (5, None),                       # NULL text: excluded both sides
    ]

    import os
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    rows = {r["doc_id"]: r for r in q206_repetition_signals(spark, d).collect()}
    assert set(rows) == {1, 2, 3, 4}

    r1 = rows[1]
    assert (r1["n_tokens"], r1["top_bigram_count"], r1["dup_trigram_tokens"]) == (1, 0, 0)
    assert r1["top_bigram_mass"] is None and r1["dup_trigram_frac"] is None
    assert r1["flagged"] is False

    r2 = rows[2]
    assert (r2["n_tokens"], r2["top_bigram_count"]) == (2, 1)
    assert r2["top_bigram_mass"] == 1.0          # 1 bigram * 2 / 2 tokens
    # mass floor is 2/n — a single (unrepeated) bigram must NOT flag
    assert r2["dup_trigram_frac"] is None and r2["flagged"] is False

    r3 = rows[3]
    # bigrams: 'a b' x3, 'b a' x2 -> top 3; mass 3*2/6 = 1.0
    # trigrams: 'a b a' x2, 'b a b' x2 -> all 4 positions duplicated
    assert (r3["top_bigram_count"], r3["top_bigram_mass"]) == (3, 1.0)
    assert (r3["dup_trigram_tokens"], r3["dup_trigram_frac"]) == (4, 1.0)
    assert r3["flagged"] is True

    r4 = rows[4]
    assert (r4["top_bigram_count"], r4["dup_trigram_tokens"]) == (1, 0)
    assert r4["top_bigram_mass"] == 2.0 / 6.0 and r4["dup_trigram_frac"] == 0.0
    assert r4["flagged"] is False

    # oracle agreement on the same edge corpus (None-safe sort; bytes on
    # floats is the oracle suite's job — here the NULL pattern is the point)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    drows = {r[0]: r for r in con.execute(_Q206_SQL).fetchall()}
    assert set(drows) == {1, 2, 3, 4}
    for k, sr in rows.items():
        assert tuple(sr) == drows[k], (k, tuple(sr), drows[k])


def test_q207_span_dedup_edge_cases(spark, tmp_path):
    """Pin q207's keeper semantics on a hand-built corpus: cross-document
    dedup, WITHIN-document dedup, a trailing partial span deduped against
    another doc's partial span, a doc that loses every span, and NULL
    text — then check the Spark path and the DuckDB oracle agree
    row-for-row on exactly these edges."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q207_SQL,
        q207_span_dedup_reassemble,
    )

    docs = [
        (1, "a b c d e"),        # spans: 'a b c'(3), 'd e'(2) — both first
        (2, "a b c"),            # sole span dups doc1 -> keeps nothing
        (3, "a b c a b c x"),    # two in-doc copies dup doc1; 'x' survives
        (4, "d e"),              # partial span dups doc1's TRAILING span
        (5, None),               # excluded both sides
        (6, "z z z z z z"),      # within-doc dup: second 'z z z' removed
        (7, ""),                 # empty text: one '' span (split('')==[''])
        (8, "   "),              # whitespace-only: TRIMs to the same '' span
    ]
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    rows = {r["doc_id"]: r for r in q207_span_dedup_reassemble(spark, d).collect()}
    assert set(rows) == {1, 2, 3, 4, 6, 7, 8}

    def tup(r):
        return (r["n_spans"], r["n_tokens"], r["kept_spans"], r["kept_tokens"],
                r["dedup_text"])

    assert tup(rows[1]) == (2, 5, 2, 5, "a b c d e")
    assert tup(rows[2]) == (1, 3, 0, 0, "")
    assert tup(rows[3]) == (3, 7, 1, 1, "x")
    assert tup(rows[4]) == (1, 2, 0, 0, "")
    assert tup(rows[6]) == (2, 6, 1, 3, "z z z")
    # empty text yields the single span '' (1 token by split-contract);
    # doc 7 keeps it, the whitespace-only doc 8 dedups against it
    assert tup(rows[7]) == (1, 1, 1, 1, "")
    assert tup(rows[8]) == (1, 1, 0, 0, "")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    drows = {r[0]: r for r in con.execute(_Q207_SQL).fetchall()}
    assert set(drows) == {1, 2, 3, 4, 6, 7, 8}
    for k, sr in rows.items():
        assert tuple(sr) == drows[k], (k, tuple(sr), drows[k])


def test_q207_span_dedup_invariants(spark):
    """q207 on the sf corpus: the kept-span total equals the global
    distinct-span count (every distinct span survives exactly once), the
    dedup actually fires (duplicates exist at every sf — measured ~19%),
    and each reassembled text carries exactly kept_tokens tokens."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _SPAN,
        q207_span_dedup_reassemble,
    )
    from project_1_greentech_logistics_data_pipeline_spark.functions.text import (
        tokens_expr,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    out = q207_span_dedup_reassemble(spark, SF)
    agg = out.agg(
        F.sum("n_spans").alias("total"),
        F.sum("kept_spans").alias("kept"),
        # guard on kept_spans, not dedup_text != '': an empty-text doc's
        # single kept span IS '' (split('') == [''] on both engines), and
        # its dedup_text '' re-tokenizes to 1 token, matching kept_tokens=1
        F.sum(
            F.when(
                F.col("kept_spans") > 0,
                F.size(F.split(F.col("dedup_text"), " ")),
            ).otherwise(F.lit(0))
        ).alias("retok"),
        F.sum("kept_tokens").alias("kept_tok"),
    ).collect()[0]
    assert 0 < agg["kept"] < agg["total"], "span dedup never fired"
    # reassembled text re-tokenizes to exactly the kept token count
    assert agg["retok"] == agg["kept_tok"]

    # global distinct-span count == total kept spans
    d = load_table(spark, SF, "documents").filter(F.col("text").isNotNull())
    toks = tokens_expr("text")
    n_spans = F.ceil(F.size("toks") / float(_SPAN)).cast("bigint")
    sl = F.slice("toks", F.col("span_id") * _SPAN + 1, _SPAN)
    distinct_spans = (
        d.select("doc_id", toks.alias("toks"))
        .select(
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), n_spans - 1)
            ).alias("span_id"),
            "toks",
        )
        .select(F.array_join(sl, " ").alias("span_text"))
        .distinct()
        .count()
    )
    assert agg["kept"] == distinct_spans


def test_q208_line_boilerplate_edge_cases(spark, tmp_path):
    """Pin q208's filter semantics on a hand-built corpus — the three ways
    it differs from q207's keeper: a cross-document duplicated line is
    removed EVERYWHERE (no surviving first occurrence), a line repeated
    only WITHIN one document survives BOTH times (df counts distinct
    docs), and partial trailing lines participate like full ones — plus
    NULL text and the empty/whitespace twins; then check the Spark path
    and the DuckDB oracle agree row-for-row on exactly these edges."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q208_SQL,
        q208_line_boilerplate_scrub,
    )

    docs = [
        (1, "a b c d e f g h i j m n o"),  # L1 'a b c d e' (df2 w/ doc2),
        #                                    L2 'f g h i j' (df2 w/ doc8),
        #                                    L3 'm n o' partial, unique
        (2, "a b c d e"),                  # one line, boilerplate -> ''
        (3, "p q r s t p q r s t"),        # in-doc repeat, df=1 -> BOTH kept
        (4, "x y"),                        # partial line, unique -> kept
        (5, None),                         # excluded both sides
        (6, ""),                           # '' line (split('') == [''])
        (7, "   "),                        # TRIMs to the same '' line: df=2
        (8, "f g h i j"),                  # makes doc1's L2 boilerplate
    ]
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    rows = {r["doc_id"]: r for r in q208_line_boilerplate_scrub(spark, d).collect()}
    assert set(rows) == {1, 2, 3, 4, 6, 7, 8}

    def tup(r):
        return (r["n_lines"], r["n_tokens"], r["kept_lines"], r["kept_tokens"],
                r["clean_text"])

    assert tup(rows[1]) == (3, 13, 1, 3, "m n o")
    assert tup(rows[2]) == (1, 5, 0, 0, "")
    # the q207 contrast: BOTH within-doc copies survive (df=1)
    assert tup(rows[3]) == (2, 10, 2, 10, "p q r s t p q r s t")
    assert tup(rows[4]) == (1, 2, 1, 2, "x y")
    # docs 6 and 7 share the '' line (df=2): removed from BOTH — no
    # keep-first survivor, unlike q207's doc-7-keeps/doc-8-loses split
    assert tup(rows[6]) == (1, 1, 0, 0, "")
    assert tup(rows[7]) == (1, 1, 0, 0, "")
    assert tup(rows[8]) == (1, 5, 0, 0, "")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    drows = {r[0]: r for r in con.execute(_Q208_SQL).fetchall()}
    assert set(drows) == {1, 2, 3, 4, 6, 7, 8}
    for k, sr in rows.items():
        assert tuple(sr) == drows[k], (k, tuple(sr), drows[k])


def test_q208_line_boilerplate_invariants(spark):
    """q208 on the sf corpus: the scrub actually fires, each scrubbed text
    re-tokenizes to exactly kept_tokens tokens, and the global kept-line
    count equals an independently computed count of line occurrences
    whose text sits in a df < threshold group."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _BOILER_DF,
        _LINE,
        q208_line_boilerplate_scrub,
    )
    from project_1_greentech_logistics_data_pipeline_spark.functions.text import (
        tokens_expr,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    out = q208_line_boilerplate_scrub(spark, SF)
    agg = out.agg(
        F.sum("n_lines").alias("total"),
        F.sum("kept_lines").alias("kept"),
        # guard on kept_lines, not clean_text != '': an all-kept empty-text
        # doc's clean_text '' re-tokenizes to 1 token (split contract)
        F.sum(
            F.when(
                F.col("kept_lines") > 0,
                F.size(F.split(F.col("clean_text"), " ")),
            ).otherwise(F.lit(0))
        ).alias("retok"),
        F.sum("kept_tokens").alias("kept_tok"),
    ).collect()[0]
    assert 0 < agg["kept"] < agg["total"], "boilerplate scrub never fired"
    assert agg["retok"] == agg["kept_tok"]

    # independent recount: occurrences of lines whose df < threshold
    d = load_table(spark, SF, "documents").filter(F.col("text").isNotNull())
    toks = tokens_expr("text")
    n_lines = F.ceil(F.size("toks") / float(_LINE)).cast("bigint")
    sl = F.slice("toks", F.col("line_id") * _LINE + 1, _LINE)
    lines = (
        d.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), n_lines - 1)
            ).alias("line_id"),
            "toks",
        )
        .select("doc_id", F.array_join(sl, " ").alias("line_text"))
    )
    surviving = (
        lines.groupBy("line_text")
        .agg(F.countDistinct("doc_id").alias("df"), F.count("*").alias("occ"))
        .filter(F.col("df") < _BOILER_DF)
        .agg(F.sum("occ"))
        .collect()[0][0]
    )
    assert agg["kept"] == surviving


def test_q209_normalized_line_scrub_edge_cases(spark, tmp_path):
    """Pin q209's normalization semantics on a hand-built corpus — the
    ways it differs from q208's raw-text grouping: case/punctuation/digit
    variants of a boilerplate line share one norm key (caught by q209,
    invisible to q208), an all-punctuation line and an empty line collide
    on the '' key, digits collapse by RUN ('555' and '999' -> '0'), and
    raw duplicates are still caught (norm groups are supersets). Checks
    the Spark path and the DuckDB oracle agree row-for-row, and that
    kept_lines(q209) <= kept_lines(q208) on every document."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q209_SQL,
        q208_line_boilerplate_scrub,
        q209_normalized_line_scrub,
    )

    docs = [
        (1, "Call Now 555 x y z w v"),   # L1 norm 'call now 0 x y' (df2
        #                                  w/ doc2's digit/punct variant),
        #                                  L2 'z w v' partial, unique
        (2, "call now 999! x y"),        # same norm key as doc1 L1
        (3, "a b c d e p p p"),          # L1 raw-dup w/ doc4 (both engines
        #                                  catch it under BOTH queries)
        (4, "a b c d e"),
        (5, "A B, C d e"),               # norm 'a b c d e' (df3) — q209
        #                                  scrubs, q208 keeps (raw unique)
        (6, "### $$$ %%% !!! ???"),      # norm '' — collides w/ doc8
        (7, "123 456"),                  # norm '0 0', unique -> kept
        (8, ""),                         # '' line, norm '' (df2 w/ doc6)
    ]
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    rows = {r["doc_id"]: r for r in q209_normalized_line_scrub(spark, d).collect()}
    assert set(rows) == set(range(1, 9))

    def tup(r):
        return (r["n_lines"], r["n_tokens"], r["kept_lines"], r["kept_tokens"],
                r["clean_text"])

    assert tup(rows[1]) == (2, 8, 1, 3, "z w v")
    assert tup(rows[2]) == (1, 5, 0, 0, "")
    assert tup(rows[3]) == (2, 8, 1, 3, "p p p")
    assert tup(rows[4]) == (1, 5, 0, 0, "")
    assert tup(rows[5]) == (1, 5, 0, 0, "")
    assert tup(rows[6]) == (1, 5, 0, 0, "")
    assert tup(rows[7]) == (1, 2, 1, 2, "123 456")
    assert tup(rows[8]) == (1, 1, 0, 0, "")

    # the q208 contrast: raw grouping only sees docs 3/4's shared line;
    # every cosmetic variant q209 scrubbed survives q208 untouched
    r208 = {r["doc_id"]: r for r in q208_line_boilerplate_scrub(spark, d).collect()}
    assert tup(r208[1]) == (2, 8, 2, 8, "Call Now 555 x y z w v")
    assert tup(r208[5]) == (1, 5, 1, 5, "A B, C d e")
    assert tup(r208[3]) == (2, 8, 1, 3, "p p p")
    for k in rows:  # norm groups are supersets of raw groups
        assert rows[k]["kept_lines"] <= r208[k]["kept_lines"], k

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    drows = {r[0]: r for r in con.execute(_Q209_SQL).fetchall()}
    assert set(drows) == set(range(1, 9))
    for k, sr in rows.items():
        assert tuple(sr) == drows[k], (k, tuple(sr), drows[k])


def test_q209_superset_invariant_sf(spark):
    """q209 on the sf corpus: per-document kept_lines(q209) <=
    kept_lines(q208) always (norm df groups are unions of raw groups);
    and WHEN the corpus normalizes to itself (the synthetic sf corpus is
    all-lowercase, digit- and punctuation-free) the two queries must be
    row-for-row identical — asserted conditionally on that measured
    corpus property so regenerated testdata with richer text degrades
    the check, not breaks it."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _norm_line_expr,
        q208_line_boilerplate_scrub,
        q209_normalized_line_scrub,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    r209 = {r["doc_id"]: tuple(r)[1:]
            for r in q209_normalized_line_scrub(spark, SF).collect()}
    r208 = {r["doc_id"]: tuple(r)[1:]
            for r in q208_line_boilerplate_scrub(spark, SF).collect()}
    assert set(r209) == set(r208)
    for k in r209:  # (n_lines, n_tokens, kept_lines, kept_tokens, text)
        assert r209[k][2] <= r208[k][2], k
        assert r209[k][:2] == r208[k][:2], k  # totals are filter-independent

    norm_is_identity = (
        load_table(spark, SF, "documents")
        .filter(F.col("text").isNotNull())
        .filter(_norm_line_expr(F.col("text")) != F.trim(F.col("text")))
        .limit(1)
        .count()
    ) == 0
    if norm_is_identity:
        assert r209 == r208


def test_q210_curation_pipeline_edge_cases(spark, tmp_path):
    """Pin q210's three-stage semantics on a hand-built corpus where every
    stage fires: an exact-duplicate document and a whitespace-variant
    (same normalized fingerprint) are dropped at stage 1 and contribute
    NOTHING downstream (the boilerplate df counts survivors only); a
    df=2 line among survivors is scrubbed from both; stage-3 spans are
    windowed over the POST-scrub sequence (one test span crosses an old
    line boundary) and keep-first runs globally across survivors. Then
    check the Spark path and the DuckDB oracle agree row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q210_SQL,
        q210_curation_pipeline,
    )

    docs = [
        (1, "w1 w2 w3 w4 w5 u1 u2 u3"),    # L1 boiler (df2 w/ doc3),
        #                                    L2 'u1 u2 u3' kept; span
        #                                    'u1 u2 u3' is the global first
        (2, "w1 w2 w3 w4 w5 u1 u2 u3"),    # exact dup of doc1 -> stage-1 drop
        (3, "w1 w2 w3 w4 w5 z1 z2 z3"),    # L1 boiler, L2 unique
        (4, "u1 u2 u3 q1 q2 r1 r2 r3"),    # no boiler lines; span 1
        #                                    'u1 u2 u3' lost to doc1,
        #                                    'q1 q2 r1' crosses the old
        #                                    L1/L2 boundary, kept
        (5, " w1  w2 w3 w4 w5 u1 u2 u3 "), # whitespace variant: same
        #                                    FINGERPRINT as doc1 -> dropped
        (6, None),                          # excluded everywhere
        (7, ""),                            # '' doc: 1 token, unique fp
        (8, "\tu1 u2 u3 q1 q2 r1 r2 r3"),  # tab-led: trim keeps the tab,
        #                                    so token 0 is '' (9 tokens) —
        #                                    pins the review-caught oracle
        #                                    bug where a TRIM in the
        #                                    re-split CTE dropped it
        (9, "zz yy\t"),                     # tab-trailed: trailing '' token
    ]
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    rows = {r["doc_id"]: r for r in q210_curation_pipeline(spark, d).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 7, 8, 9}

    def tup(r):
        return (r["n_tokens"], r["kept_exact"], r["scrub_kept_tokens"],
                r["span_kept_tokens"])

    assert tup(rows[1]) == (8, 1, 3, 3)
    assert tup(rows[2]) == (8, 0, 0, 0)
    assert tup(rows[3]) == (8, 1, 3, 3)
    assert tup(rows[4]) == (8, 1, 8, 5)
    assert tup(rows[5]) == (8, 0, 0, 0)
    assert tup(rows[7]) == (1, 1, 1, 1)
    # the '' token rides through every stage: doc8's spans (' u1 u2',
    # 'u3 q1 q2', 'r1 r2 r3') collide with nothing (doc4's windows are
    # offset by the leading ''), doc9's single span is 'zz yy '
    assert tup(rows[8]) == (9, 1, 9, 9)
    assert tup(rows[9]) == (3, 1, 3, 3)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    drows = {r[0]: r for r in con.execute(_Q210_SQL).fetchall()}
    assert set(drows) == {1, 2, 3, 4, 5, 7, 8, 9}
    for k, sr in rows.items():
        assert tuple(sr) == drows[k], (k, tuple(sr), drows[k])


def test_whitespace_class_cross_engine_vertical_tab(spark, tmp_path):
    """Vertical tab (\\x0B) is the ONE ASCII character Java's regex \\s
    (Spark) matches but RE2's \\s (DuckDB) does not — every oracle
    therefore spells whitespace out as [\\s\\x0b]. Review-caught repro,
    pinned on both engines: before the class swap, docs 'a b' and
    'a\\x0bb' shared a fingerprint on Spark (collapse folds the \\x0B) but
    not on DuckDB, so q210 made DIFFERENT dedup decisions per engine.
    q210 crosses the class in every stage (tokenize, fingerprint, scrub,
    span); q43 additionally OUTPUTS the fingerprint md5, so a
    normalization split surfaces as a value mismatch, not a count skew."""
    import os
    import re

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.functions.text import (
        DOC_NORM_SQL,
        DOC_TOKENS_SQL,
        WS_CLASS_PY,
        doc_norm_expr,
        doc_tokens,
        tokens_expr,
        tokens_sql,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q43_SQL,
        _Q210_SQL,
        q43_dedup_exact_docs,
        q210_curation_pipeline,
    )

    docs = [
        (1, "a b"),
        (2, "a\x0bb"),        # \x0B-separated: 2 tokens, SAME fp as doc1
        (3, "\x0ba b"),       # \x0B-led: trim strips spaces only, so the
        #                       collapsed form keeps a leading ' ' — a
        #                       distinct fp and a leading '' token
        (4, "a \x0b b x y z"),  # mixed-run whitespace mid-text
    ]
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    rows = {r["doc_id"]: tuple(r) for r in q210_curation_pipeline(spark, d).collect()}
    assert rows[1][1:] == (2, 1, 2, 2)
    assert rows[2][1:] == (2, 0, 0, 0)  # the repro: dup of doc1, dropped
    assert rows[4][1] == 5  # ' \x0b ' is ONE whitespace run on both engines

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    drows = {r[0]: r for r in con.execute(_Q210_SQL).fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert sr == drows[k], (k, sr, drows[k])

    sfp = sorted(tuple(r) for r in q43_dedup_exact_docs(spark, d).collect())
    dfp = sorted(tuple(r) for r in con.execute(_Q43_SQL).fetchall())
    assert sfp == dfp  # fingerprint hex itself agrees, not just row counts

    # The text kit's twins, directly, on this corpus plus q90's edge docs
    # (tab-led, \x0B-led, space-led, NBSP, empty): tokens_expr ⟷
    # tokens_sql, doc_norm_expr ⟷ DOC_NORM_SQL, doc_tokens ⟷
    # DOC_TOKENS_SQL, and the split q90's Python UDTF runs against both.
    edge = [(11, "\ta b"), (12, "\x0bx y"), (13, " z q"), (14, "a\u00a0b c"), (15, "")]
    twins = docs + edge
    s_tw = {
        r[0]: (list(r[1]), r[2])
        for r in spark.createDataFrame(twins, "doc_id long, text string")
        .select("doc_id", tokens_expr("text"), doc_norm_expr())
        .collect()
    }
    con.execute("CREATE TABLE twins (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO twins VALUES (?, ?)", twins)
    d_tw = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {tokens_sql('text')}, {DOC_NORM_SQL} FROM twins"
        ).fetchall()
    }
    assert s_tw == d_tw
    assert s_tw[11][0] == ["", "a", "b"] and s_tw[14][0] == ["a\u00a0b", "c"]
    for k, text in twins:
        assert re.split(f"[{WS_CLASS_PY}]+", text.strip(" ")) == s_tw[k][0], k
    stoks = sorted(tuple(r) for r in doc_tokens(spark.read.parquet(
        os.path.join(d, "documents.parquet"))).collect())
    assert stoks == sorted(con.execute(DOC_TOKENS_SQL).fetchall())


def test_sessionize_gap_is_exact_interval(spark, tmp_path):
    """A session breaks on a gap LONGER than 30 minutes, compared as an
    exact interval on both engines. Gaps of 1799.5 s and 1800.0 s keep one
    session; 1800.5 s starts a second. Comparing floor-truncated epoch
    seconds (1800 vs 1800) would keep that pair in one session on the
    Spark side only."""
    import datetime as dt
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from project_1_greentech_logistics_data_pipeline_spark.operators.temporal import (
        _Q33_SQL,
        q33_sessionize,
    )

    t0 = dt.datetime(2024, 1, 1)
    gaps = {1: 1799.5, 2: 1800.0, 3: 1800.5}
    rows = [(u, t) for u, g in gaps.items() for t in (t0, t0 + dt.timedelta(seconds=g))]
    path = os.path.join(str(tmp_path), "events.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([t for _, t in rows], pa.timestamp("us")),
            "user_id": pa.array([u for u, _ in rows], pa.int64()),
            "event_type": ["view"] * len(rows),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }),
        path,
    )

    srows = sorted(tuple(r) for r in q33_sessionize(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    drows = sorted(tuple(r) for r in con.execute(_Q33_SQL).fetchall())
    assert srows == drows, (srows, drows)
    n_sessions = {u: sum(r[0] == u for r in srows) for u in gaps}
    assert n_sessions == {1: 1, 2: 1, 3: 2}


def test_q90_udtf_tokenization_mirrors_oracle_on_edged_docs(spark, tmp_path):
    """q90's Python UDTF declares it mirrors q27's split(trim(text), \\s+)
    exactly. Review-caught divergence, pinned here: Python str.strip()
    eats tabs/newlines/Unicode whitespace where Spark trim strips ASCII
    spaces ONLY (so the UDTF dropped the edge-empty token the oracle
    keeps on tab-led docs), and Python re's \\s is Unicode-aware where
    Java's is ASCII (so NBSP-joined tokens split UDTF-side only). The
    UDTF now strips spaces only and splits on the explicit Java-\\s ASCII
    class; this corpus exercises every divergent shape."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.classics2 import (
        _Q90_SQL,
        q90_udtf_leading_tokens,
    )

    docs = [
        (1, "\ta b", "en", "s", 0),       # tab-led: token 1 is ''
        (2, "\x0bx y", "en", "s", 0),     # vertical-tab-led: same
        (3, " z q", "en", "s", 0),        # space-led: trim eats it, no ''
        (4, "a\u00a0b c", "en", "s", 0),  # NBSP is NOT whitespace to Java
        #                                   or RE2: the NBSP pair is ONE token
        (5, "", "en", "s", 0),            # '' doc: one '' token
        (6, None, "en", "s", 0),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    srows = sorted(tuple(r) for r in q90_udtf_leading_tokens(spark, d).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    drows = sorted(tuple(r) for r in con.execute(_Q90_SQL).fetchall())
    assert srows == drows, (srows, drows)
    counts = dict(srows)
    assert counts[""] == 3  # docs 1, 2, 5 — the edge-empty leading token
    assert counts["a\u00a0b"] == 1  # NBSP survives as part of one token


def test_q210_stage_consistency_sf(spark):
    """q210 on the sf corpus: per-document monotonicity (span <= scrub <=
    n_tokens, zeros after a stage-1 drop), and WHEN the corpus has no
    exact-duplicate documents (true at sf0.001/sf0.01; asserted
    conditionally so richer regenerated testdata degrades the check) the
    scrub stage must match standalone q208's kept_tokens exactly — the
    pipeline's stage 2 over an undiminished survivor set IS q208."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q208_line_boilerplate_scrub,
        q210_curation_pipeline,
    )

    led = {r["doc_id"]: tuple(r)[1:]
           for r in q210_curation_pipeline(spark, SF).collect()}
    # (n_tokens, kept_exact, scrub_kept_tokens, span_kept_tokens)
    for k, v in led.items():
        if v[1] == 0:
            assert v[2] == 0 and v[3] == 0, (k, v)
        else:
            assert v[3] <= v[2] <= v[0], (k, v)
    assert any(v[3] < v[2] for v in led.values()), "span stage never fired"
    assert any(v[2] < v[0] for v in led.values() if v[1] == 1), (
        "scrub stage never fired"
    )

    if all(v[1] == 1 for v in led.values()):
        kept208 = {r["doc_id"]: r["kept_tokens"]
                   for r in q208_line_boilerplate_scrub(spark, SF).collect()}
        for k, v in led.items():
            assert v[2] == kept208[k], (k, v[2], kept208[k])


@pytest.mark.parametrize("width", [1, 3, 5, 7])
def test_doc_unit_fanout_roundtrip_identity(spark, width):
    """The shared fan-out/reassembly machinery under q207/q208 is a
    PARTITION of each document: reassembling ALL units (no keeper filter)
    must reproduce the whitespace-normalized original text exactly, the
    unit-length sum must equal the token count, and the unit count must
    equal ceil(tokens/width) — for every width, including width=1 and a
    width that does not divide typical doc lengths."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _doc_unit_fanout,
        _reassemble_kept,
    )
    from project_1_greentech_logistics_data_pipeline_spark.functions.text import (
        tokens_expr,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    units, totals = _doc_unit_fanout(spark, SF, width, "u")
    rebuilt = _reassemble_kept(units, "u", "rebuilt_text")
    joined = totals.join(rebuilt, "doc_id", "inner")
    orig = (
        load_table(spark, SF, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.array_join(tokens_expr("text"), " ").alias("norm_text"))
    )
    chk = (
        joined.join(orig, "doc_id")
        .select(
            F.sum(
                F.when(F.col("rebuilt_text") != F.col("norm_text"), 1).otherwise(0)
            ).alias("text_mismatch"),
            F.sum(
                F.when(F.col("kept_tokens") != F.col("n_tokens"), 1).otherwise(0)
            ).alias("len_mismatch"),
            F.sum(
                F.when(F.col("kept_units") != F.col("n_units"), 1).otherwise(0)
            ).alias("count_mismatch"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    assert chk["n"] > 0
    assert chk["text_mismatch"] == 0
    assert chk["len_mismatch"] == 0
    assert chk["count_mismatch"] == 0


def test_scrub_and_rep_sql_generators_pin():
    """The r9 oracle-SQL factorings must not move the pre-existing oracle
    strings by a single byte (driver hashes would silently re-baseline):
    _Q208_SQL is now generated by _scrub_sql(...), _Q206_SQL/_Q212_SQL by
    _REP_CTES/_Q212_CTES concatenation, and _Q210_SQL embeds the shared
    _curation_chain_sql chain — pin all four to the sha256 of the
    pre-factoring literals (q208/q206 are the r8 strings; q210's r8
    string is unchanged by the chain factoring; q212's is its r9
    introduction string, now load-bearing because q213's oracle builds
    on the same CTE stack)."""
    import hashlib

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _LINE,
        _Q208_SQL,
        _Q210_SQL,
        _scrub_sql,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        _Q206_SQL,
        _Q212_SQL,
    )

    assert _Q208_SQL == _scrub_sql(_LINE, "line", "n_lines", "kept_lines")
    assert (
        hashlib.sha256(_Q208_SQL.encode()).hexdigest()
        == "732a58dd6c01edfa72f294aea77d6880f9c27f8ddad674053d924d42064e4099"
    )
    assert (
        hashlib.sha256(_Q206_SQL.encode()).hexdigest()
        == "1eadb81746bddf980925595aae83ec414ceed3d315a455b1949372dfe727f557"
    )
    assert (
        hashlib.sha256(_Q210_SQL.encode()).hexdigest()
        == "7d75fb022c0dbfebee4d124a563a9d97e49e3a21bb3368f21f6a26b9e8254243"
    )
    assert (
        hashlib.sha256(_Q212_SQL.encode()).hexdigest()
        == "77d0db5289434ed1bf335f628ad84193deb7e5d1487b1d60d662c1cda8f9d035"
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q213_SQL,
    )

    # q213's glue CTEs (qkeep/docs/keep_ids/base1 + the final SELECT) are
    # literal text the q210/q212 pins do not transitively protect
    assert (
        hashlib.sha256(_Q213_SQL.encode()).hexdigest()
        == "9929aaeed9464aba9689f477b2766f40598002e1b86b24c4bc6ace053091c17b"
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q214_SQL,
    )

    # q214's glue (the RECURSIVE arm, the pair/closure CTEs, the final
    # SELECT) is likewise literal text; its r10 introduction string
    assert (
        hashlib.sha256(_Q214_SQL.encode()).hexdigest()
        == "11edcd8ad058dd0900956c94a3845b39f2ffbd3d1596e8854638151e0837b79d"
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q217_SQL,
    )

    # q217's glue (the rdocs redaction CTE + the q214-shaped closure
    # chain over it); its r11 introduction string
    assert (
        hashlib.sha256(_Q217_SQL.encode()).hexdigest()
        == "b679c5266c775f4a82c9f5835ede27e17fab10631f1673e1ca15cdd8d2b4440c"
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q73_SQL,
        _Q78_SQL,
        _Q187_SQL,
        _Q218_SQL,
    )

    # q73/q78/q187 are generated from the shared token-set and closure
    # CTEs, q218 from the shared curation chain, verdict and ledger
    # generators; each pinned to its pre-generator literal
    for sql, digest in (
        (_Q73_SQL, "5df417d555e956f9036e8ddaad5b54e4eb36ccfd2b482a3e13b9fb2f26799e24"),
        (_Q78_SQL, "2a72f5954d2c64c27020bd885179a4f9934a56efc004db89ee7836b29ecad79f"),
        (_Q187_SQL, "5fa232f8bf164a4cb7027c1bde66c94f2dd44170d0af15698d9ff729559b6ce8"),
        (_Q218_SQL, "56a73ef47e6e6742fe1bbb09132d36223a6af6a915b4ec18cd91132dbf940690"),
    ):
        assert hashlib.sha256(sql.encode()).hexdigest() == digest


def test_q211_paragraph_scrub_edge_cases(spark, tmp_path):
    """Pin q211's paragraph semantics on a hand-built corpus — the ways it
    differs from q208's line granularity: a 20-token paragraph duplicated
    across two documents is scrubbed from both (and its four aligned
    5-token lines are ALSO q208-scrubbed — the containment direction), a
    duplicated 5-token line inside otherwise-unique paragraphs is removed
    by q208 but SURVIVES q211 (the precision direction), and a short
    trailing paragraph duplicated across docs is caught. Checks the Spark
    path and the DuckDB oracle agree row-for-row and the per-doc
    kept_tokens(q208) <= kept_tokens(q211) invariant."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q211_SQL,
        q208_line_boilerplate_scrub,
        q211_paragraph_boilerplate_scrub,
    )

    para = " ".join(f"p{i}" for i in range(20))  # the shared 20-token paragraph
    boiler_line = "menu home about contact login"  # 5 tokens, df2
    tail7 = "t0 t1 t2 t3 t4 t5 t6"  # short trailing paragraph, df2
    docs = [
        # docs 1/2 share the full paragraph (at different paragraph
        # indexes: doc2 prepends 20 unique tokens, keeping alignment)
        (1, para + " u0 u1 u2 u3 u4 u5 u6 u7 u8 u9 ua ub uc ud ue uf ug uh ui uj"),
        (2, " ".join(f"v{i}" for i in range(20)) + " " + para),
        # docs 3/4 share only a LINE (tokens 0-4), their paragraphs differ
        (3, boiler_line + " w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc wd we"),
        (4, boiler_line + " x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 xa xb xc xd xe"),
        # docs 5/6 share a short (7-token) trailing paragraph
        (5, " ".join(f"y{i}" for i in range(20)) + " " + tail7),
        (6, " ".join(f"z{i}" for i in range(20)) + " " + tail7),
        (7, "solo a b c"),  # nothing shared, nothing scrubbed
    ]
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    r211 = {r["doc_id"]: r for r in q211_paragraph_boilerplate_scrub(spark, d).collect()}
    r208 = {r["doc_id"]: r for r in q208_line_boilerplate_scrub(spark, d).collect()}
    assert set(r211) == set(range(1, 8))

    def tup(r, n_alias, k_alias):
        return (r[n_alias], r["n_tokens"], r[k_alias], r["kept_tokens"], r["clean_text"])

    # shared paragraph: both docs lose it under q211 AND its aligned lines
    # under q208 (containment: every q211-removed token is q208-removed)
    assert tup(r211[1], "n_paras", "kept_paras")[:4] == (2, 40, 1, 20)
    assert r211[1]["clean_text"].startswith("u0 ")
    assert tup(r211[2], "n_paras", "kept_paras")[:4] == (2, 40, 1, 20)
    assert r208[1]["kept_tokens"] == 20 and r208[2]["kept_tokens"] == 20
    # shared line inside unique paragraphs: q208 scrubs it, q211 keeps all
    assert tup(r211[3], "n_paras", "kept_paras") == (1, 20, 1, 20, docs[2][1])
    assert r208[3]["kept_tokens"] == 15  # the 5-token boiler line removed
    # short trailing duplicated paragraph: caught at paragraph granularity
    assert tup(r211[5], "n_paras", "kept_paras")[:4] == (2, 27, 1, 20)
    assert r211[5]["clean_text"] == " ".join(f"y{i}" for i in range(20))
    assert tup(r211[7], "n_paras", "kept_paras") == (1, 4, 1, 4, "solo a b c")
    # per-doc containment invariant
    for k in r211:
        assert r208[k]["kept_tokens"] <= r211[k]["kept_tokens"], k
        assert r208[k]["n_tokens"] == r211[k]["n_tokens"], k

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    drows = {r[0]: r for r in con.execute(_Q211_SQL).fetchall()}
    assert set(drows) == set(range(1, 8))
    for k, sr in r211.items():
        assert tuple(sr) == drows[k], (k, tuple(sr), drows[k])


def test_q211_containment_invariant_sf(spark):
    """q211 on the sf corpus: per-document kept_tokens(q208) <=
    kept_tokens(q211) always (every scrubbed paragraph's aligned lines are
    q208-scrubbed because _PARA = 4 * _LINE and both window families align
    at token 0 — see the q211 block comment's proof sketch), totals agree,
    and the paragraph scrub actually FIRES on real data (the corpus has
    exact-duplicate documents, which share every paragraph)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _LINE,
        _PARA,
        q208_line_boilerplate_scrub,
        q211_paragraph_boilerplate_scrub,
    )

    assert _PARA % _LINE == 0  # the invariant's alignment precondition
    r211 = {r["doc_id"]: r for r in q211_paragraph_boilerplate_scrub(spark, SF).collect()}
    r208 = {r["doc_id"]: r for r in q208_line_boilerplate_scrub(spark, SF).collect()}
    assert set(r211) == set(r208) and len(r211) > 0
    for k in r211:
        assert r208[k]["kept_tokens"] <= r211[k]["kept_tokens"], k
        assert r208[k]["n_tokens"] == r211[k]["n_tokens"], k
    assert any(r["kept_paras"] < r["n_paras"] for r in r211.values())


def test_q212_gopher_filter_edge_cases(spark, tmp_path):
    """Pin q212's five Gopher rules on a hand-built corpus where EVERY
    rule fails at least once (the sf corpus only exercises stopwords and
    repetition): too-short doc, mean-word-length out of range both ways,
    digit-heavy doc failing the alpha fraction, stopword-free doc, and a
    repetitive doc tripping each repetition arm — including the n >= 3
    guard case the integer rewrite must get right (a 1-token doc must NOT
    fail the trigram arm via 0 > 3*(n-2)). Checks Spark and the DuckDB
    oracle agree row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        _Q212_SQL,
        q212_gopher_quality_filter,
    )

    stop_pad = "the a of and is the a of and is"  # 10 stopword tokens
    docs = [
        # all rules pass: 12 tokens, mean len 4.25, all-alpha, 2 stopword
        # occurrences, every bigram/trigram distinct (stop_pad would trip
        # the repetition rule — its 5-gram repeats)
        (1, "the quick brown fox jumps over a lazy dog tonight with friends"),
        (2, "too short"),                                   # fails length (n=2)
        (3, stop_pad + " xx yy zz qq ww"),                  # mean len 2.4 < 3 -> fails word_len
        # mean len (2*2 + 21*10)/12 = 17.8 > 10 -> fails word_len
        (4, "the a " + " ".join(["incomprehensibilities"] * 10)),
        (5, stop_pad + " 11 22 33 44 55 66 77 88 99 00"),   # alpha 10/20 -> fails alpha
        (6, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # no stopwords
        (7, stop_pad + " " + " ".join(["dup word"] * 10)),  # top bigram 'word dup'/'dup word' mass > 0.2
        (8, stop_pad + " " + " ".join(["x y z"] * 8)),      # dup trigrams > 0.3
        (9, "one"),                                         # n=1: trigram arm must not fire
        (10, None),                                         # NULL text: excluded
    ]
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    rows = {r["doc_id"]: r.asDict() for r in q212_gopher_quality_filter(spark, d).collect()}
    assert set(rows) == set(range(1, 10))  # NULL doc excluded

    assert rows[1]["kept"] is True and all(
        rows[1][c] for c in ("pass_length", "pass_word_len", "pass_alpha",
                             "pass_stopwords", "pass_repetition")
    )
    assert rows[2]["pass_length"] is False and rows[2]["kept"] is False
    assert rows[3]["pass_word_len"] is False and rows[3]["pass_length"] is True
    assert rows[4]["pass_word_len"] is False
    # doc5: 10 alpha of 20 tokens -> 5*10 < 4*20
    assert rows[5]["pass_alpha"] is False and rows[5]["alpha_tokens"] == 10
    assert rows[6]["pass_stopwords"] is False and rows[6]["stopword_tokens"] == 0
    assert rows[7]["pass_repetition"] is False  # bigram arm
    assert rows[8]["pass_repetition"] is False  # trigram arm
    assert rows[8]["dup_trigram_tokens"] > 0
    # the n >= 3 guard: 1-token doc passes repetition (both arms silent)
    assert rows[9]["pass_repetition"] is True and rows[9]["pass_length"] is False

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q212_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert sr == drows[k], (k, sr, drows[k])


def test_q212_consistency_with_q206_sf(spark):
    """q212 on the sf corpus must agree with q206 wherever they measure the
    same thing: pass_repetition == NOT q206.flagged per document (the
    integer rewrite of the float thresholds is exact, not approximate),
    and the integer signal columns match q206's."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q206_repetition_signals,
        q212_gopher_quality_filter,
    )

    r212 = {r["doc_id"]: r for r in q212_gopher_quality_filter(spark, SF).collect()}
    r206 = {r["doc_id"]: r for r in q206_repetition_signals(spark, SF).collect()}
    assert set(r212) == set(r206) and len(r212) > 0
    for k in r212:
        assert r212[k]["pass_repetition"] == (not r206[k]["flagged"]), k
        assert r212[k]["top_bigram_count"] == r206[k]["top_bigram_count"], k
        assert r212[k]["dup_trigram_tokens"] == r206[k]["dup_trigram_tokens"], k
        assert r212[k]["n_tokens"] == r206[k]["n_tokens"], k
    # the filter fires on real data (some docs dropped, some kept)
    kepts = {r["kept"] for r in r212.values()}
    assert kepts == {True, False}


def test_q213_filter_first_changes_dedup_keeper(spark, tmp_path):
    """Pin q213's load-bearing stage order on a hand corpus: a duplicate
    pair sharing one FINGERPRINT (lower+whitespace-collapse) where the
    lower-doc_id copy FAILS the quality gate (capitalized stopwords — the
    stopword rule is case-sensitive) and the higher-doc_id copy passes.
    Filter-first means the passing copy survives dedup (q210, with no
    gate, keeps the lower copy and drops the passing one). Also checks
    Spark vs the DuckDB oracle row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q213_SQL,
        q210_curation_pipeline,
        q213_filtered_curation_pipeline,
    )

    up = "The Quick Brown Fox Jumps Over A Lazy Dog Tonight With Friends"
    lo = up.lower()
    docs = [
        (1, up),   # same fingerprint as doc 2; fails pass_stopwords ('The'/'A')
        (2, lo),   # passes every rule; must WIN dedup under q213
        (3, "the tall green tree stands near a quiet river bank today"),
        (4, "too short"),  # fails length -> contributes nothing downstream
        (5, None),         # NULL text: excluded entirely
    ]
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    r213 = {r["doc_id"]: r.asDict() for r in q213_filtered_curation_pipeline(spark, d).collect()}
    assert set(r213) == {1, 2, 3, 4}
    assert r213[1]["kept_quality"] == 0 and r213[1]["kept_exact"] == 0
    assert r213[1]["scrub_kept_tokens"] == 0 and r213[1]["span_kept_tokens"] == 0
    # the passing copy wins dedup under filter-first
    assert r213[2]["kept_quality"] == 1 and r213[2]["kept_exact"] == 1
    assert r213[2]["scrub_kept_tokens"] == 12
    assert r213[3]["kept_quality"] == 1 and r213[3]["kept_exact"] == 1
    assert r213[4]["kept_quality"] == 0 and r213[4]["scrub_kept_tokens"] == 0

    # contrast: q210 (no gate) gives the pair's keeper slot to doc 1
    r210 = {r["doc_id"]: r.asDict() for r in q210_curation_pipeline(spark, d).collect()}
    assert r210[1]["kept_exact"] == 1 and r210[2]["kept_exact"] == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q213_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(r213)
    for k, sr in r213.items():
        assert sr == drows[k], (k, sr, drows[k])


def test_q213_equals_q210_when_gate_is_vacuous(spark, tmp_path):
    """Equivalence pin: on a corpus where EVERY document passes the
    quality gate, q213's stage columns must equal q210's ledger exactly
    (the filter stage is the only difference between the two
    compositions). The corpus exercises every downstream stage: an exact
    duplicate pair, a df=2 boilerplate line among survivors, and a
    repeated 3-token span."""
    import os

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q210_curation_pipeline,
        q213_filtered_curation_pipeline,
    )

    boiler = "the menu home about contact"  # 5-token line w/ stopword
    docs = [
        (1, boiler + " a quality document with plenty real content here today"),
        (2, boiler + " a different second document body with more words here"),
        (3, "the third document is a plain unique body of twelve words"),
        (4, "the third document is a plain unique body of twelve words"),  # exact dup
    ]
    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))

    r213 = {r["doc_id"]: r.asDict() for r in q213_filtered_curation_pipeline(spark, d).collect()}
    r210 = {r["doc_id"]: r.asDict() for r in q210_curation_pipeline(spark, d).collect()}
    assert set(r213) == set(r210) == {1, 2, 3, 4}
    assert all(v["kept_quality"] == 1 for v in r213.values())
    for k in r213:
        for col in ("n_tokens", "kept_exact", "scrub_kept_tokens", "span_kept_tokens"):
            assert r213[k][col] == r210[k][col], (k, col)
    # sanity: the stages actually fired
    assert r213[4]["kept_exact"] == 0          # dup dropped
    assert r213[1]["scrub_kept_tokens"] < r213[1]["n_tokens"]  # boiler scrubbed


def test_q213_consistency_with_q212_sf(spark):
    """q213 on the sf corpus: kept_quality must equal q212's kept verdict
    per document (single definition of the gate), n_tokens must match,
    kept_exact implies kept_quality, and stage monotonicity holds
    (span <= scrub <= n_tokens; dropped docs are all-zero)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q213_filtered_curation_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q212_gopher_quality_filter,
    )

    r213 = {r["doc_id"]: r.asDict() for r in q213_filtered_curation_pipeline(spark, SF).collect()}
    r212 = {r["doc_id"]: r.asDict() for r in q212_gopher_quality_filter(spark, SF).collect()}
    assert set(r213) == set(r212) and len(r213) > 0
    for k, v in r213.items():
        assert v["kept_quality"] == int(r212[k]["kept"]), k
        assert v["n_tokens"] == r212[k]["n_tokens"], k
        assert v["kept_exact"] <= v["kept_quality"], k
        assert v["span_kept_tokens"] <= v["scrub_kept_tokens"] <= v["n_tokens"], k
        if v["kept_quality"] == 0:
            assert v["kept_exact"] == v["scrub_kept_tokens"] == v["span_kept_tokens"] == 0, k
    # the gate fires on real data
    assert any(v["kept_quality"] == 0 for v in r213.values())


def _write_docs(spark, tmp_path, docs):
    """Hand corpus helper for the q214 pins: (doc_id, lang, text) rows —
    lang is load-bearing here (the fuzzy pair graph blocks within lang),
    unlike the q210/q213 corpora."""
    import os

    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, lang string, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    return d


def test_q214_fuzzy_stage_decision_pins(spark, tmp_path):
    """Pin q214's load-bearing stage decisions on a hand corpus:

    (a) filter-first gates the PAIR GRAPH — a near-duplicate pair whose
        low-doc_id copy fails quality (identical token SET, so Jaccard is
        1.0, but a repeated bigram trips the repetition rule) must leave
        the passing copy un-clustered and kept (an unfiltered pair graph
        would let the junk copy win the cluster argmin and evict it);
    (b) a same-lang near-dup pair both passing quality: the higher doc_id
        is dropped AT THE FUZZY STAGE (kept_fuzzy=0, attribution moves
        off kept_exact);
    (c) identical text under TWO lang labels is invisible to the
        within-lang fuzzy stage (both kept_fuzzy=1) and caught by the
        global exact fingerprint argmin (higher copy kept_exact=0) — the
        reason fuzzy-before-exact keeps the exact stage load-bearing.

    Then check Spark vs the DuckDB oracle row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q214_SQL,
        q214_fuzzy_curation_pipeline,
    )

    base2 = "the alpha bravo charlie delta echo foxtrot golf hotel india of"
    docs = [
        # (a) junk near-dup: doc2's token SET reordered + 'echo golf' x6
        # (set unchanged -> J(1,2)=1.0; top bigram 6/23 trips repetition)
        (1, "en", "alpha bravo charlie delta echo foxtrot golf hotel india "
                  "the of echo golf echo golf echo golf echo golf echo golf "
                  "echo golf"),
        (2, "en", base2),
        # (b) same-lang passing near-dup pair: same token set, two orders
        (3, "en", "the juliet kilo lima mike november oscar papa quebec romeo of"),
        (4, "en", "the kilo juliet lima mike november oscar papa quebec romeo of"),
        # (c) identical text, two langs: same fingerprint, no fuzzy pair
        (5, "en", "the sierra tango uniform victor whiskey xray yankee zulu golfx of"),
        (6, "fr", "the sierra tango uniform victor whiskey xray yankee zulu golfx of"),
        # unique passing doc
        (7, "en", "the amber boulder cedar dune ember fjord grove harbor inlet of"),
        # fails the length rule -> contributes nothing downstream
        (8, "en", "too short"),
        (9, "en", None),  # NULL text: excluded entirely
    ]
    d = _write_docs(spark, tmp_path, docs)

    rows = {r["doc_id"]: r.asDict() for r in q214_fuzzy_curation_pipeline(spark, d).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6, 7, 8}

    def stages(k):
        r = rows[k]
        return (r["kept_quality"], r["kept_fuzzy"], r["kept_exact"])

    assert stages(1) == (0, 0, 0)  # junk: repetition rule
    assert stages(2) == (1, 1, 1)  # survives — its only near-dup is junk
    assert stages(3) == (1, 1, 1)  # cluster {3,4} keeper
    assert stages(4) == (1, 0, 0)  # dropped AT THE FUZZY STAGE
    assert stages(5) == (1, 1, 1)  # exact keeper of the cross-lang pair
    assert stages(6) == (1, 1, 0)  # fuzzy-blind, caught by exact dedup
    assert stages(7) == (1, 1, 1)
    assert stages(8) == (0, 0, 0)  # length gate
    for k in (1, 4, 6, 8):
        assert rows[k]["scrub_kept_tokens"] == rows[k]["span_kept_tokens"] == 0, k

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q214_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert sr == drows[k], (k, sr, drows[k])


def test_q214_equals_q213_when_fuzzy_is_vacuous(spark, tmp_path):
    """Equivalence pin: on a corpus with NO same-lang near-dup pairs at
    the threshold, q214's fuzzy stage is the identity — its stage columns
    must equal q213's ledger exactly, with kept_fuzzy == kept_quality.
    The corpus still fires every OTHER stage: a cross-lang exact
    duplicate (dropped at the exact stage by both compositions), a df=2
    boilerplate line among survivors, and a failing-quality doc."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q213_filtered_curation_pipeline,
        q214_fuzzy_curation_pipeline,
    )

    boiler = "the menu home about contact"
    docs = [
        (1, "en", boiler + " a quality document with plenty real content here today"),
        (2, "en", boiler + " a different second document body with more words here"),
        (3, "en", "the third document is a plain unique body of twelve words"),
        (4, "fr", "the third document is a plain unique body of twelve words"),
        (5, "en", "too short"),
        (6, "en", None),
    ]
    d = _write_docs(spark, tmp_path, docs)

    r214 = {r["doc_id"]: r.asDict() for r in q214_fuzzy_curation_pipeline(spark, d).collect()}
    r213 = {r["doc_id"]: r.asDict() for r in q213_filtered_curation_pipeline(spark, d).collect()}
    assert set(r214) == set(r213) == {1, 2, 3, 4, 5}
    for k, v in r214.items():
        assert v["kept_fuzzy"] == v["kept_quality"], k  # fuzzy fired nowhere
        for col in ("n_tokens", "kept_quality", "kept_exact",
                    "scrub_kept_tokens", "span_kept_tokens"):
            assert v[col] == r213[k][col], (k, col)
    # sanity: the other stages actually fired
    assert r214[4]["kept_exact"] == 0 and r214[4]["kept_fuzzy"] == 1
    assert r214[5]["kept_quality"] == 0
    assert r214[1]["scrub_kept_tokens"] < r214[1]["n_tokens"]


def test_q214_consistency_sf(spark):
    """q214 on the sf corpus: stage monotonicity (each kept_* implies the
    previous; span <= scrub <= n_tokens; dropped docs all-zero),
    kept_quality equals q212's verdict per document, and every
    fuzzy-stage drop is JUSTIFIED — the dropped doc touches at least one
    verified near-dup edge of the quality-survivor pair graph."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        neardup_pairs,
        q214_fuzzy_curation_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q212_gopher_quality_filter,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import load_table

    r214 = {r["doc_id"]: r.asDict() for r in q214_fuzzy_curation_pipeline(spark, SF).collect()}
    r212 = {r["doc_id"]: r.asDict() for r in q212_gopher_quality_filter(spark, SF).collect()}
    assert set(r214) == set(r212) and len(r214) > 0
    for k, v in r214.items():
        assert v["kept_quality"] == int(r212[k]["kept"]), k
        assert v["kept_fuzzy"] <= v["kept_quality"], k
        assert v["kept_exact"] <= v["kept_fuzzy"], k
        assert v["span_kept_tokens"] <= v["scrub_kept_tokens"] <= v["n_tokens"], k
        if v["kept_fuzzy"] == 0:
            assert v["kept_exact"] == v["scrub_kept_tokens"] == v["span_kept_tokens"] == 0, k
    # the fuzzy stage fires on real data...
    dropped = {k for k, v in r214.items() if v["kept_quality"] == 1 and v["kept_fuzzy"] == 0}
    assert dropped
    # ...and every drop is edge-justified on the gated pair graph
    qkeep = (
        q212_gopher_quality_filter(spark, SF).filter(F.col("kept")).select("doc_id")
    )
    docs = load_table(spark, SF, "documents")
    edges = neardup_pairs(docs.join(qkeep.select("doc_id"), "doc_id", "semi")).collect()
    touched = {r["doc_a"] for r in edges} | {r["doc_b"] for r in edges}
    assert dropped <= touched


def test_q217_properties_random_corpora(spark, tmp_path):
    """q217 invariants on random corpora (hypothesis): scope is exactly
    the non-null docs; kept_quality re-derives from q212's verdict;
    redact_hits re-derives from a PYTHON re.findall over the raw text
    (survivors only — gated-out docs carry 0); stage monotonicity with
    all-zero downstream after a fuzzy drop; and on the no-blocklist-hit
    arm the ledger equals q214's column-for-column with redact_hits 0 —
    the vacuous-redaction pin generalized beyond the one hand corpus.
    Small vocab + short docs make near-dup and exact-dup structure
    common, so the fuzzy/exact stages fire across examples."""
    import re

    from hypothesis import given, settings, strategies as st

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _REDACT_PATTERN,
        q214_fuzzy_curation_pipeline,
        q217_tagged_curation_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q212_gopher_quality_filter,
    )
    from project_1_greentech_logistics_data_pipeline_spark.session import (
        release_session_state,
    )

    vocab = ["the", "a", "of", "alpha", "bravo", "charlie",
             "customer", "supplier", "query", "delta"]
    doc = st.lists(st.sampled_from(vocab), max_size=14)

    @settings(max_examples=3, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=8), st.booleans())
    def prop(docs, with_terms):
        import os as _os
        import shutil
        import uuid

        pat = re.compile(_REDACT_PATTERN)
        if not with_terms:  # the vacuous-redaction arm
            docs = [
                ["echo" if pat.fullmatch(t) else t for t in toks]
                for toks in docs
            ]
        tmpdir = str(tmp_path / f"q217_prop_{uuid.uuid4().hex}")
        try:
            rows_in = [(i, "en", " ".join(toks)) for i, toks in enumerate(docs)]
            rows_in.append((len(rows_in), "en", None))
            spark.createDataFrame(
                rows_in, "doc_id long, lang string, text string"
            ).write.parquet(_os.path.join(tmpdir, "documents.parquet"))

            out = {
                r["doc_id"]: r.asDict()
                for r in q217_tagged_curation_pipeline(spark, tmpdir).collect()
            }
            release_session_state(spark)
            verdict = {
                r["doc_id"]: bool(r["kept"])
                for r in q212_gopher_quality_filter(spark, tmpdir).collect()
            }
            release_session_state(spark)
            assert set(out) == set(range(len(docs)))  # non-null docs only
            for i, toks in enumerate(docs):
                v = out[i]
                assert v["kept_quality"] == int(verdict[i]), i
                want_hits = (
                    len(pat.findall(" ".join(toks))) if verdict[i] else 0
                )
                assert v["redact_hits"] == want_hits, i
                assert v["kept_fuzzy"] <= v["kept_quality"], i
                assert v["kept_exact"] <= v["kept_fuzzy"], i
                assert (
                    v["span_kept_tokens"] <= v["scrub_kept_tokens"] <= v["n_tokens"]
                ), i
                if v["kept_fuzzy"] == 0:
                    assert (
                        v["kept_exact"]
                        == v["scrub_kept_tokens"]
                        == v["span_kept_tokens"]
                        == 0
                    ), i
            if not with_terms:
                r214 = {
                    r["doc_id"]: r.asDict()
                    for r in q214_fuzzy_curation_pipeline(spark, tmpdir).collect()
                }
                release_session_state(spark)
                assert set(r214) == set(out)
                for i, v in out.items():
                    assert v["redact_hits"] == 0, i
                    for col in ("n_tokens", "kept_quality", "kept_fuzzy",
                                "kept_exact", "scrub_kept_tokens",
                                "span_kept_tokens"):
                        assert v[col] == r214[i][col], (i, col)
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)

    prop()


# ---------------------------------------------------------------------------
# q217 tagged curation pipeline (filter -> redaction -> fuzzy -> exact ->
# scrub -> span)
# ---------------------------------------------------------------------------


def test_q217_redaction_stage_orders(spark, tmp_path):
    """The Dolma tagger placement's decision-bearing order pins:

    (a) redaction BEFORE fuzzy dedup — two docs differing ONLY in a
        blocklisted term (raw Jaccard 0.818 < 0.95) become identical
        after redaction and the fuzzy stage collapses them; q214 on the
        SAME corpus keeps both copies through every stage;
    (b) the gate sees RAW text — a doc whose redacted form trips the
        repetition rule (three adjacent blocklisted terms redact to a
        repeated '[REDACTED] [REDACTED]' bigram) is still kept, because
        the filter decision predates the rewrite (q212 over the redacted
        twin corpus drops it);
    (c) the scrub's df table counts REDACTED line text — two docs whose
        5-token windows differ only in a blocklisted term share one
        redacted window (df=2, scrubbed from both) where raw df=1;
    (d) cross-lang identical text (with a blocklisted term) stays
        fuzzy-blind and is caught by the global exact argmin.

    Then check Spark vs the DuckDB oracle row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _REDACT_PATTERN,
        _Q217_SQL,
        q214_fuzzy_curation_pipeline,
        q217_tagged_curation_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q212_gopher_quality_filter,
    )

    docs = [
        # (a) near-dup-under-redaction pair: differ only customer/supplier
        (1, "en", "the customer alpha bravo charlie delta echo fox golf of"),
        (2, "en", "the supplier alpha bravo charlie delta echo fox golf of"),
        # (b) passes raw; redacted trips repetition (R R bigram x2)
        (4, "en", "the customer supplier query kilo lima mike nova oscar papa of"),
        # (c) shared 5-token window up to the blocklisted term
        (5, "en", "the wsa wsb wsc wsd customer alpha bravo charlie delta "
                  "psa psb psc psd of"),
        (6, "en", "the wta wtb wtc wtd supplier alpha bravo charlie delta "
                  "pta ptb ptc ptd of"),
        # (d) identical text, two langs, with a blocklisted term
        (7, "en", "the customer ssa ssb ssc ssd sse ssf ssg of"),
        (8, "fr", "the customer ssa ssb ssc ssd sse ssf ssg of"),
        (9, "en", "too short"),
        (10, "en", None),
    ]
    d = _write_docs(spark, tmp_path, docs)

    rows = {
        r["doc_id"]: r.asDict()
        for r in q217_tagged_curation_pipeline(spark, d).collect()
    }
    assert set(rows) == {1, 2, 4, 5, 6, 7, 8, 9}
    # full expected ledgers (hand-derived in the block comment corpus):
    # doc1 keeps the solo 'of' span (first occurrence); docs 5/6/7 lose
    # theirs; docs 5/6 lose the shared redacted window (5 tokens)
    expect = {
        1: (10, 1, 1, 1, 1, 10, 10),
        2: (10, 1, 1, 0, 0, 0, 0),
        4: (11, 1, 3, 1, 1, 11, 11),
        5: (15, 1, 1, 1, 1, 10, 9),
        6: (15, 1, 1, 1, 1, 10, 9),
        7: (10, 1, 1, 1, 1, 10, 9),
        8: (10, 1, 1, 1, 0, 0, 0),
        9: (2, 0, 0, 0, 0, 0, 0),
    }
    cols = (
        "n_tokens", "kept_quality", "redact_hits", "kept_fuzzy",
        "kept_exact", "scrub_kept_tokens", "span_kept_tokens",
    )
    for k, want in expect.items():
        assert tuple(rows[k][c] for c in cols) == want, (k, rows[k])

    # (a) the q214 counterfactual: no redaction => no fuzzy pair => both
    # copies survive every stage
    r214 = {
        r["doc_id"]: r.asDict()
        for r in q214_fuzzy_curation_pipeline(spark, d).collect()
    }
    assert r214[2]["kept_fuzzy"] == 1 and r214[2]["kept_exact"] == 1
    assert rows[2]["kept_fuzzy"] == 0

    # (b) the gate-sees-raw counterfactual: q212 over the redacted twin
    # corpus drops doc 4 on the repetition rule
    red = [
        (
            i,
            lang,
            None
            if t is None
            else __import__("re").sub(_REDACT_PATTERN, "[REDACTED]", t),
        )
        for i, lang, t in docs
    ]
    d2 = _write_docs(spark, tmp_path / "red", red)
    r212r = {
        r["doc_id"]: r.asDict()
        for r in q212_gopher_quality_filter(spark, d2).collect()
    }
    assert not r212r[4]["kept"] and not r212r[4]["pass_repetition"]
    assert rows[4]["kept_quality"] == 1

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q217_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert sr == drows[k], (k, sr, drows[k])


def test_q217_equals_q214_when_redaction_is_vacuous(spark, tmp_path):
    """Equivalence pin: on a corpus with NO blocklist hits the redaction
    is the identity — q217's stage columns must equal q214's exactly,
    with redact_hits == 0 everywhere. The corpus still fires the other
    stages (the q214 vacuous-test corpus: a cross-lang exact duplicate,
    a df=2 boilerplate line, a failing-quality doc)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q214_fuzzy_curation_pipeline,
        q217_tagged_curation_pipeline,
    )

    boiler = "the menu home about contact"
    docs = [
        (1, "en", boiler + " a quality document with plenty real content here today"),
        (2, "en", boiler + " a different second document body with more words here"),
        (3, "en", "the third document is a plain unique body of twelve words"),
        (4, "fr", "the third document is a plain unique body of twelve words"),
        (5, "en", "too short"),
        (6, "en", None),
    ]
    d = _write_docs(spark, tmp_path, docs)

    r217 = {
        r["doc_id"]: r.asDict()
        for r in q217_tagged_curation_pipeline(spark, d).collect()
    }
    r214 = {
        r["doc_id"]: r.asDict()
        for r in q214_fuzzy_curation_pipeline(spark, d).collect()
    }
    assert set(r217) == set(r214) == {1, 2, 3, 4, 5}
    for k, v in r217.items():
        assert v["redact_hits"] == 0, k  # redaction fired nowhere
        for col in ("n_tokens", "kept_quality", "kept_fuzzy", "kept_exact",
                    "scrub_kept_tokens", "span_kept_tokens"):
            assert v[col] == r214[k][col], (k, col)
    # sanity: the other stages actually fired
    assert r217[4]["kept_exact"] == 0 and r217[4]["kept_fuzzy"] == 1
    assert r217[5]["kept_quality"] == 0
    assert r217[1]["scrub_kept_tokens"] < r217[1]["n_tokens"]


def test_q217_consistency_sf(spark):
    """q217 on the sf corpus: stage monotonicity (each kept_* implies the
    previous; span <= scrub <= n_tokens; dropped docs all-zero),
    kept_quality equals q212's verdict, and redact_hits is exactly q131's
    per-doc hit count for quality survivors (0 for gated-out docs — the
    tagger never ran on them) — the single-definition check between the
    standalone tagger query and the composed stage."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q217_tagged_curation_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.quality import (
        q131_blocklist_scrub,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q212_gopher_quality_filter,
    )

    r217 = {
        r["doc_id"]: r.asDict()
        for r in q217_tagged_curation_pipeline(spark, SF).collect()
    }
    r212 = {
        r["doc_id"]: r.asDict()
        for r in q212_gopher_quality_filter(spark, SF).collect()
    }
    hits = {
        r["doc_id"]: r["n_hits"] for r in q131_blocklist_scrub(spark, SF).collect()
    }
    assert set(r217) == set(r212) and len(r217) > 0
    for k, v in r217.items():
        assert v["kept_quality"] == int(r212[k]["kept"]), k
        assert v["kept_fuzzy"] <= v["kept_quality"], k
        assert v["kept_exact"] <= v["kept_fuzzy"], k
        assert v["span_kept_tokens"] <= v["scrub_kept_tokens"] <= v["n_tokens"], k
        if v["kept_fuzzy"] == 0:
            assert (
                v["kept_exact"] == v["scrub_kept_tokens"] == v["span_kept_tokens"] == 0
            ), k
        want = hits.get(k, 0) if v["kept_quality"] == 1 else 0
        assert v["redact_hits"] == want, k
    # both new stages fire on real data
    assert any(v["redact_hits"] > 0 for v in r217.values())
    assert any(
        v["kept_quality"] == 1 and v["kept_fuzzy"] == 0 for v in r217.values()
    )


# ---------------------------------------------------------------------------
# q215 CCNet perplexity tiers / q216 CCNet pipeline
# ---------------------------------------------------------------------------


def test_lang_and_lm_sql_generators_pin():
    """The r10 lang-ID fragment factoring must not move q42's generated
    oracle by a single byte (its driver hash would silently re-baseline),
    and the two LM-tier consumers must build on the ONE shared generator
    (hand-copied CTE stacks are exactly how q213's first cut started to
    drift)."""
    import hashlib

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q216_SQL,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        _lang_case_sql,
        lang_stage_cte_sql,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text2 import (
        _Q215_SQL,
        _lm_tier_sql,
    )

    assert (
        hashlib.sha256(_lang_case_sql().encode()).hexdigest()
        == "17aee442041e2a34ef2e2fff27b0aa8c04ddb4b42e5e22b394bcf0cbe67384a6"
    )
    assert _lm_tier_sql("src") in _Q215_SQL
    assert _lm_tier_sql("langed") in _Q216_SQL
    assert lang_stage_cte_sql("clean_src") in _Q216_SQL
    # the normalized-scrub core is likewise ONE generator: q209's SQL
    # must be byte-identical to its pre-factoring literal, and q216's
    # oracle must embed the same generator output (not a hand copy)
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q209_SQL,
        _norm_scrub_ctes_sql,
    )

    assert (
        hashlib.sha256(_Q209_SQL.encode()).hexdigest()
        == "720721edc0ff70c6aff83a1a41940c654f82ad8bb88f52610631f16c04845a2f"
    )
    assert _norm_scrub_ctes_sql("units", "df") in _Q209_SQL
    assert _norm_scrub_ctes_sql("units", "ndf") in _Q216_SQL


def _round9(d: dict) -> dict:
    """The driver-contract float convention: values compare after
    round(·, 9) (the decimal-pinned LM sum is exact, but the final
    decimal->double CAST can differ by 1 ulp between engines — measured on
    the q215 hand corpus: ...239 vs ...237 at the 16th digit)."""
    return {k: (round(v, 9) if isinstance(v, float) else v) for k, v in d.items()}


def test_q215_tier_cut_pins(spark, tmp_path):
    """Pin q215's load-bearing decisions on a hand corpus:

    (a) score direction — a repetitive document (one repeated bigram) is
        the most predictable under the corpus LM and sorts head-ward;
    (b) the all-integer mass boundaries are INCLUSIVE — three equal-mass
        docs in one language land exactly on 3*cum == total and
        3*cum == 2*total and must tier head/middle/tail in score order;
    (c) a language whose single document holds all its mass is 'tail'
        (3*m <= m and 3*m <= 2*m are both false for m > 0);
    (d) the LM is per-language: the same text scores differently under a
        language whose co-corpus differs;
    (e) documents with < 2 tokens (no bigram) are out of scope.

    Then check Spark vs the DuckDB oracle row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.text2 import (
        _Q215_SQL,
        q215_ccnet_perplexity_tiers,
    )

    diverse = "a b c d e f g h i j"
    docs = [
        (1, "aa", "w w w w w w w w w w"),   # repeated bigram -> lowest ppl
        (2, "aa", diverse),                  # all-distinct bigrams -> highest
        (3, "aa", "a b a b a b a b a b"),    # in between
        (4, "bb", "p q r s t u v w x y"),    # single-doc language
        (5, "cc", diverse),                  # doc2's text, different co-corpus
        (6, "aa", "solo"),                   # 1 token: no bigram, out of scope
        (7, "aa", None),                     # NULL text: excluded
    ]
    d = _write_docs(spark, tmp_path, docs)

    rows = {r["doc_id"]: r.asDict() for r in q215_ccnet_perplexity_tiers(spark, d).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}  # (e)
    # (a) score direction
    assert rows[1]["avg_neg_logp"] < rows[3]["avg_neg_logp"] < rows[2]["avg_neg_logp"]
    # (b) equal masses 10/10/10: cum 10 (3*10 <= 30, head), 20 (60 <= 60,
    # middle), 30 (90 > 60, tail) — both boundaries inclusive
    assert (rows[1]["tier"], rows[3]["tier"], rows[2]["tier"]) == (
        "head",
        "middle",
        "tail",
    )
    assert rows[1]["lang_tokens"] == 30 and rows[1]["cum_tokens"] == 10
    # (c) single-doc language
    assert rows[4]["tier"] == "tail" and rows[4]["cum_tokens"] == rows[4]["lang_tokens"]
    # (d) same text, different language co-corpus -> different score
    assert rows[5]["avg_neg_logp"] != rows[2]["avg_neg_logp"]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q215_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert _round9(sr) == _round9(drows[k]), (k, sr, drows[k])


def test_q215_consistency_sf(spark):
    """q215 on the sf corpus: scope (every non-null doc with >= 2 tokens),
    per-language mass bookkeeping (lang_tokens == sum of member masses),
    and the integer cut rule re-derived from the query's own cum/lang
    columns."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.text2 import (
        q215_ccnet_perplexity_tiers,
    )

    rows = [r.asDict() for r in q215_ccnet_perplexity_tiers(spark, SF).collect()]
    assert len(rows) > 0
    # scope: exactly the non-null docs with >= 2 tokens, one row each
    expected = {
        r["doc_id"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .collect()
        if r["n"] >= 2
    }
    assert {r["doc_id"] for r in rows} == expected and len(rows) == len(expected)
    by_lang: dict = {}
    for r in rows:
        # the fan-out invariant, per row: adjacent pairs exactly
        assert r["n_bigrams"] == r["n_tokens"] - 1, r["doc_id"]
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, members in by_lang.items():
        total = members[0]["lang_tokens"]
        assert all(m["lang_tokens"] == total for m in members), lang
        assert sum(m["n_tokens"] for m in members) == total, lang
        members.sort(key=lambda m: (round(m["avg_neg_logp"], 9), m["doc_id"]))
        cum = 0
        for m in members:
            cum += m["n_tokens"]
            assert m["cum_tokens"] == cum, (lang, m["doc_id"])
            want = (
                "head"
                if 3 * cum <= total
                else ("middle" if 3 * cum <= 2 * total else "tail")
            )
            assert m["tier"] == want, (lang, m["doc_id"])


def test_q216_stage_decision_pins(spark, tmp_path):
    """Pin q216's load-bearing stage decisions on a hand corpus:

    (a) lang-id runs on POST-SCRUB text — a document whose only language
        markers sit in a cross-document boilerplate line flips to 'und'
        (raw-text lang-id would say 'en');
    (b) a document that loses every line to the scrub is 'und'/'unscored'
        with scrub_kept_tokens = 0;
    (c) a document keeping a single token is scored-out ('unscored') but
        its kept mass still appears in the ledger;
    (d) the scrub key is q209's NORMALIZED form — a cased/punctuated
        variant of the boilerplate line lands in the same df group and is
        removed;
    (e) markers OUTSIDE boilerplate survive and the doc is scored in its
        predicted language (a single-doc language tiers 'tail', the q215
        boundary rule).

    Then check Spark vs the DuckDB oracle row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q216_SQL,
        q216_ccnet_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        lang_id_expr,
    )

    boiler = "the a of and is"  # exactly one 5-token line, all en markers
    docs = [
        (1, "en", boiler + " alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
        (2, "en", boiler + " kilo lima mike november oscar papa quebec romeo sierra tango"),
        (3, "en", boiler),                       # loses its only line
        (4, "en", boiler + " zqx"),              # keeps one token
        (5, "en", "The, A. Of And Is! uniform victor whiskey xray yankee"),  # (d)
        (6, "en", "the quick brown fox jumps over the lazy dog today"),      # (e)
        (7, "en", None),
    ]
    d = _write_docs(spark, tmp_path, docs)

    rows = {r["doc_id"]: r.asDict() for r in q216_ccnet_pipeline(spark, d).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    # counterfactual for (a): raw-text lang-id on doc 1 is 'en'
    raw = {
        r["doc_id"]: r["p"]
        for r in spark.createDataFrame(
            [(i, t) for i, _, t in docs if t is not None], "doc_id long, text string"
        )
        .select("doc_id", lang_id_expr("text").alias("p"))
        .collect()
    }
    assert raw[1] == "en"
    assert rows[1]["predicted_lang"] == "und" and rows[2]["predicted_lang"] == "und"
    assert rows[1]["scrub_kept_tokens"] == 10 and rows[1]["tier"] in (
        "head",
        "middle",
        "tail",
    )
    # (b)
    assert rows[3]["scrub_kept_tokens"] == 0
    assert rows[3]["predicted_lang"] == "und" and rows[3]["tier"] == "unscored"
    assert rows[3]["avg_neg_logp"] is None and rows[3]["n_bigrams"] == 0
    # (c)
    assert rows[4]["scrub_kept_tokens"] == 1 and rows[4]["tier"] == "unscored"
    # (d) the cased/punctuated marker line was removed by the normalized key
    assert rows[5]["scrub_kept_tokens"] == 5 and rows[5]["predicted_lang"] == "und"
    # (e)
    assert rows[6]["predicted_lang"] == "en" and rows[6]["tier"] == "tail"
    assert rows[6]["scrub_kept_tokens"] == rows[6]["n_tokens"] == 10

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q216_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert _round9(sr) == _round9(drows[k]), (k, sr, drows[k])


def test_q216_consistency_sf(spark):
    """q216 on the sf corpus: one ledger row per non-null document,
    stage consistency against the STANDALONE q209 (scrub_kept_tokens must
    equal q209's kept_tokens per document — the composition's stage 1 and
    the standalone query share semantics, not code paths), and the
    unscored contract (no bigrams <=> NULL score <=> 'unscored')."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q209_normalized_line_scrub,
        q216_ccnet_pipeline,
    )

    r216 = {r["doc_id"]: r.asDict() for r in q216_ccnet_pipeline(spark, SF).collect()}
    r209 = {r["doc_id"]: r.asDict() for r in q209_normalized_line_scrub(spark, SF).collect()}
    assert set(r216) == set(r209) and len(r216) > 0
    for k, v in r216.items():
        assert v["scrub_kept_tokens"] == r209[k]["kept_tokens"], k
        assert v["scrub_kept_tokens"] <= v["n_tokens"], k
        unscored = v["tier"] == "unscored"
        assert unscored == (v["n_bigrams"] == 0) == (v["avg_neg_logp"] is None), k
        if not unscored:
            assert v["tier"] in ("head", "middle", "tail"), k
    # the scrub and the tier stages both fire on real data
    assert any(v["scrub_kept_tokens"] < v["n_tokens"] for v in r216.values())
    assert any(v["tier"] == "head" for v in r216.values())


def test_q215_prefix2_analytic_ties(spark, tmp_path):
    """q215 on the corpus class that motivated the round-9 sort key:
    several equal-key (analytically tied) docs per language. The doc_id
    tie-break keeps the total order, so a tie run's cumulative mass
    climbs in doc_id order."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.text2 import (
        q215_ccnet_perplexity_tiers,
    )
    from project_1_greentech_logistics_data_pipeline_spark.session import (
        release_session_state,
    )

    diverse = "a b c d e f g h i j"
    docs = [(i, "aa", diverse + f" z{i}") for i in range(1, 13)]  # near-ties
    docs += [(i, "bb", diverse) for i in range(21, 27)]  # exact analytic ties
    d = _write_docs(spark, tmp_path, docs)

    rows = [r.asDict() for r in q215_ccnet_perplexity_tiers(spark, d).collect()]
    release_session_state(spark)
    assert len(rows) == 18
    ties = sorted((r for r in rows if r["lang"] == "bb"), key=lambda r: r["doc_id"])
    assert len({round(r["avg_neg_logp"], 9) for r in ties}) == 1
    cums = [r["cum_tokens"] for r in ties]
    assert cums == sorted(cums) and len(set(cums)) == len(cums)


def test_q216_prefix2_analytic_ties(spark, tmp_path):
    """q216 on an analytic-ties corpus (the q215 test's tie structure,
    through the composition): the predicted-lang groups ADD the 'und'
    group to the tie structure — a scored marker-free tie run lands in
    'und' NEXT TO the exact-duplicate docs the scrub empties (unscored,
    outside every LM group)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q216_ccnet_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.session import (
        release_session_state,
    )

    # 12-doc 'en' analytic tie run. Two scrub traps designed around:
    # the scrub unit is a DISJOINT 5-TOKEN window (q208's line), so a
    # doc-unique LETTER-suffixed token sits in EVERY window (shared
    # windows would hit df=12 and be scrubbed); and q209's norm key
    # folds digit runs to '0', so z1..z12 would collapse to one
    # boilerplate key. Isomorphic bigram structure => equal LM means.
    docs = [
        (i, "xx", f"the b c d z{c} f g h i y{c}")
        for i, c in ((i, chr(96 + i)) for i in range(1, 13))
    ]
    # 6-doc marker-free tie run: predicted 'und' but fully scored
    docs += [
        (i, "xx", f"k l m n w{c} o p q r v{c}")
        for i, c in ((i, chr(76 + i)) for i in range(21, 27))
    ]
    # 3 exact duplicates: df=3 line scrubbed everywhere -> unscored
    docs += [(i, "xx", "menu home about contact links") for i in range(31, 34)]
    d = _write_docs(spark, tmp_path, docs)

    by = {r[0]: r.asDict() for r in q216_ccnet_pipeline(spark, d).collect()}
    release_session_state(spark)
    assert len(by) == 21
    assert {by[i]["predicted_lang"] for i in range(1, 13)} == {"en"}
    assert {by[i]["predicted_lang"] for i in range(21, 27)} == {"und"}
    for i in range(31, 34):  # scrubbed empty: und + unscored
        assert by[i]["predicted_lang"] == "und"
        assert by[i]["tier"] == "unscored"
        assert by[i]["scrub_kept_tokens"] == 0
    # the two scored groups really are analytic tie runs
    assert len({round(by[i]["avg_neg_logp"], 9) for i in range(1, 13)}) == 1
    assert len({round(by[i]["avg_neg_logp"], 9) for i in range(21, 27)}) == 1


def test_q216_multilingual_tier_groups(spark, tmp_path):
    """q216 with MULTIPLE predicted languages post-scrub:

    (a) lang-id can flip BETWEEN languages (not just to 'und') — docs
        whose fr markers all sit in a shared boilerplate line but whose
        en markers survive the scrub predict 'en' (raw lang-id says
        'fr': 5 fr marker hits vs 3 en);
    (b) the two flipped docs are ANALYTIC LM ties within the 'en' group
        (isomorphic bigram structures: every pair count, 'the'/'of'
        unigram counts, and the vocab size agree), so the round-9 sort
        key collapses them and the doc_id tie-break orders them —
        equal masses 10/10 then tier middle/tail by the integer rule
        (3*10 > 20 kills head);
    (c) a doc with fr markers OUTSIDE boilerplate forms its own 'fr'
        tier group (single-doc language => 'tail').

    Then the DuckDB differential row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q216_SQL,
        q216_ccnet_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        lang_id_expr,
    )

    boiler = "le la et est un"  # one 5-token line, all fr markers
    docs = [
        (1, "xx", boiler + " the alpha bravo of charlie delta echo foxtrot golf the"),
        (2, "xx", boiler + " the hotel india of juliet kilo lima mike november the"),
        (3, "xx", "le papa quebec romeo sierra est tango uniform victor whiskey"),
        (4, "xx", None),
    ]
    d = _write_docs(spark, tmp_path, docs)

    rows = {r["doc_id"]: r.asDict() for r in q216_ccnet_pipeline(spark, d).collect()}
    assert set(rows) == {1, 2, 3}
    # (a) counterfactual: raw lang-id on doc 1 is 'fr'
    raw = {
        r["doc_id"]: r["p"]
        for r in spark.createDataFrame(
            [(i, t) for i, _, t in docs if t is not None], "doc_id long, text string"
        )
        .select("doc_id", lang_id_expr("text").alias("p"))
        .collect()
    }
    assert raw[1] == "fr" and raw[2] == "fr"
    assert rows[1]["predicted_lang"] == "en" and rows[2]["predicted_lang"] == "en"
    # (b) analytic tie + equal masses: doc_id order decides; 2-doc group
    # has no head (3*10 > 20)
    assert rows[1]["avg_neg_logp"] == rows[2]["avg_neg_logp"]
    assert (rows[1]["tier"], rows[2]["tier"]) == ("middle", "tail")
    assert rows[1]["scrub_kept_tokens"] == rows[2]["scrub_kept_tokens"] == 10
    # (c) fr markers outside boilerplate: own group, single-doc => tail
    assert rows[3]["predicted_lang"] == "fr" and rows[3]["tier"] == "tail"
    assert rows[3]["scrub_kept_tokens"] == rows[3]["n_tokens"] == 10

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q216_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert _round9(sr) == _round9(drows[k]), (k, sr, drows[k])


def test_lm_tier_properties_random_corpora(spark, tmp_path):
    """LM-tier invariants on random corpora (hypothesis): scope is
    exactly the >= 2-token docs; n_bigrams == n_tokens - 1 per row;
    per-language mass bookkeeping and the integer tier rule re-derive
    from the outputs under arbitrary duplicate/tie structure, not just
    the two pinned corpora."""
    from hypothesis import given, settings, strategies as st

    from project_1_greentech_logistics_data_pipeline_spark.operators.text2 import (
        q215_ccnet_perplexity_tiers,
    )
    from project_1_greentech_logistics_data_pipeline_spark.session import (
        release_session_state,
    )

    doc = st.tuples(
        st.sampled_from(["aa", "bb"]),
        st.lists(st.sampled_from(["a", "b", "c", "w", "the"]), max_size=8),
    )

    @settings(max_examples=4, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=10))
    def prop(docs):
        import os as _os
        import shutil
        import uuid

        # per-example unique dir under the test's tmp_path: a shared
        # hardcoded path races under pytest-xdist / concurrent sessions
        # (one worker rmtree's another's parquet mid-read) and leaks on
        # assertion failure — uuid + finally fixes both
        tmpdir = str(tmp_path / f"lm_prop_{uuid.uuid4().hex}")
        try:
            rows_in = [
                (i, lang, " ".join(toks)) for i, (lang, toks) in enumerate(docs)
            ]
            rows_in.append((len(rows_in), "aa", None))
            spark.createDataFrame(
                rows_in, "doc_id long, lang string, text string"
            ).write.parquet(_os.path.join(tmpdir, "documents.parquet"))

            out = [
                r.asDict()
                for r in q215_ccnet_perplexity_tiers(spark, tmpdir).collect()
            ]
            release_session_state(spark)
            # scope: split(trim(text), \s+) of the joined text — '' joins
            # to [''] (1 token), so scoreable <=> >= 2 generated tokens
            expect = {i for i, (lang, toks) in enumerate(docs) if len(toks) >= 2}
            assert {r["doc_id"] for r in out} == expect and len(out) == len(expect)
            by_lang: dict = {}
            for r in out:
                assert r["n_bigrams"] == r["n_tokens"] - 1
                by_lang.setdefault(r["lang"], []).append(r)
            for lang, members in by_lang.items():
                total = members[0]["lang_tokens"]
                assert sum(m["n_tokens"] for m in members) == total
                members.sort(
                    key=lambda m: (round(m["avg_neg_logp"], 9), m["doc_id"])
                )
                cum = 0
                for m in members:
                    cum += m["n_tokens"]
                    assert m["cum_tokens"] == cum
                    want = (
                        "head"
                        if 3 * cum <= total
                        else ("middle" if 3 * cum <= 2 * total else "tail")
                    )
                    assert m["tier"] == want
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)

    prop()


def test_q215_degenerate_corpus_both_modes(spark, tmp_path):
    """A corpus with NO scoreable document (all single-token or NULL
    text) returns zero rows."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.text2 import (
        q215_ccnet_perplexity_tiers,
    )

    d = _write_docs(
        spark, tmp_path, [(1, "aa", "solo"), (2, "bb", ""), (3, "aa", None)]
    )
    assert q215_ccnet_perplexity_tiers(spark, d).count() == 0


# ---------------------------------------------------------------------------
# q218 URL-dedup curation pipeline
# ---------------------------------------------------------------------------


def test_q218_url_stage_decision_pins(spark, tmp_path):
    """The URL-dedup stage's decision-bearing pins on a hand corpus with
    a full hand-derived expected ledger:

    (a) normalization-unifies — raw URLs differing in EVERY noise
        dimension (scheme, www., host case, trailing slash, tracking
        query) collapse to one normalized key and the group keeps only
        its min doc_id (every noise branch exercised across the corpus);
    (b) content-blind — the dropped copy's TEXT is unique (unique
        fingerprint), yet URL dedup removes it: the URL axis is distinct
        from every content-dedup axis;
    (c) url-before-gate — a group whose min-doc_id keeper FAILS the
        quality gate contributes nothing downstream even though the
        higher-doc_id copy would have passed; the gate-first
        counterfactual composition keeps that copy;
    (d) slug canonicalization — punctuation/case in the leading tokens
        strips to the same slug ('The, Alpha!' -> 'the-alpha').

    Then check Spark vs the DuckDB oracle row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q218_SQL,
        _doc_urls,
        q218_url_curation_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q212_gopher_quality_filter,
    )
    from pyspark.sql import functions as F

    docs = [
        # (a)+(b) G1 'green-motor': 12 (https+www) vs 35 (http+slash+utm).
        # Survivor texts place the stopwords mid-sequence so no two docs
        # share any 5-token line or 3-token/trailing span (span keep-first
        # would otherwise cross-charge a shared trailing 'the').
        (12, "en", "green motor quality of the document alpha bravo charlie delta"),
        (35, "en", "green motor unique second body india juliet kilo of the"),
        # (a) G2 'blue-rocket': 22 exercises the UPPER-host branch
        (13, "en", "blue rocket first of the crawl copy nopea nopeb nopec"),
        (22, "en", "blue rocket second crawl copy qopea qopeb qopec of the"),
        # (c) G3 'too-short': keeper 15 fails the gate, 16 would pass
        (15, "en", "too short"),
        (16, "en", "too short rema remb remc remd reme remf of the"),
        # (d) G4 'the-alpha': 21's slug strips punctuation/case to 9's
        (9, "en", "the alpha walta of the waltb waltc waltd walte waltf"),
        (21, "en", "The, Alpha! different uniqa uniqb uniqc uniqd uniqe of the"),
        # singleton group on the fr host
        (30, "fr", "paris metro fillera of the fillerb fillerc fillerd fillere fillerf"),
        (40, "en", None),
    ]
    d = _write_docs(spark, tmp_path, docs)

    # raw-URL noise + normalized-key pins (the derivation itself)
    u = {r["doc_id"]: r for r in _doc_urls(
        spark.createDataFrame(
            [x for x in docs if x[2] is not None],
            "doc_id long, lang string, text string",
        )
    ).collect()}
    assert u[12]["url"] == "https://www.en.example.com/green-motor"
    assert u[35]["url"] == "http://en.example.com/green-motor/?utm_source=feed"
    assert u[22]["url"] == "https://EN.EXAMPLE.COM/blue-rocket"
    assert u[30]["url"] == "https://www.fr.example.com/paris-metro/"
    assert u[21]["url"].endswith("/the-alpha?utm_source=feed")
    assert u[12]["url_norm"] == u[35]["url_norm"] == "en.example.com/green-motor"
    assert u[13]["url_norm"] == u[22]["url_norm"] == "en.example.com/blue-rocket"
    assert u[9]["url_norm"] == u[21]["url_norm"] == "en.example.com/the-alpha"
    assert u[15]["url_norm"] == u[16]["url_norm"] == "en.example.com/too-short"
    assert u[30]["url_norm"] == "fr.example.com/paris-metro"

    rows = {
        r["doc_id"]: r.asDict()
        for r in q218_url_curation_pipeline(spark, d).collect()
    }
    assert set(rows) == {9, 12, 13, 15, 16, 21, 22, 30, 35}
    # full expected ledgers: survivors {12,13,9,30} pass the gate and ride
    # the chain untouched (distinct fps, no shared 5-token window, no
    # repeated span); 15 is kept by URL but fails the gate; 16/21/22/35
    # are URL-dropped copies (16's and 35's/21's texts are unique — pin b)
    expect = {
        9: (10, 1, 2, 1, 1, 10, 10),
        12: (10, 1, 2, 1, 1, 10, 10),
        13: (10, 1, 2, 1, 1, 10, 10),
        15: (2, 1, 2, 0, 0, 0, 0),
        16: (10, 0, 2, 0, 0, 0, 0),
        21: (10, 0, 2, 0, 0, 0, 0),
        22: (10, 0, 2, 0, 0, 0, 0),
        30: (10, 1, 1, 1, 1, 10, 10),
        35: (10, 0, 2, 0, 0, 0, 0),
    }
    cols = (
        "n_tokens", "kept_url", "url_group_size", "kept_quality",
        "kept_exact", "scrub_kept_tokens", "span_kept_tokens",
    )
    for k, want in expect.items():
        assert tuple(rows[k][c] for c in cols) == want, (k, rows[k])

    # (c) the gate-first counterfactual: url-dedup among gate PASSERS
    # keeps 16 (15 is no longer in its group); the published url-first
    # order loses the whole group
    qpass = {
        r["doc_id"]
        for r in q212_gopher_quality_filter(spark, d).collect()
        if r["kept"]
    }
    assert 16 in qpass and 15 not in qpass
    base = spark.createDataFrame(
        [x for x in docs if x[2] is not None],
        "doc_id long, lang string, text string",
    )
    gate_first_keepers = {
        r["k"]
        for r in _doc_urls(base.filter(F.col("doc_id").isin(list(qpass))))
        .groupBy("url_norm")
        .agg(F.min("doc_id").alias("k"))
        .collect()
    }
    assert 16 in gate_first_keepers
    assert rows[16]["kept_url"] == 0 and rows[15]["kept_quality"] == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q218_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert sr == drows[k], (k, sr, drows[k])


def test_q218_equals_q213_when_url_dedup_is_vacuous(spark, tmp_path):
    """Equivalence pin: on a corpus where every normalized URL is unique
    the URL stage drops nothing — q218's downstream stage columns must
    equal q213's ledger exactly, with kept_url == 1 and
    url_group_size == 1 everywhere. The corpus still fires the other
    stages (a df=2 boilerplate window placed OFF the slug tokens, a
    cross-lang exact duplicate, a failing-quality doc)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q213_filtered_curation_pipeline,
        q218_url_curation_pipeline,
    )

    docs = [
        (1, "en", "alpha one filler fillb fillc the menu home about contact "
                  "of the tail3 tail4 tail5"),
        (2, "en", "beta two fillx filly fillz the menu home about contact "
                  "of the othr3 othr4 othr5"),
        # identical text under two langs: distinct URL hosts (vacuous for
        # the URL stage) but ONE fingerprint for the exact stage
        (3, "en", "gamma three document body is a plain unique text here"),
        (4, "fr", "gamma three document body is a plain unique text here"),
        (5, "en", "too short"),
        (6, "en", None),
    ]
    d = _write_docs(spark, tmp_path, docs)

    r218 = {
        r["doc_id"]: r.asDict()
        for r in q218_url_curation_pipeline(spark, d).collect()
    }
    r213 = {
        r["doc_id"]: r.asDict()
        for r in q213_filtered_curation_pipeline(spark, d).collect()
    }
    assert set(r218) == set(r213) == {1, 2, 3, 4, 5}
    for k, v in r218.items():
        assert v["kept_url"] == 1 and v["url_group_size"] == 1, k
        for col in ("n_tokens", "kept_quality", "kept_exact",
                    "scrub_kept_tokens", "span_kept_tokens"):
            assert v[col] == r213[k][col], (k, col)
    # sanity: the downstream stages actually fired
    assert r218[4]["kept_exact"] == 0 and r218[3]["kept_exact"] == 1
    assert r218[5]["kept_quality"] == 0
    assert r218[1]["scrub_kept_tokens"] < r218[1]["n_tokens"]


def test_q218_consistency_sf(spark):
    """q218 on the sf corpus: stage monotonicity (kept_exact <=
    kept_quality <= kept_url; span <= scrub <= n_tokens; URL-dropped or
    gate-dropped docs all-zero downstream), the URL-stage accounting
    identities (kept_url total == distinct normalized URLs; every doc's
    group size >= 1; group sizes sum over keepers to the corpus), the
    gate-restriction identity (kept_quality == q212's full-corpus verdict
    for URL keepers, 0 for dropped copies — per-document signals make the
    docs= restriction verdict-preserving), and that the stage fires on
    real data (some group > 1)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _doc_urls,
        q218_url_curation_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q212_gopher_quality_filter,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )
    from pyspark.sql import functions as F

    r218 = {
        r["doc_id"]: r.asDict()
        for r in q218_url_curation_pipeline(spark, SF).collect()
    }
    r212 = {
        r["doc_id"]: bool(r["kept"])
        for r in q212_gopher_quality_filter(spark, SF).collect()
    }
    base = (
        load_table(spark, SF, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", "text")
    )
    n_norm = _doc_urls(base).select("url_norm").distinct().count()

    assert set(r218) == set(r212) and len(r218) > 0
    for k, v in r218.items():
        assert v["kept_quality"] <= v["kept_url"], k
        assert v["kept_exact"] <= v["kept_quality"], k
        assert v["span_kept_tokens"] <= v["scrub_kept_tokens"] <= v["n_tokens"], k
        assert v["url_group_size"] >= 1, k
        if v["kept_quality"] == 0:
            assert (
                v["kept_exact"] == v["scrub_kept_tokens"] == v["span_kept_tokens"] == 0
            ), k
        # gate-restriction identity: per-document rules => the survivor-
        # only gate agrees with the full-corpus verdict on every keeper
        want = r212[k] if v["kept_url"] == 1 else False
        assert v["kept_quality"] == int(want), k
    assert sum(v["kept_url"] for v in r218.values()) == n_norm
    assert sum(
        v["url_group_size"] for v in r218.values() if v["kept_url"] == 1
    ) == len(r218)
    # the stage fires on real data
    assert any(v["url_group_size"] > 1 for v in r218.values())


def test_q212_docs_override_is_verdict_preserving(spark, tmp_path):
    """The q218-motivated docs= override on q206/q212: restricting the
    gate's input relation to a doc_id subset returns exactly the
    full-corpus rows for that subset (per-document signals — no
    cross-document state in any rule), and the default (docs=None)
    keeps the original call shape."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q212_gopher_quality_filter,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )
    from pyspark.sql import functions as F

    full = {
        r["doc_id"]: tuple(r)
        for r in q212_gopher_quality_filter(spark, SF).collect()
    }
    subset_ids = sorted(full)[::3]
    sub_rel = (
        load_table(spark, SF, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.col("doc_id").isin(subset_ids))
        .select("doc_id", "text")
    )
    sub = {
        r["doc_id"]: tuple(r)
        for r in q212_gopher_quality_filter(spark, SF, docs=sub_rel).collect()
    }
    assert set(sub) == set(subset_ids)
    for k, v in sub.items():
        assert v == full[k], k


def test_q218_empty_slug_trailing_slash_normalizes(spark, tmp_path):
    """Review-caught edge: an EMPTY slug (whitespace-only text) plus the
    trailing-slash noise branch leaves the raw URL ending in '//';
    normalization must still unify the group (the '/+$' step — a
    single-anchored '/$' strip left 'host/' vs 'host', splitting one
    logical URL group in two on BOTH engines, invisibly to the oracle
    differential). doc 10 fires the %5 slash branch, doc 11 the %11
    uppercase-host branch; both must normalize to the bare host."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _doc_urls,
        q218_url_curation_pipeline,
    )

    docs = [(10, "en", " "), (11, "en", " ")]
    u = {r["doc_id"]: r for r in _doc_urls(
        spark.createDataFrame(docs, "doc_id long, lang string, text string")
    ).collect()}
    assert u[10]["url"] == "https://en.example.com//"
    assert u[11]["url"] == "http://EN.EXAMPLE.COM/"
    assert u[10]["url_norm"] == u[11]["url_norm"] == "en.example.com"

    d = _write_docs(spark, tmp_path, docs)
    rows = {
        r["doc_id"]: r.asDict()
        for r in q218_url_curation_pipeline(spark, d).collect()
    }
    assert rows[10]["kept_url"] == 1 and rows[11]["kept_url"] == 0
    assert rows[10]["url_group_size"] == rows[11]["url_group_size"] == 2


def test_q218_properties_random_corpora(spark, tmp_path):
    """q218 invariants on random corpora (hypothesis): the URL stage
    re-derives from an independent PYTHON reimplementation of the
    derivation + normalization + grouped argmin (a third implementation
    next to the Spark and DuckDB twins — kept_url and url_group_size
    must match it exactly); kept_quality == q212's verdict AND url-kept;
    stage monotonicity with all-zero downstream for non-keepers; and on
    the unique-slug arm (every doc prefixed with its own token pair) the
    ledger equals q213's column-for-column with kept_url == 1 and
    url_group_size == 1 — the vacuous-url pin generalized beyond the one
    hand corpus. Small vocab + short docs make slug collisions and
    exact-dup structure common on the colliding arm."""
    import re

    from hypothesis import given, settings, strategies as st

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _URL_NORM_STEPS,
        _URL_SLUG_TOKENS,
        _URL_STRIP,
        q213_filtered_curation_pipeline,
        q218_url_curation_pipeline,
    )
    from project_1_greentech_logistics_data_pipeline_spark.operators.text import (
        q212_gopher_quality_filter,
    )
    from project_1_greentech_logistics_data_pipeline_spark.session import (
        release_session_state,
    )

    vocab = ["the", "a", "of", "alpha", "bravo", "charlie", "delta", "Ech!o"]
    doc = st.lists(st.sampled_from(vocab), max_size=14)

    def py_url_norm(doc_id, lang, text):
        # independent re-derivation: lower, space-trim, \s+ split (edge
        # empties kept, matching both engines), 2-token slug, charset
        # strip, noise by doc_id residues, then the shared norm steps
        toks = re.split(r"\s+", text.lower().strip(" "))
        slug = re.sub(_URL_STRIP, "", "-".join(toks[:_URL_SLUG_TOKENS]))
        host = (lang or "und") + ".example.com"
        url = (
            ("https://" if doc_id % 2 == 0 else "http://")
            + ("www." if doc_id % 3 == 0 else "")
            + (host.upper() if doc_id % 11 == 0 else host)
            + "/" + slug
            + ("/" if doc_id % 5 == 0 else "")
            + ("?utm_source=feed" if doc_id % 7 == 0 else "")
        )
        norm = url.lower()
        for pat, rep in _URL_NORM_STEPS:
            norm = re.sub(pat, rep, norm)
        return norm

    @settings(max_examples=3, deadline=None)
    @given(
        st.lists(doc, min_size=1, max_size=8),
        st.lists(st.sampled_from(["en", "fr"]), min_size=8, max_size=8),
        st.booleans(),
    )
    def prop(docs, langs, unique_slugs):
        import os as _os
        import shutil
        import uuid

        if unique_slugs:  # the vacuous-url arm
            docs = [[f"u{i}a", f"u{i}b"] + toks for i, toks in enumerate(docs)]
        tmpdir = str(tmp_path / f"q218_prop_{uuid.uuid4().hex}")
        try:
            rows_in = [
                (i, langs[i], " ".join(toks)) for i, toks in enumerate(docs)
            ]
            rows_in.append((len(rows_in), "en", None))
            spark.createDataFrame(
                rows_in, "doc_id long, lang string, text string"
            ).write.parquet(_os.path.join(tmpdir, "documents.parquet"))

            out = {
                r["doc_id"]: r.asDict()
                for r in q218_url_curation_pipeline(spark, tmpdir).collect()
            }
            release_session_state(spark)
            assert set(out) == set(range(len(docs)))  # non-null docs only

            # python re-derivation of the whole URL stage
            norms = {
                i: py_url_norm(i, langs[i], " ".join(toks))
                for i, toks in enumerate(docs)
            }
            groups: dict = {}
            for i, n in norms.items():
                groups.setdefault(n, []).append(i)
            keepers = {min(ids) for ids in groups.values()}
            for i in out:
                assert out[i]["kept_url"] == int(i in keepers), i
                assert out[i]["url_group_size"] == len(groups[norms[i]]), i

            verdict = {
                r["doc_id"]: bool(r["kept"])
                for r in q212_gopher_quality_filter(spark, tmpdir).collect()
            }
            release_session_state(spark)
            for i, v in out.items():
                assert v["kept_quality"] == int(i in keepers and verdict[i]), i
                assert v["kept_exact"] <= v["kept_quality"] <= v["kept_url"], i
                assert (
                    v["span_kept_tokens"] <= v["scrub_kept_tokens"] <= v["n_tokens"]
                ), i
                if v["kept_quality"] == 0:
                    assert (
                        v["kept_exact"]
                        == v["scrub_kept_tokens"]
                        == v["span_kept_tokens"]
                        == 0
                    ), i

            if unique_slugs:
                r213 = {
                    r["doc_id"]: r.asDict()
                    for r in q213_filtered_curation_pipeline(spark, tmpdir).collect()
                }
                release_session_state(spark)
                assert set(r213) == set(out)
                for i, v in out.items():
                    assert v["kept_url"] == 1 and v["url_group_size"] == 1, i
                    for col in ("n_tokens", "kept_quality", "kept_exact",
                                "scrub_kept_tokens", "span_kept_tokens"):
                        assert v[col] == r213[i][col], (i, col)
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)

    prop()


def test_q218_null_lang_host_fallback(spark, tmp_path):
    """The COALESCE(lang, 'und') host branch is dead on testdata (no
    NULL langs) — pin it cross-engine: a NULL-lang doc derives the
    und.example.com host identically on Spark and DuckDB, groups with a
    same-slug NULL-lang twin, and rides the chain. doc 7 fires the %7
    utm branch, doc 23 is plain (odd, no noise branches)."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q218_SQL,
        _doc_urls,
        q218_url_curation_pipeline,
    )

    docs = [
        (7, None, "some text alpha bravo charlie delta echo fox of the"),
        (23, None, "some text uniqa uniqb uniqc uniqd uniqe uniqf of the"),
    ]
    u = {r["doc_id"]: r for r in _doc_urls(
        spark.createDataFrame(docs, "doc_id long, lang string, text string")
    ).collect()}
    assert u[7]["url"] == "http://und.example.com/some-text?utm_source=feed"
    assert u[23]["url"] == "http://und.example.com/some-text"
    assert u[7]["url_norm"] == u[23]["url_norm"] == "und.example.com/some-text"

    d = _write_docs(spark, tmp_path, docs)
    rows = {
        r["doc_id"]: r.asDict()
        for r in q218_url_curation_pipeline(spark, d).collect()
    }
    assert rows[7]["kept_url"] == 1 and rows[23]["kept_url"] == 0
    assert rows[7]["url_group_size"] == rows[23]["url_group_size"] == 2
    assert rows[7]["kept_quality"] == 1  # 10 tokens, 2 stopwords -> passes

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q218_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert sr == drows[k], (k, sr, drows[k])


# ---------------------------------------------------------------------------
# q219 ExactSubstr cross-document substring dedup
# ---------------------------------------------------------------------------


def _write_plain_docs(spark, tmp_path, docs):
    """Hand corpus helper for the q219 pins: (doc_id, text) rows — the
    substring axis has no lang dependence."""
    import os

    d = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    return d


_S8 = "alpha bravo charlie delta echo foxtrot golf hotel"  # one 8-token run


def test_q219_substring_stage_decision_pins(spark, tmp_path):
    """q219's decision pins on a hand corpus with a full hand-derived
    ledger:

    (a) keep-first keeper — the min-doc_id document containing a shared
        run keeps every token (doc 1: keeper_hits counts its shared gram,
        nothing drops);
    (b) alignment-free — the same 8-token run at DIFFERENT offsets
        (doc 1 pos 1, doc 2 pos 3, doc 4 pos 1) still collapses;
    (c) union coverage — doc 9 carries the shared run twice with a
        1-token gap between the covers: 2 occurrences -> 2 islands,
        16 covered positions, exactly 1 kept token (the gap);
    (d) exact-duplicate pair — the non-keeper copy (doc 6) is fully
        covered: dup_tokens == n_tokens, kept_tokens == 0, one island;
    (e) WITHIN-document-only repetition survives — doc 8 repeats its own
        8-gram twice but shares it with no other document: untouched
        (the cross-document pin; in-doc repetition is q206's signal);
    (f) short document (< K tokens) has no grams and is untouched.

    Then Spark vs the DuckDB oracle row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q219_SQL,
        q219_substring_dedup,
    )

    docs = [
        (1, f"{_S8} uniq1a uniq1b uniq1c"),
        (2, f"pre2a pre2b {_S8} post2a"),
        (3, "solo3a solo3b solo3c solo3d solo3e solo3f solo3g solo3h"),
        (4, f"{_S8} india juliet"),
        (5, "exact dup body one two three four five six seven"),
        (6, "exact dup body one two three four five six seven"),
        (7, "short doc"),
        (8, "w1 w2 w3 w4 w5 w6 w7 w8 w1 w2 w3 w4 w5 w6 w7 w8"),
        (9, f"{_S8} gapx {_S8}"),
        (10, None),
    ]
    d = _write_plain_docs(spark, tmp_path, docs)
    rows = {
        r["doc_id"]: r.asDict() for r in q219_substring_dedup(spark, d).collect()
    }
    assert set(rows) == set(range(1, 10))  # non-null docs only
    # (doc_id): n_tokens, n_grams, keeper_hits, dup_hits, n_islands,
    #           dup_tokens, kept_tokens
    expect = {
        1: (11, 4, 1, 0, 0, 0, 11),
        2: (11, 4, 0, 1, 1, 8, 3),
        3: (8, 1, 0, 0, 0, 0, 8),
        4: (10, 3, 0, 1, 1, 8, 2),
        5: (10, 3, 3, 0, 0, 0, 10),
        6: (10, 3, 0, 3, 1, 10, 0),
        7: (2, 0, 0, 0, 0, 0, 2),
        8: (16, 9, 0, 0, 0, 0, 16),
        9: (17, 10, 0, 2, 2, 16, 1),
    }
    cols = (
        "n_tokens", "n_grams", "keeper_hits", "dup_hits", "n_islands",
        "dup_tokens", "kept_tokens",
    )
    for k, want in expect.items():
        assert tuple(rows[k][c] for c in cols) == want, (k, rows[k])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q219_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert sr == drows[k], (k, sr, drows[k])


def test_q219_adjacent_islands_merge(spark, tmp_path):
    """Island-merge boundary pin: doc 3 carries two DIFFERENT shared runs
    back-to-back (drop occurrences at pos 1 and pos 9 — interval starts
    exactly K apart, covers [1,8] and [9,16] with NO gap), which must
    merge into ONE island of 16 covered positions; doc 9 in the pins test
    is the 1-token-gap counterpart that splits into two. Together they
    pin the brk condition's strict inequality (pos - lag > K splits,
    pos - lag == K merges). The straddling grams of doc 3 (pos 2..8 mix
    the two runs) are shared with nobody — only the run-aligned grams
    fire."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q219_substring_dedup,
    )

    s2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    docs = [
        (1, f"f1 {_S8}"),
        (2, f"f2 f3 {s2}"),
        (3, f"{_S8} {s2}"),
    ]
    d = _write_plain_docs(spark, tmp_path, docs)
    rows = {
        r["doc_id"]: r.asDict() for r in q219_substring_dedup(spark, d).collect()
    }
    assert (
        rows[3]["dup_hits"] == 2
        and rows[3]["n_islands"] == 1
        and rows[3]["dup_tokens"] == 16
        and rows[3]["kept_tokens"] == 0
    ), rows[3]
    assert rows[1]["keeper_hits"] == 1 and rows[1]["kept_tokens"] == 9
    assert rows[2]["keeper_hits"] == 1 and rows[2]["kept_tokens"] == 10


def test_q219_alignment_free_vs_q207(spark, tmp_path):
    """The axis pin that motivates q219 next to q207: an 8-token run
    shared at offsets that disagree mod 3 (pos 2 in doc 1, pos 4 in
    doc 2) shares NO disjoint 3-token span, so q207's span dedup keeps
    both documents whole — while q219 drops the run from the non-keeper.
    Sub-document dedup granularity alone is not alignment-freedom."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q207_span_dedup_reassemble,
        q219_substring_dedup,
    )

    docs = [
        (1, f"u1a {_S8} u1b"),
        (2, f"u2a u2b u2c {_S8}"),
    ]
    d = _write_plain_docs(spark, tmp_path, docs)
    r207 = {
        r["doc_id"]: r.asDict()
        for r in q207_span_dedup_reassemble(spark, d).collect()
    }
    assert r207[1]["kept_tokens"] == r207[1]["n_tokens"] == 10
    assert r207[2]["kept_tokens"] == r207[2]["n_tokens"] == 11
    r219 = {
        r["doc_id"]: r.asDict() for r in q219_substring_dedup(spark, d).collect()
    }
    assert r219[1]["keeper_hits"] == 1 and r219[1]["dup_tokens"] == 0
    assert (
        r219[2]["dup_hits"] == 1
        and r219[2]["dup_tokens"] == 8
        and r219[2]["kept_tokens"] == 3
    )


def test_q219_consistency_sf(spark):
    """q219 invariants on the sf corpus: per-row ledger arithmetic
    (kept + dup == n_tokens; occurrence mass bounded by gram count),
    the island geometry bounds (an island of h hits covers between
    h + K - 1 and h*K positions, summed: dup_hits + (K-1)*n_islands <=
    dup_tokens <= K*dup_hits), islands fire iff drops exist, and the
    corpus actually exercises the operator (cross-document shared runs
    exist at K=8 — measured 45 docs hit at sf0.001)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _SUBSTR_K,
        q219_substring_dedup,
    )

    rows = [r.asDict() for r in q219_substring_dedup(spark, SF).collect()]
    assert rows
    k = _SUBSTR_K
    for r in rows:
        assert r["kept_tokens"] + r["dup_tokens"] == r["n_tokens"], r
        assert r["n_grams"] == max(r["n_tokens"] - k + 1, 0), r
        assert r["keeper_hits"] + r["dup_hits"] <= r["n_grams"], r
        assert (r["dup_hits"] > 0) == (r["n_islands"] > 0), r
        if r["n_islands"]:
            assert (
                r["dup_hits"] + (k - 1) * r["n_islands"]
                <= r["dup_tokens"]
                <= k * r["dup_hits"]
            ), r
    assert sum(1 for r in rows if r["dup_hits"] > 0) > 0
    assert sum(1 for r in rows if r["keeper_hits"] > 0) > 0


def test_q219_properties_random_corpora(spark, tmp_path):
    """q219's full ledger vs a third, independent pure-Python
    reimplementation (next to the Spark and DuckDB twins) on random
    small-vocab corpora — position-set union semantics re-derived with
    Python sets and maximal-run counting rather than interval
    arithmetic, so an island-merge bug cannot hide in a shared
    formulation. Small vocab + short docs make cross-document gram
    collisions common at K=3... (K stays the production 8; the corpus
    draws documents as concatenations of a few 8-token blocks so shared
    runs, exact dups, and within-doc repeats all occur)."""
    import re as _re
    import shutil
    import uuid

    from hypothesis import given, settings, strategies as st

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _SUBSTR_K,
        q219_substring_dedup,
    )
    from project_1_greentech_logistics_data_pipeline_spark.session import (
        release_session_state,
    )

    k = _SUBSTR_K
    # 8-token building blocks: 3 shared blocks + per-doc unique filler
    blocks = [
        " ".join(f"b{j}t{i}" for i in range(8)) for j in range(3)
    ]

    def py_ledger(texts, k):
        toks = {
            d: _re.split(r"[\s\x0b]+", t.strip())
            for d, t in texts.items()
            if t is not None
        }
        grams: dict = {}
        for d, ts in toks.items():
            for i in range(len(ts) - k + 1):
                grams.setdefault(" ".join(ts[i : i + k]), []).append((d, i + 1))
        out = {
            d: {
                "n_tokens": len(ts),
                "n_grams": max(len(ts) - k + 1, 0),
                "keeper_hits": 0,
                "dup_hits": 0,
                "n_islands": 0,
                "dup_tokens": 0,
                "kept_tokens": len(ts),
            }
            for d, ts in toks.items()
        }
        covered: dict = {d: set() for d in toks}
        for occ in grams.values():
            ds = {d for d, _ in occ}
            if len(ds) < 2:
                continue
            keeper = min(ds)
            for d, p in occ:
                if d == keeper:
                    out[d]["keeper_hits"] += 1
                else:
                    out[d]["dup_hits"] += 1
                    covered[d].update(range(p, p + k))
        for d, ps in covered.items():
            sp = sorted(ps)
            out[d]["dup_tokens"] = len(sp)
            out[d]["kept_tokens"] = out[d]["n_tokens"] - len(sp)
            out[d]["n_islands"] = sum(
                1 for j, p in enumerate(sp) if j == 0 or p != sp[j - 1] + 1
            )
        return out

    @settings(max_examples=3, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(min_value=0, max_value=3), min_size=0, max_size=3),
            min_size=2,
            max_size=8,
        )
    )
    def prop(doc_specs):
        import os as _os

        texts = {}
        for i, spec in enumerate(doc_specs):
            parts = [blocks[j] if j < 3 else f"u{i}x{n}" for n, j in enumerate(spec)]
            # every doc gets one unique token so no two docs are
            # constructed identical AND empty specs stay short
            texts[i] = " ".join(parts + [f"uniq{i}"])
        tmpdir = str(tmp_path / f"q219_prop_{uuid.uuid4().hex}")
        try:
            spark.createDataFrame(
                list(texts.items()), "doc_id long, text string"
            ).write.parquet(_os.path.join(tmpdir, "documents.parquet"))
            got = {
                r["doc_id"]: r.asDict()
                for r in q219_substring_dedup(spark, tmpdir).collect()
            }
            release_session_state(spark)
            want = py_ledger(texts, k)
            assert set(got) == set(want)
            for d in want:
                assert got[d] == {"doc_id": d, **want[d]}, (d, got[d], want[d])
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)

    prop()


# ---------------------------------------------------------------------------
# q220 per-snapshot incremental URL dedup
# ---------------------------------------------------------------------------


def _write_snap_docs(spark, tmp_path, docs):
    """Hand corpus helper for the q220 pins: (doc_id, lang, text, source)
    rows — source is load-bearing (the snapshot axis derives from it)."""
    import os

    d = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, lang string, text string, source string"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    return d


_Q220_COLS = (
    "snap", "url_copies", "n_snapshots_seen", "first_seen_snap",
    "kept_inc", "kept_within", "recrawl",
)


def test_q220_snapshot_stage_decision_pins(spark, tmp_path):
    """q220's decision pins on a hand corpus with a full hand-derived
    ledger (snap = int(digits(source)) % 4):

    (a) crawl order beats doc_id — 'green motor' is crawled by doc 70 in
        snapshot 0 and doc 50 in snapshot 1: the INCREMENTAL keeper is
        70 (earlier snapshot) even though 50 < 70; 50 is its own
        snapshot's first copy, so it is exactly a recrawl (q218's plain
        min-doc_id argmin would keep 50 — the axis is genuinely new);
    (b) same-snapshot duplicate — 'blue rocket' twice in snapshot 0
        (src0/src4 both fold to snap 0): both policies drop the higher
        doc_id, recrawl 0 (policy disagreement needs a snapshot gap);
    (c) late first-seen — 'red balloon' first appears in snapshot 2 and
        is KEPT by the incremental policy (state contains only URLs
        from earlier snapshots);
    (d) 3-snapshot chain — 'alpha beta' in snapshots 0/1/2: one
        incremental keeper, one within-keeper per snapshot, recrawl =
        n_snapshots_seen - 1.

    Then Spark vs the DuckDB oracle row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q220_SQL,
        q220_snapshot_incremental_dedup,
    )

    docs = [
        (70, "en", "green motor fill70a fill70b fill70c", "src0"),
        (50, "en", "green motor fill50a fill50b fill50c", "src1"),
        (10, "en", "blue rocket fill10a fill10b fill10c", "src0"),
        (30, "en", "blue rocket fill30a fill30b fill30c", "src4"),
        (40, "en", "red balloon fill40a fill40b fill40c", "src2"),
        (20, "en", "alpha beta fill20a fill20b fill20c", "src0"),
        (21, "en", "alpha beta fill21a fill21b fill21c", "src1"),
        (22, "en", "alpha beta fill22a fill22b fill22c", "src6"),
        (99, "en", None, "src0"),
    ]
    d = _write_snap_docs(spark, tmp_path, docs)
    rows = {
        r["doc_id"]: r.asDict()
        for r in q220_snapshot_incremental_dedup(spark, d).collect()
    }
    assert set(rows) == {10, 20, 21, 22, 30, 40, 50, 70}  # non-null docs
    expect = {
        70: (0, 2, 2, 0, 1, 1, 0),
        50: (1, 2, 2, 0, 0, 1, 1),
        10: (0, 2, 1, 0, 1, 1, 0),
        30: (0, 2, 1, 0, 0, 0, 0),
        40: (2, 1, 1, 2, 1, 1, 0),
        20: (0, 3, 3, 0, 1, 1, 0),
        21: (1, 3, 3, 0, 0, 1, 1),
        22: (2, 3, 3, 0, 0, 1, 1),
    }
    for k, want in expect.items():
        assert tuple(rows[k][c] for c in _Q220_COLS) == want, (k, rows[k])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q220_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert sr == drows[k], (k, sr, drows[k])


def test_q220_fold_matches_closed_form(spark, tmp_path):
    """The genuine per-snapshot fold (anti-join each snapshot's
    within-keepers against accumulated URL state — the production
    incremental execution) must return exactly the closed form's
    kept_inc == 1 set, on the hand corpus of the pins test AND on the
    sf corpus. A fold bug that consults the wrong state (e.g. keepers
    instead of all seen URLs) flips pin-(a)-style rows."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q220_snapshot_incremental_dedup,
        snapshot_fold_url_dedup,
    )

    docs = [
        (70, "en", "green motor fill70a fill70b fill70c", "src0"),
        (50, "en", "green motor fill50a fill50b fill50c", "src1"),
        (10, "en", "blue rocket fill10a fill10b fill10c", "src0"),
        (30, "en", "blue rocket fill30a fill30b fill30c", "src4"),
        (40, "en", "red balloon fill40a fill40b fill40c", "src2"),
        (99, "en", None, "src0"),
    ]
    d = _write_snap_docs(spark, tmp_path, docs)
    for sf_dir in (d, SF):
        closed = sorted(
            r["doc_id"]
            for r in q220_snapshot_incremental_dedup(spark, sf_dir).collect()
            if r["kept_inc"] == 1
        )
        fold = sorted(
            r["doc_id"] for r in snapshot_fold_url_dedup(spark, sf_dir).collect()
        )
        assert fold == closed, sf_dir


def test_q220_consistency_sf(spark):
    """q220 invariants on the sf corpus: per-row policy containment
    (incremental keepers are within-keepers; recrawl is exactly their
    difference), snapshot geometry (first_seen_snap <= snap;
    url_copies >= n_snapshots_seen >= 1; singletons untouched by both
    policies), per-URL-group identities re-derived by joining the
    ledger back to the shared URL derivation (sum kept_inc = 1,
    sum kept_within = n_snapshots_seen, sum recrawl =
    n_snapshots_seen - 1 per group), and non-vacuous recrawl mass
    (measured: 30 recrawls at sf0.001)."""
    from pyspark.sql import functions as F

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _doc_urls,
        q220_snapshot_incremental_dedup,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )

    ledger = q220_snapshot_incremental_dedup(spark, SF)
    rows = [r.asDict() for r in ledger.collect()]
    assert rows
    for r in rows:
        assert r["kept_inc"] <= r["kept_within"], r
        assert r["recrawl"] == r["kept_within"] - r["kept_inc"], r
        assert r["first_seen_snap"] <= r["snap"], r
        assert r["url_copies"] >= r["n_snapshots_seen"] >= 1, r
        if r["url_copies"] == 1:
            assert (r["kept_inc"], r["kept_within"], r["recrawl"]) == (1, 1, 0), r
    assert sum(r["recrawl"] for r in rows) > 0

    docs = load_table(spark, SF, "documents").filter(F.col("text").isNotNull())
    urls = _doc_urls(docs.select("doc_id", "lang", "text"))
    per_group = (
        ledger.join(urls.select("doc_id", "url_norm"), "doc_id")
        .groupBy("url_norm")
        .agg(
            F.sum("kept_inc").alias("ki"),
            F.sum("kept_within").alias("kw"),
            F.sum("recrawl").alias("rc"),
            F.max("n_snapshots_seen").alias("ns"),
        )
        .collect()
    )
    for gr in per_group:
        assert gr["ki"] == 1, gr
        assert gr["kw"] == gr["ns"], gr
        assert gr["rc"] == gr["ns"] - 1, gr


def test_q220_url_groups_match_q218(spark):
    """Single-definition check across the two URL-axis operators: q220's
    per-document url_copies must equal q218's url_group_size for every
    document (both derive from _doc_urls/_url_cte_sql — a drift would
    mean the shared adapter forked)."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        q218_url_curation_pipeline,
        q220_snapshot_incremental_dedup,
    )
    from project_1_greentech_logistics_data_pipeline_spark.session import (
        release_session_state,
    )

    g218 = {
        r["doc_id"]: r["url_group_size"]
        for r in q218_url_curation_pipeline(spark, SF).collect()
    }
    release_session_state(spark)
    g220 = {
        r["doc_id"]: r["url_copies"]
        for r in q220_snapshot_incremental_dedup(spark, SF).collect()
    }
    assert g218 == g220


def test_q220_properties_random_corpora(spark, tmp_path):
    """q220's full ledger vs a third, independent pure-Python
    reimplementation (URL normalization re-derived with re.sub, the
    snapshot fold as dict/set bookkeeping) on random small-vocab corpora
    with random source assignment — slug collisions are common by
    construction, so multi-snapshot groups and pin-(a)-shaped
    crawl-order-vs-doc_id disagreements occur across examples."""
    import re as _re
    import shutil
    import uuid

    from hypothesis import given, settings, strategies as st

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _SNAP_MOD,
        _URL_NORM_STEPS,
        _URL_SLUG_TOKENS,
        _URL_STRIP,
        q220_snapshot_incremental_dedup,
    )
    from project_1_greentech_logistics_data_pipeline_spark.session import (
        release_session_state,
    )

    def py_url_norm(doc_id, lang, text):
        toks = _re.split(r"\s+", text.lower().strip(" "))
        slug = _re.sub(_URL_STRIP, "", "-".join(toks[:_URL_SLUG_TOKENS]))
        host = (lang or "und") + ".example.com"
        url = (
            ("https://" if doc_id % 2 == 0 else "http://")
            + ("www." if doc_id % 3 == 0 else "")
            + (host.upper() if doc_id % 11 == 0 else host)
            + "/" + slug
            + ("/" if doc_id % 5 == 0 else "")
            + ("?utm_source=feed" if doc_id % 7 == 0 else "")
        )
        norm = url.lower()
        for pat, rep in _URL_NORM_STEPS:
            norm = _re.sub(pat, rep, norm)
        return norm

    def py_ledger(rows_in):
        snap = {
            d: int(_re.search(r"([0-9]+)", src).group(1)) % _SNAP_MOD
            for d, _, t, src in rows_in
            if t is not None
        }
        norm = {
            d: py_url_norm(d, lang, t)
            for d, lang, t, _ in rows_in
            if t is not None
        }
        groups: dict = {}
        for d, n in norm.items():
            groups.setdefault(n, []).append(d)
        out = {}
        for n, ids in groups.items():
            snaps = {snap[d] for d in ids}
            inc_keeper = min(ids, key=lambda d: (snap[d], d))
            within = {
                s: min(d for d in ids if snap[d] == s) for s in snaps
            }
            for d in ids:
                ki = int(d == inc_keeper)
                kw = int(within[snap[d]] == d)
                out[d] = {
                    "doc_id": d,
                    "snap": snap[d],
                    "url_copies": len(ids),
                    "n_snapshots_seen": len(snaps),
                    "first_seen_snap": min(snaps),
                    "kept_inc": ki,
                    "kept_within": kw,
                    "recrawl": kw - ki if kw >= ki else 0,
                }
        return out

    vocab = ["the", "a", "of", "alpha", "bravo", "charlie"]
    doc = st.lists(st.sampled_from(vocab), min_size=2, max_size=6)

    @settings(max_examples=3, deadline=None)
    @given(
        st.lists(doc, min_size=2, max_size=8),
        st.lists(st.integers(min_value=0, max_value=9), min_size=8, max_size=8),
    )
    def prop(docs, src_nums):
        import os as _os

        rows_in = [
            (i, "en", " ".join(toks), f"src{src_nums[i]}")
            for i, toks in enumerate(docs)
        ]
        rows_in.append((len(rows_in), "en", None, "src0"))
        tmpdir = str(tmp_path / f"q220_prop_{uuid.uuid4().hex}")
        try:
            spark.createDataFrame(
                rows_in, "doc_id long, lang string, text string, source string"
            ).write.parquet(_os.path.join(tmpdir, "documents.parquet"))
            got = {
                r["doc_id"]: r.asDict()
                for r in q220_snapshot_incremental_dedup(spark, tmpdir).collect()
            }
            release_session_state(spark)
            want = py_ledger(rows_in)
            assert got == want
        finally:
            shutil.rmtree(tmpdir, ignore_errors=True)

    prop()


def test_q220_digitless_and_overflow_sources(spark, tmp_path):
    """The snapshot rule's edge contract (review-caught): a source with
    NO digit run, and one whose digit run exceeds int64, both fold to
    snapshot bucket 0 — identically on Spark, DuckDB, and the fold. A
    plain CAST gave three different behaviors (DuckDB conversion error,
    Spark NULL-snap inner-join row drop, Python sort TypeError); the
    one-ledger-row-per-document contract must survive any source
    string."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q220_SQL,
        q220_snapshot_incremental_dedup,
        snapshot_fold_url_dedup,
    )

    docs = [
        (1, "en", "green motor fill1a fill1b", "web"),  # no digits -> snap 0
        (2, "en", "green motor fill2a fill2b", "src99999999999999999999"),  # > int64 -> snap 0
        (3, "en", "green motor fill3a fill3b", "src1"),  # snap 1
        (4, "en", "solo page fill4a fill4b", "src2"),  # snap 2 singleton
    ]
    d = _write_snap_docs(spark, tmp_path, docs)
    rows = {
        r["doc_id"]: r.asDict()
        for r in q220_snapshot_incremental_dedup(spark, d).collect()
    }
    assert set(rows) == {1, 2, 3, 4}  # nobody dropped
    # docs 1/2 share snapshot 0 and the URL group; 3 is the group's
    # recrawl in snapshot 1
    assert rows[1][
        "snap"
    ] == 0 and rows[2]["snap"] == 0 and rows[3]["snap"] == 1
    expect = {
        1: (0, 3, 2, 0, 1, 1, 0),
        2: (0, 3, 2, 0, 0, 0, 0),
        3: (1, 3, 2, 0, 0, 1, 1),
        4: (2, 1, 1, 2, 1, 1, 0),
    }
    for k, want in expect.items():
        assert tuple(rows[k][c] for c in _Q220_COLS) == want, (k, rows[k])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q220_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert drows == rows

    fold = sorted(
        r["doc_id"] for r in snapshot_fold_url_dedup(spark, d).collect()
    )
    assert fold == sorted(k for k, v in rows.items() if v["kept_inc"] == 1)


def test_q220_doc_id_domain_guard(spark, tmp_path):
    """The integer incremental key presumes doc_id < _SNAP_KEY_BASE; an
    oversized doc_id would SILENTLY elect a later-snapshot keeper
    (inverting the pinned crawl-time axis) on both engines identically —
    the class the oracle differential cannot see (review-caught). Both
    twins must therefore raise loudly instead: doc 2e12 in snapshot 0
    sharing a URL with doc 5 in snapshot 1 is exactly the inversion
    corpus from the review's failure scenario."""
    import os

    import duckdb
    import pytest

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q220_SQL,
        _SNAP_KEY_BASE,
        q220_snapshot_incremental_dedup,
    )

    docs = [
        (2 * _SNAP_KEY_BASE, "en", "green motor filla fillb", "src0"),
        (5, "en", "green motor fillc filld", "src1"),
    ]
    d = _write_snap_docs(spark, tmp_path, docs)
    with pytest.raises(Exception, match="_SNAP_KEY_BASE"):
        q220_snapshot_incremental_dedup(spark, d).collect()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    with pytest.raises(Exception, match="_SNAP_KEY_BASE"):
        con.execute(_Q220_SQL).fetchall()

    # and the guard is inert on in-domain ids: the pins corpus max doc_id
    # (just below the base) keeps the crawl-time-beats-doc_id axis intact
    docs_ok = [
        (_SNAP_KEY_BASE - 1, "en", "green motor filla fillb", "src0"),
        (5, "en", "green motor fillc filld", "src1"),
    ]
    d2 = _write_snap_docs(spark, tmp_path / "ok", docs_ok)
    rows = {
        r["doc_id"]: r.asDict()
        for r in q220_snapshot_incremental_dedup(spark, d2).collect()
    }
    assert rows[_SNAP_KEY_BASE - 1]["kept_inc"] == 1  # earlier snapshot wins
    assert rows[5]["kept_inc"] == 0 and rows[5]["recrawl"] == 1


# ---------------------------------------------------------------------------
# q221 soft/weighted dedup
# ---------------------------------------------------------------------------


def test_q221_soft_weight_decision_pins(spark, tmp_path):
    """q221's decision pins on a hand corpus with hand-derived ppm:

    (a) component-first flooring — doc 2 is the keeper of a triple
        exact-copy cluster AND loses its leading 8-token run to doc 1:
        substr 4/12 -> 333333, copy 1/3 -> 333333, composite pinned to
        111110 (333333^2 div 1e6), NOT the 111111 an exact-once floor
        would give;
    (b) exact-copy non-keepers are double-hit — docs 3/4 (and 6) are
        fully substring-covered (substr 0) AND down-weighted by the
        copy axis: weight 0 — the documented axis overlap;
    (c) the cluster keeper keeps full substring weight — doc 5 (min
        doc_id of the exact pair) has substr 1e6 and composite exactly
        copy_weight 500000;
    (d) substr-axis truncation alone — doc 10 keeps 16 of 24 tokens:
        (1e6*16) div 24 = 666666;
    (e) untouched docs weigh exactly SCALE on every axis (docs 1, 7);
    (f) a short document (< K tokens) and an empty-text document are
        untouched on the substring axis (no grams -> kept == n_tokens
        -> substr 1e6).

    Then Spark vs the DuckDB oracle row-for-row."""
    import os

    import duckdb

    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _Q221_SQL,
        q221_soft_dedup_weights,
    )

    triple = f"{_S8} u1 u2 u3 u4"
    docs = [
        (1, f"{_S8} uniq1a uniq1b uniq1c"),
        (2, triple),
        (3, triple),
        (4, triple),
        (5, "exact dup body one two three four five six seven"),
        (6, "exact dup body one two three four five six seven"),
        (7, "solo3a solo3b solo3c solo3d solo3e solo3f solo3g solo3h"),
        (8, "short doc"),
        (9, ""),
        (10, f"{_S8} f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12 f13 f14 f15 f16"),
        (11, None),
    ]
    d = _write_plain_docs(spark, tmp_path, docs)
    rows = {
        r["doc_id"]: r.asDict()
        for r in q221_soft_dedup_weights(spark, d).collect()
    }
    assert set(rows) == set(range(1, 11))  # non-null docs only
    M = 1_000_000
    # (doc_id): n_tokens, kept_tokens, n_copies, substr_w, copy_w, weight
    expect = {
        1: (11, 11, 1, M, M, M),
        2: (12, 4, 3, 333333, 333333, 111110),
        3: (12, 0, 3, 0, 333333, 0),
        4: (12, 0, 3, 0, 333333, 0),
        5: (10, 10, 2, M, 500000, 500000),
        6: (10, 0, 2, 0, 500000, 0),
        7: (8, 8, 1, M, M, M),
        8: (2, 2, 1, M, M, M),
        10: (24, 16, 1, 666666, M, 666666),
    }
    cols = (
        "n_tokens", "kept_tokens", "n_copies",
        "substr_weight_ppm", "copy_weight_ppm", "weight_ppm",
    )
    for k, want in expect.items():
        assert tuple(rows[k][c] for c in cols) == want, (k, rows[k])
    # empty text: whatever the tokenizer yields, the doc is untouched
    # on both axes (no grams, unique fingerprint)
    assert rows[9]["substr_weight_ppm"] == M
    assert rows[9]["copy_weight_ppm"] == M and rows[9]["weight_ppm"] == M

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    res = con.execute(_Q221_SQL)
    dcols = [c[0] for c in res.description]
    drows = {r[0]: dict(zip(dcols, r)) for r in res.fetchall()}
    assert set(drows) == set(rows)
    for k, sr in rows.items():
        assert sr == drows[k], (k, sr, drows[k])


def test_q221_consistency_sf(spark):
    """q221 invariants on the sf corpus, plus composition checks against
    the two parents: the substring columns equal q219's ledger verbatim,
    n_copies equals q43's fingerprint cluster size, and the weight
    algebra holds row-by-row (weight == (substr*copy) div SCALE;
    substr == SCALE iff dup_tokens == 0; copy == SCALE iff n_copies
    == 1; weight <= min(substr, copy))."""
    from project_1_greentech_logistics_data_pipeline_spark.operators.dedup import (
        _W_SCALE,
        q43_dedup_exact_docs,
        q219_substring_dedup,
        q221_soft_dedup_weights,
    )

    rows = {
        r["doc_id"]: r.asDict()
        for r in q221_soft_dedup_weights(spark, SF).collect()
    }
    assert rows
    led = {
        r["doc_id"]: r.asDict() for r in q219_substring_dedup(spark, SF).collect()
    }
    assert set(rows) == set(led)
    for k, r in rows.items():
        for c in ("n_tokens", "dup_tokens", "kept_tokens"):
            assert r[c] == led[k][c], (k, c)
        assert r["n_copies"] >= 1
        assert (r["substr_weight_ppm"] == _W_SCALE) == (r["dup_tokens"] == 0), r
        assert (r["copy_weight_ppm"] == _W_SCALE) == (r["n_copies"] == 1), r
        assert (
            r["weight_ppm"]
            == (r["substr_weight_ppm"] * r["copy_weight_ppm"]) // _W_SCALE
        ), r
        assert r["weight_ppm"] <= min(
            r["substr_weight_ppm"], r["copy_weight_ppm"]
        ), r
    # corpus exercises the operator: down-weighted docs exist
    assert any(r["weight_ppm"] < _W_SCALE for r in rows.values())
    # n_copies matches q43's cluster sizes (summed over clusters the
    # totals agree; q43 groups ALL docs — null-text docs have no text
    # mass and a null fingerprint cluster, excluded here)
    q43 = {
        r["fingerprint"]: r["n_copies"]
        for r in q43_dedup_exact_docs(spark, SF).collect()
    }
    assert sum(q43.values()) >= len(rows)
