"""Multi-format io: CSV/JSONL/ORC round-trips with declared schemas, and
pushdown reaching the ORC scan."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_1_greentech_logistics_data_pipeline_spark.plans import explain_str
from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
    load_table,
    read_csv,
    read_jsonl,
    read_orc,
)

SF = "/root/testdata/sf0.001"


def test_csv_roundtrip_with_declared_schema(spark, tmp_path):
    src = load_table(spark, SF, "nation")
    p = str(tmp_path / "nation_csv")
    src.write.option("header", "true").csv(p)
    back = read_csv(spark, p, src.schema)
    assert back.count() == src.count()
    assert back.schema == src.schema
    assert {r["n_name"] for r in back.collect()} == {r["n_name"] for r in src.collect()}


def test_csv_malformed_row_is_null_not_fatal(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nnot_an_int,3\n")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.IntegerType())]
    )
    rows = read_csv(spark, str(p), schema).collect()
    assert len(rows) == 2  # malformed row kept, fields nulled
    assert any(r["a"] is None for r in rows)


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    p = tmp_path / "events.jsonl"
    p.write_text('{"k": 1, "v": "x"}\n{"k": 2, "v": "y"}\nTHIS IS NOT JSON\n')
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    df = read_jsonl(spark, str(p), schema)
    rows = df.collect()
    assert len(rows) == 3
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["k"] is None


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    src = load_table(spark, SF, "orders")
    p = str(tmp_path / "orders_orc")
    src.write.orc(p)
    back = read_orc(spark, p, src.schema)
    assert back.count() == src.count()
    plan = explain_str(back.filter(F.col("o_orderkey") == 42).select("o_orderkey", "o_totalprice"))
    # predicate + projection reach the ORC scan
    assert "PushedFilters" in plan and "o_orderkey" in plan.split("PushedFilters", 1)[1][:200]


def test_compact_table_merges_small_files(spark, tmp_path):
    import glob

    from project_1_greentech_logistics_data_pipeline_spark.sources.writers import (
        compact_table,
    )

    p = str(tmp_path / "frag")
    src = load_table(spark, SF, "lineitem")
    # simulate a streaming sink's fragmentation: many tiny appends
    for i in range(5):
        src.filter(F.col("l_linenumber") == i + 1).repartition(8).write.mode(
            "append"
        ).parquet(p)
    before_files = len(glob.glob(f"{p}/*.parquet"))
    before_count = spark.read.parquet(p).count()
    n_out = compact_table(spark, p)
    after_files = len(glob.glob(f"{p}/*.parquet"))
    assert before_files > 20 and after_files == n_out == 1
    assert spark.read.parquet(p).count() == before_count


def test_binary_file_source(spark, tmp_path):
    """binaryFile source: one row per file, exact bytes, glob filtering."""
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        read_binary_files,
    )

    payloads = {
        "a.jpg": b"\xff\xd8\xff\xe0fakejpeg",
        "b.jpg": b"\xff\xd8\xff\xe1other",
        "c.txt": b"not media",
    }
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    df = read_binary_files(spark, str(tmp_path), glob="*.jpg")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.jpg", "b.jpg"}
    assert bytes(rows["a.jpg"]["content"]) == payloads["a.jpg"]
    assert rows["b.jpg"]["length"] == len(payloads["b.jpg"])

    # feeds the multimodal contract: project into (content, mime, meta)
    from pyspark.sql import functions as F

    media = df.select(
        F.col("content"),
        F.lit("image/jpeg").alias("mime"),
        F.create_map(F.lit("src"), F.col("path")).alias("meta"),
    )
    assert [f.dataType.simpleString() for f in media.schema.fields][:2] == [
        "binary",
        "string",
    ]
    assert media.count() == 2


def test_upsert_by_key(spark, tmp_path):
    """upsert_by_key: matched keys replaced, new keys inserted, others kept;
    a second identical upsert is idempotent."""
    from project_1_greentech_logistics_data_pipeline_spark.sources.writers import (
        upsert_by_key,
    )

    target = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double"
    )
    upsert_by_key(spark, target, base, keys=["id"])  # bootstrap: all inserts

    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "id long, name string, v double"
    )
    upsert_by_key(spark, target, updates, keys=["id"])
    rows = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert rows == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    upsert_by_key(spark, target, updates, keys=["id"])  # idempotent re-run
    rows2 = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(target).collect()}
    assert rows2 == rows


def test_upsert_and_compact_recover_interrupted_swap(spark, tmp_path):
    """A crash between the swap's two renames leaves only the backup; the
    next upsert restores it instead of treating the table as new, and a
    stale backup left after a completed swap does not block compaction."""
    import os

    from project_1_greentech_logistics_data_pipeline_spark.sources.writers import (
        compact_table,
        upsert_by_key,
    )

    target = str(tmp_path / "tbl")
    base = spark.createDataFrame([(i, float(i)) for i in range(5)], "id long, v double")
    upsert_by_key(spark, target, base, keys=["id"])
    os.rename(target, target + "._old")  # the interrupted swap

    upsert_by_key(
        spark, target, spark.createDataFrame([(9, 9.0)], "id long, v double"), keys=["id"]
    )
    assert sorted(r["id"] for r in spark.read.parquet(target).collect()) == [0, 1, 2, 3, 4, 9]
    assert not os.path.exists(target + "._old")

    os.makedirs(target + "._old")  # stale backup of a completed swap
    open(os.path.join(target + "._old", "part-0.parquet"), "w").close()
    compact_table(spark, target)
    assert spark.read.parquet(target).count() == 6
    assert not os.path.exists(target + "._old")


def test_python_datasource_telemetry_gen(spark):
    """Spark-4 Python Data Source: distributed deterministic telemetry
    generator — partition-parallel, reproducible, ~15% anomaly mix."""
    from pyspark.sql import functions as F

    from project_1_greentech_logistics_data_pipeline_spark.sources.datasource_gen import (
        register,
    )

    register(spark)
    reader = (
        spark.read.format("telemetry_gen")
        .option("rows", 4000)
        .option("partitions", 8)
        .option("seed", 7)
    )
    df = reader.load()
    assert df.count() == 4000
    assert df.rdd.getNumPartitions() == 8
    # deterministic: same options -> identical dataset
    h1 = df.orderBy("truck_id", "timestamp").agg(
        F.md5(F.concat_ws("|", F.collect_list(F.concat_ws(",", *df.columns))))
    ).collect()[0][0]
    h2 = reader.load().orderBy("truck_id", "timestamp").agg(
        F.md5(F.concat_ws("|", F.collect_list(F.concat_ws(",", *df.columns))))
    ).collect()[0][0]
    assert h1 == h2
    # anomaly mix near the reference's 15% (Producer.py:138-139)
    frac = df.filter(F.col("injected_anomaly").isNotNull()).count() / 4000
    assert 0.11 <= frac <= 0.19, frac
    # anomalous rows really carry anomalies: out-of-range fuel present
    assert df.filter(F.col("fuel_level") > 100).count() > 0
    assert df.filter(F.isnan("temperature")).count() > 0


def test_incremental_agg_equals_full_recompute(spark, tmp_path):
    """Folding batches into the aggregate state must equal aggregating all
    data at once (decimal sums are associative), across three batches."""
    from pyspark.sql import functions as F

    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        load_table,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.writers import (
        incremental_agg,
    )

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    batches = [
        li.filter(F.col("l_orderkey") % 3 == i).select(
            "l_returnflag", "l_extendedprice"
        )
        for i in range(3)
    ]
    state = str(tmp_path / "state")
    for b in batches:
        result = incremental_agg(spark, state, b, ["l_returnflag"], "l_extendedprice")

    got = {
        r["l_returnflag"]: (r["cnt"], float(r["total"]))
        for r in result.collect()
    }
    want = {
        r["l_returnflag"]: (r["cnt"], float(r["total"]))
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("total"),
        )
        .collect()
    }
    assert got == want


def test_schema_evolution_append_then_merged_read(spark, tmp_path):
    """Delta mergeSchema semantics mirrored on the parquet path
    (reference writes format('delta').option('mergeSchema','true')):
    a later append adds a column; read_evolved surfaces the union schema
    with NULLs for pre-evolution rows, and no rows are lost."""
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        read_evolved,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.writers import (
        write_table,
    )

    p = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    write_table(v1, p, mode="append")
    v2 = spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.9)], ["id", "name", "score"]
    )
    write_table(v2, p, mode="append")

    merged = read_evolved(spark, p)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: (r["name"], r["score"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5), 4: ("d", 0.9)}


def test_overwrite_replaces_append_accumulates(spark, tmp_path):
    """Overwrite/append parity on write_table: append accumulates rows
    across runs (the reference's rerun-duplication hazard), overwrite is
    idempotent — rerunning yields the same table."""
    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import (
        read_evolved,
    )
    from project_1_greentech_logistics_data_pipeline_spark.sources.writers import (
        write_table,
    )

    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    p_app = str(tmp_path / "app")
    write_table(df, p_app, mode="append")
    write_table(df, p_app, mode="append")
    assert spark.read.parquet(p_app).count() == 4  # duplication hazard

    p_ovr = str(tmp_path / "ovr")
    write_table(df, p_ovr, mode="overwrite")
    write_table(df, p_ovr, mode="overwrite")
    assert spark.read.parquet(p_ovr).count() == 2  # idempotent

    # evolution composes with overwrite: the new schema fully replaces
    df2 = spark.createDataFrame([(9, "z", True)], ["id", "v", "flag"])
    write_table(df2, p_ovr, mode="overwrite")
    assert set(read_evolved(spark, p_ovr).columns) == {"id", "v", "flag"}


def test_load_table_handles_nanos_timestamps_any_table(spark, tmp_path):
    """The driver testdata regenerates per round and has shipped timestamp
    columns as both TIMESTAMP(MICROS) and TIMESTAMP(NANOS). load_table
    footer-sniffs EVERY timestamp column of every table and routes nanos
    files through the long-scan + exact ns->us conversion — including
    tables that have only ever shipped micros so far (orders here)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from project_1_greentech_logistics_data_pipeline_spark.sources.readers import load_table

    sf = str(tmp_path)
    base = "/root/testdata/sf0.001"

    for tbl, tscols in (("events", ["ts"]), ("orders", ["o_orderdate"])):
        t = pq.read_table(f"{base}/{tbl}.parquet")
        fields = [
            pa.field(f.name, pa.timestamp("ns") if f.name in tscols else f.type)
            for f in t.schema
        ]
        pq.write_table(t.cast(pa.schema(fields)), f"{sf}/{tbl}.parquet")

        got = load_table(spark, sf, tbl)
        want = load_table(spark, base, tbl)
        assert got.schema == want.schema, f"{tbl}: schema drift under nanos"
        for c in tscols:
            gmin, gmax = got.agg(F.min(c), F.max(c)).collect()[0]
            wmin, wmax = want.agg(F.min(c), F.max(c)).collect()[0]
            assert (gmin, gmax) == (wmin, wmax), f"{tbl}.{c}: value drift"
        assert got.count() == want.count()
