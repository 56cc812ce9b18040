"""Canonical schemas.

TELEMETRY_SCHEMA mirrors the reference's declared engine schema
(/root/reference/Glue/Glue_job.py:36-46): all-nullable, timestamp kept as an
ISO-8601 *string* end-to-end (the reference never parses it), nested
location struct. The engine additionally captures corrupt JSON in
``_corrupt_record`` instead of silently yielding NULL structs (SURVEY §1.4).

Testdata schemas match /root/testdata/sf*/ parquet files (FIXTURES.md §B);
they are declared so file scans never pay schema inference and so column
pruning/pushdown information is exact.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- telemetry (reference parity) -----------------------------------------

LOCATION_SCHEMA = T.StructType(
    [
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
    ]
)

# Glue/Glue_job.py:36-46 — declared, not inferred.
TELEMETRY_SCHEMA = T.StructType(
    [
        T.StructField("truck_id", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),  # ISO string, never parsed (ref parity)
        T.StructField("location", LOCATION_SCHEMA, True),
        T.StructField("fuel_level", T.DoubleType(), True),
        T.StructField("temperature", T.DoubleType(), True),
        T.StructField("delivery_status", T.StringType(), True),
    ]
)

# Validation rule constants — single source of truth, mirroring
# great_expectations/Expectations/Validation_checks.json:3-31 and
# Glue/Glue_job.py:56-61.
FUEL_RANGE = (0.0, 100.0)
TEMPERATURE_RANGE = (-10.0, 60.0)
VALID_DELIVERY_STATUSES = ("in_transit", "delivered", "delayed")

# Rejection reason labels in declared order (Glue/Glue_job.py:72-79).
REASON_MISSING_TRUCK_ID = "missing_truck_id"
REASON_FUEL_OUT_OF_RANGE = "fuel_level_out_of_range"
REASON_TEMP_OUT_OF_RANGE = "temperature_out_of_range"
REASON_INVALID_STATUS = "invalid_delivery_status"
REASON_MISSING_LAT = "missing_lat"
REASON_MISSING_LON = "missing_lon"

PIPELINE_NAME = "green_tech_raw_to_curated_job"  # Glue/Glue_job.py:139

# --- driver testdata (FIXTURES.md §B) --------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # logical type; physically stored as parquet TIMESTAMP(NANOS)
            # which Spark cannot scan directly — see PHYSICAL_SCHEMAS
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)

# events.ts is parquet INT64 TIMESTAMP(NANOS,false), which Spark's parquet
# reader rejects ([PARQUET_TYPE_ILLEGAL]). With
# spark.sql.legacy.parquet.nanosAsLong=true it scans as epoch-nanos LongType;
# readers.load_table converts to the logical timestamp_ntz with exact integer
# division (ns div 1000 -> us).
PHYSICAL_SCHEMAS: dict[str, T.StructType] = {
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
}
