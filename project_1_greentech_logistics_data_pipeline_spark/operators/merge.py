"""ANSI MERGE INTO semantics as a declarative DataFrame operator.

The reference's only table maintenance is blind overwrite/append
(Glue/Glue_job.py:125,128); real warehouse loads need MERGE — conditional
UPDATE / DELETE on matched keys, conditional INSERT on new keys, and the
NOT MATCHED BY SOURCE extension. Spark SQL only parses MERGE INTO against
v2 row-level-operation catalogs (Delta/Iceberg), so on plain files the
engine expresses merge the way those formats implement it underneath: ONE
full-outer join on the merge keys plus per-clause CASE projection — a
single shuffle on the key, no driver involvement, broadcastable when the
source is small.

`merge_frames` is the pure relational core (returns the post-merge table);
`writers.upsert_by_key` remains the degenerate unconditional-update path
with the staged atomic swap. Clause precedence follows ANSI: WHEN MATCHED
clauses evaluate in order (update before delete here), first hit wins.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import dsum, dsum_sql
from ..registry import query, table


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    on: list[tuple[str, str]],
    matched_update: dict[str, Column] | None = None,
    matched_update_cond: Column | None = None,
    matched_delete_cond: Column | None = None,
    insert_values: dict[str, Column] | None = None,
    insert_cond: Column | None = None,
    not_matched_by_source_delete_cond: Column | None = None,
) -> DataFrame:
    """Post-merge content of `target` after applying MERGE clauses.

    on: [(target_key, source_key), ...] equi-keys.
    Clause expressions reference columns as F.col("t.<col>") / F.col("s.<col>").
    Output schema == target schema. ANSI precedence: for matched rows the
    UPDATE clause (with its condition) is tried first, then DELETE; rows
    matching neither stay unchanged. Source rows must be unique per key
    (ANSI raises on multi-match; pre-aggregate the source).
    """
    matched_update = matched_update or {}
    insert_values = insert_values or {}
    tt = target.withColumn("_t", F.lit(True)).alias("t")
    ss = source.withColumn("_s", F.lit(True)).alias("s")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{tk}") == F.col(f"s.{sk}") for tk, sk in on],
    )
    j = tt.join(ss, cond, "full_outer")

    is_matched = F.col("t._t").isNotNull() & F.col("s._s").isNotNull()
    t_only = F.col("t._t").isNotNull() & F.col("s._s").isNull()
    s_only = F.col("t._t").isNull() & F.col("s._s").isNotNull()

    upd_fires = is_matched & (
        matched_update_cond if matched_update_cond is not None else F.lit(bool(matched_update))
    )
    del_fires = (
        is_matched
        & ~F.coalesce(upd_fires, F.lit(False))
        & (matched_delete_cond if matched_delete_cond is not None else F.lit(False))
    )
    ins_fires = s_only & (
        (insert_cond if insert_cond is not None else F.lit(True))
        if insert_values
        else F.lit(False)
    )
    nmbs_del = t_only & (
        not_matched_by_source_delete_cond
        if not_matched_by_source_delete_cond is not None
        else F.lit(False)
    )

    keep = (
        (is_matched & ~F.coalesce(del_fires, F.lit(False)))
        | (t_only & ~F.coalesce(nmbs_del, F.lit(False)))
        | ins_fires
    )

    cols = []
    for c in target.columns:
        base = F.col(f"t.{c}")
        if c in matched_update:
            base = F.when(F.coalesce(upd_fires, F.lit(False)), matched_update[c]).otherwise(base)
        expr = F.when(ins_fires, insert_values.get(c, F.lit(None))).otherwise(base)
        cols.append(expr.alias(c))
    return j.filter(keep).select(*cols)


# ---------------------------------------------------------------------------
# q115: full MERGE scenario over customer/orders, exactly oracle-checked.
# Arithmetic stays IEEE-deterministic: the decimal order-sum is cast to
# double once, then only double +, / by a power of two — bit-identical on
# both engines with no rounding-mode exposure.
# ---------------------------------------------------------------------------

_Q115_SQL = f"""
WITH tgt AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING'
),
src AS (
  SELECT o_custkey,
         COUNT(*) AS n_orders,
         {dsum_sql("o_totalprice")} AS total
  FROM orders GROUP BY o_custkey
),
updated AS (
  SELECT t.c_custkey, t.c_name, t.c_acctbal + s.total / 1024 AS c_acctbal
  FROM tgt t JOIN src s ON t.c_custkey = s.o_custkey
  WHERE s.total > 400000
),
deleted_keys AS (
  SELECT t.c_custkey
  FROM tgt t JOIN src s ON t.c_custkey = s.o_custkey
  WHERE NOT (s.total > 400000) AND s.n_orders >= 25
),
matched_untouched AS (
  SELECT t.c_custkey, t.c_name, t.c_acctbal
  FROM tgt t JOIN src s ON t.c_custkey = s.o_custkey
  WHERE NOT (s.total > 400000) AND NOT (s.n_orders >= 25)
),
inserted AS (
  SELECT s.o_custkey AS c_custkey,
         'merged-' || CAST(s.o_custkey AS VARCHAR) AS c_name,
         s.total / 1024 AS c_acctbal
  FROM src s ANTI JOIN tgt t ON t.c_custkey = s.o_custkey
  WHERE s.total > 500000
),
target_only_kept AS (
  SELECT t.c_custkey, t.c_name, t.c_acctbal
  FROM tgt t ANTI JOIN src s ON t.c_custkey = s.o_custkey
  WHERE NOT (t.c_acctbal < 0)
)
SELECT * FROM updated
UNION ALL SELECT * FROM matched_untouched
UNION ALL SELECT * FROM inserted
UNION ALL SELECT * FROM target_only_kept
"""


@query("q115_merge_into", _Q115_SQL)
def q115_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO building-segment customers FROM per-customer order totals:

      WHEN MATCHED AND total > 400000   THEN UPDATE acctbal += total/1024
      WHEN MATCHED AND n_orders >= 25   THEN DELETE
      WHEN NOT MATCHED AND total > 500000
                                        THEN INSERT (key, 'merged-'||key, total/1024)
      WHEN NOT MATCHED BY SOURCE AND acctbal < 0 THEN DELETE

    The oracle is the clause-by-clause UNION ALL expansion — a structurally
    different formulation than the engine's single full-outer-join plan, so
    the check is independent. Scale shape: one shuffle on the merge key
    (source pre-aggregated, so no multi-match); with a small source the
    outer join broadcasts."""
    tgt = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal")
    )
    src = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total"),
        )
    )
    total, n_orders = F.col("s.total"), F.col("s.n_orders")
    return merge_frames(
        tgt,
        src,
        on=[("c_custkey", "o_custkey")],
        matched_update={"c_acctbal": F.col("t.c_acctbal") + total / 1024},
        matched_update_cond=total > 400000,
        matched_delete_cond=n_orders >= 25,
        insert_values={
            "c_custkey": F.col("s.o_custkey"),
            "c_name": F.concat(F.lit("merged-"), F.col("s.o_custkey").cast("string")),
            "c_acctbal": total / 1024,
        },
        insert_cond=total > 500000,
        not_matched_by_source_delete_cond=F.col("t.c_acctbal") < 0,
    )
