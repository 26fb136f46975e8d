"""Operator inventory demos (SURVEY.md §2) expressed on the synthetic tables.

Each query isolates one operator family from the reference engine
(Health-Informatics-UoN/carrot-transform) in its idiomatic Spark form, with
a DuckDB oracle. Reference citations are on each function.

These run under the *driver's* SparkSession, so they assume nothing about
session config: ANSI-safe functions (try_to_timestamp), explicit casts,
deterministic orders for any limit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from carrot_transform_spark.queries import dsum, load, maybe_broadcast, register_suite

# The single-operator demos below are folded into two registry entries
# (op_rowops_suite / op_keyops_suite) via checksum suites — see
# queries/__init__.py. Each sub-check keeps its full-strength oracle.

# ---------------------------------------------------------------------------
# P1/P2/P3 — projection / rename / constant assignment / not-null defaults
# (reference: record_builder.py:28-51, core.py:70-102, omopcdm.py:113-118)
# ---------------------------------------------------------------------------

_P1_SQL = """
    SELECT c_custkey AS person_ref,
           c_name    AS source_value,
           0         AS type_concept_id,
           CASE WHEN c_acctbal < 0 THEN 0.0 ELSE ROUND(c_acctbal, 2) END AS acctbal_nonneg,
           UPPER(c_mktsegment) AS segment
    FROM customer
    """


def op_p1_p3_project_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("person_ref"),
        F.col("c_name").alias("source_value"),
        F.lit(0).alias("type_concept_id"),
        F.when(F.col("c_acctbal") < 0, F.lit(0.0))
        .otherwise(F.round("c_acctbal", 2))
        .alias("acctbal_nonneg"),
        F.upper("c_mktsegment").alias("segment"),
    )


# ---------------------------------------------------------------------------
# F1/F5 + J1 — non-blank filter + term-mapping broadcast join with wildcard
# (reference: validation.py:8-10, concept_helpers.py:47-62)
# ---------------------------------------------------------------------------

_TERM_MAP = [
    # (source_value, concept_id) — '*' is the wildcard row
    ("1-URGENT", 44818000),
    ("2-HIGH", 44818001),
    ("3-MEDIUM", 44818002),
    ("*", 0),
]


_J1_SQL = """
    SELECT o.o_orderkey,
           o.o_orderpriority AS source_value,
           COALESCE(m.concept_id, w.concept_id) AS priority_concept_id
    FROM orders o
    LEFT JOIN (VALUES ('1-URGENT', 44818000), ('2-HIGH', 44818001), ('3-MEDIUM', 44818002))
           AS m(source_value, concept_id) ON o.o_orderpriority = m.source_value
    CROSS JOIN (VALUES (0,)) AS w(concept_id)
    WHERE TRIM(o.o_orderpriority) <> ''
    """


def op_j1_term_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value->concept dictionary lookup: exact match wins over wildcard.

    The rules table is tiny -> broadcast hash join; the wildcard fallback is a
    constant (a 1-row cross join on the oracle side, a coalesce here).
    """
    o = load(spark, sf_dir, "orders").filter(F.trim("o_orderpriority") != "")
    exact = [(v, c) for v, c in _TERM_MAP if v != "*"]
    wild = next(c for v, c in _TERM_MAP if v == "*")
    rules = spark.createDataFrame(exact, "source_value string, concept_id int")
    return (
        o.join(F.broadcast(rules), o.o_orderpriority == rules.source_value, "left")
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("source_value"),
            F.coalesce("concept_id", F.lit(wild)).alias("priority_concept_id"),
        )
    )


# ---------------------------------------------------------------------------
# U1 — per-column record fan-out (unpivot/melt)
# (reference: run.py:244-302 per-datacol loop; orchestrator.py:160-225)
# ---------------------------------------------------------------------------


_U1_SQL = """
    SELECT o_orderkey, field_name, field_value FROM (
        SELECT o_orderkey, 'o_orderstatus' AS field_name, o_orderstatus AS field_value FROM orders
        UNION ALL
        SELECT o_orderkey, 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT o_orderkey, 'o_totalprice_band',
               CASE WHEN o_totalprice >= 100000 THEN 'HIGH' ELSE 'LOW' END FROM orders
    ) t
    WHERE TRIM(field_value) <> ''
    """


def op_u1_unpivot_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt N mapped columns into (row, field, value) — one stack() projection,
    single scan, no shuffle. This is the core shape transformer of the
    reference's per-datacol loop."""
    o = load(spark, sf_dir, "orders").withColumn(
        "o_totalprice_band",
        F.when(F.col("o_totalprice") >= 100000, F.lit("HIGH")).otherwise(F.lit("LOW")),
    )
    melted = o.select(
        "o_orderkey",
        F.expr(
            "stack(3, 'o_orderstatus', o_orderstatus, "
            "'o_orderpriority', o_orderpriority, "
            "'o_totalprice_band', o_totalprice_band) AS (field_name, field_value)"
        ),
    )
    return melted.filter(F.trim("field_value") != "")


# ---------------------------------------------------------------------------
# X1 — clamped-zip multi-concept explode
# (reference: concept_helpers.generate_combinations, concept_helpers.py:6-44)
# ---------------------------------------------------------------------------


_X1_SQL = """
    WITH src AS (
        SELECT p_partkey,
               CASE WHEN p_size > 25 THEN [p_partkey * 10, p_partkey * 10 + 1]
                    ELSE [p_partkey * 10] END AS concept_ids,
               [p_size, p_size * 2, p_size * 3] AS value_ids
        FROM part
    )
    SELECT p_partkey,
           i AS combo_idx,
           concept_ids[LEAST(i + 1, len(concept_ids))] AS concept_id,
           value_ids[LEAST(i + 1, len(value_ids))]     AS value_id
    FROM src, UNNEST(generate_series(0, GREATEST(len(concept_ids), len(value_ids)) - 1)) AS t(i)
    """


def op_x1_clamped_zip_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zip-by-index explode where the shorter list repeats its LAST element
    (clamp), not a cross product and not null-padding. Implemented with an
    index explode + element_at(least(i+1, size)) — exactly the reference's
    generate_combinations clamp."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.when(
            F.col("p_size") > 25,
            F.array(F.col("p_partkey") * 10, F.col("p_partkey") * 10 + 1),
        )
        .otherwise(F.array(F.col("p_partkey") * 10))
        .alias("concept_ids"),
        F.array(F.col("p_size"), F.col("p_size") * 2, F.col("p_size") * 3).alias("value_ids"),
    )
    n = F.greatest(F.size("concept_ids"), F.size("value_ids"))
    return (
        p.withColumn("combo_idx", F.explode(F.sequence(F.lit(0), n - 1)))
        .select(
            "p_partkey",
            "combo_idx",
            F.element_at(
                "concept_ids", F.least(F.col("combo_idx") + 1, F.size("concept_ids"))
            ).alias("concept_id"),
            F.element_at(
                "value_ids", F.least(F.col("combo_idx") + 1, F.size("value_ids"))
            ).alias("value_id"),
        )
    )


# ---------------------------------------------------------------------------
# W1/J2 — dense sequential ID assignment (auto-number, person anonymisation)
# (reference: run.py:126-132, person_helpers.py:90-151)
# ---------------------------------------------------------------------------


_W1_SQL = """
    SELECT c_custkey AS source_subject,
           CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) + 1000 AS BIGINT) AS target_subject
    FROM customer
    WHERE c_custkey % 3 <> 0
    """


def op_w1_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 1..N id assignment with an offset (--last-used-ids-file
    semantics). Needs an explicit deterministic order; at scale the same
    semantics come from one window per group of value-determined buckets of
    the leading order key plus per-group start offsets (operators/ids.py)
    instead of a single global window."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    w = Window.orderBy("c_custkey")
    return c.select(
        F.col("c_custkey").alias("source_subject"),
        (F.row_number().over(w) + F.lit(1000)).cast("bigint").alias("target_subject"),
    )


# ---------------------------------------------------------------------------
# J3 — first-wins dedup (person record emitted once per person)
# (reference: record_builder.py:199-247 processed_cache)
# ---------------------------------------------------------------------------


_J3_SQL = """
    SELECT user_id, event_id AS first_event_id, ts AS first_ts, event_type AS first_type
    FROM (
        SELECT user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ) t
    WHERE rn = 1
    """


def op_j3_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
            F.col("event_type").alias("first_type"),
        )
    )


# ---------------------------------------------------------------------------
# F4 — person-existence filter: semi join keeps, anti join counts rejects
# (reference: run.py:275-299, record_builder.py:158-196)
# ---------------------------------------------------------------------------


_F4_SQL = """
    SELECT 'kept' AS bucket, COUNT(*) AS n
    FROM events e WHERE EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id AND c.c_acctbal > 0)
    UNION ALL
    SELECT 'rejected', COUNT(*)
    FROM events e WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id AND c.c_acctbal > 0)
    ORDER BY bucket
    """


def op_f4_existence_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    valid = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0).select("c_custkey")
    kept = e.join(maybe_broadcast(valid), e.user_id == valid.c_custkey, "left_semi")
    rejected = e.join(maybe_broadcast(valid), e.user_id == valid.c_custkey, "left_anti")
    return (
        kept.agg(F.count(F.lit(1)).alias("n")).select(F.lit("kept").alias("bucket"), "n")
        .unionByName(
            rejected.agg(F.count(F.lit(1)).alias("n")).select(F.lit("rejected").alias("bucket"), "n")
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# D1-D4 — date normalisation / component split / datetime-linked date
# (reference: date_helpers.py:31-83, core.py:108-154)
# ---------------------------------------------------------------------------


_D1_SQL = """
    WITH raw AS (
        SELECT o_orderkey,
               CASE o_orderkey % 3
                    WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                    WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
                    ELSE strftime(o_orderdate, '%d-%m-%Y')
               END AS raw_date
        FROM orders
    )
    SELECT o_orderkey, raw_date,
           strftime(COALESCE(try_strptime(raw_date, '%Y-%m-%d'),
                             try_strptime(raw_date, '%d/%m/%Y'),
                             try_strptime(raw_date, '%d-%m-%Y')),
                    '%Y-%m-%d %H:%M:%S') AS normalised,
           YEAR(COALESCE(try_strptime(raw_date, '%Y-%m-%d'),
                         try_strptime(raw_date, '%d/%m/%Y'),
                         try_strptime(raw_date, '%d-%m-%Y'))) AS year_part,
           strftime(COALESCE(try_strptime(raw_date, '%Y-%m-%d'),
                             try_strptime(raw_date, '%d/%m/%Y'),
                             try_strptime(raw_date, '%d-%m-%Y')),
                    '%Y-%m-%d') AS linked_date
    FROM raw
    """


def op_d1_date_normalise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format permissive date parse (normalise_to8601): coalesce of
    try_to_timestamp over the accepted formats, then canonical formatting,
    component split (D3) and the datetime-linked *_date companion (D4)."""
    o = load(spark, sf_dir, "orders").withColumn(
        "raw_date",
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "dd/MM/yyyy"))
        .otherwise(F.date_format("o_orderdate", "dd-MM-yyyy")),
    )
    parsed = F.coalesce(
        F.try_to_timestamp("raw_date", F.lit("yyyy-MM-dd")),
        F.try_to_timestamp("raw_date", F.lit("dd/MM/yyyy")),
        F.try_to_timestamp("raw_date", F.lit("dd-MM-yyyy")),
    )
    return o.select(
        "o_orderkey",
        "raw_date",
        F.date_format(parsed, "yyyy-MM-dd HH:mm:ss").alias("normalised"),
        F.year(parsed).alias("year_part"),
        F.date_format(parsed, "yyyy-MM-dd").alias("linked_date"),
    )


# ---------------------------------------------------------------------------
# A1/A2 — multi-level count rollup via grouping sets
# (reference: metrics.py:110-259 increment_with_datacol "all" fan-out)
# ---------------------------------------------------------------------------


_A1_SQL = """
    SELECT COALESCE(l_returnflag, 'all') AS source_field,
           COALESCE(l_linestatus, 'all') AS target,
           COUNT(*) AS output_count,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(27,6))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY source_field, target
    """


def op_a1_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference increments one counter per rollup level per record
    (O(levels) dict writes per row); on Spark the same summary is ONE
    grouping-sets aggregation — partial aggregation map-side, single
    shuffle."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("output_count"), dsum(F.col("l_quantity")).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("all")).alias("source_field"),
            F.coalesce("l_linestatus", F.lit("all")).alias("target"),
            "output_count",
            "sum_qty",
        )
        .orderBy("source_field", "target")
    )


# ---------------------------------------------------------------------------
# suite registrations — two registry entries covering all nine demos
# ---------------------------------------------------------------------------

register_suite(
    "op_rowops_suite",
    [
        (
            "op_p1_p3_project_defaults",
            op_p1_p3_project_defaults,
            _P1_SQL,
            [
                ("person_ref", "i"),
                ("source_value", "s"),
                ("type_concept_id", "i"),
                ("acctbal_nonneg", "f"),
                ("segment", "s"),
            ],
        ),
        (
            "op_j1_term_mapping",
            op_j1_term_mapping,
            _J1_SQL,
            [("o_orderkey", "i"), ("source_value", "s"), ("priority_concept_id", "i")],
        ),
        (
            "op_u1_unpivot_fanout",
            op_u1_unpivot_fanout,
            _U1_SQL,
            [("o_orderkey", "i"), ("field_name", "s"), ("field_value", "s")],
        ),
        (
            "op_d1_date_normalise",
            op_d1_date_normalise,
            _D1_SQL,
            [
                ("o_orderkey", "i"),
                ("raw_date", "s"),
                ("normalised", "s"),
                ("year_part", "i"),
                ("linked_date", "s"),
            ],
        ),
    ],
    tags=("operator", "suite"),
)

register_suite(
    "op_keyops_suite",
    [
        (
            "op_x1_clamped_zip_explode",
            op_x1_clamped_zip_explode,
            _X1_SQL,
            [("p_partkey", "i"), ("combo_idx", "i"), ("concept_id", "i"), ("value_id", "i")],
        ),
        (
            "op_w1_dense_ids",
            op_w1_dense_ids,
            _W1_SQL,
            [("source_subject", "i"), ("target_subject", "i")],
        ),
        (
            "op_j3_first_wins_dedup",
            op_j3_first_wins_dedup,
            _J3_SQL,
            [("user_id", "i"), ("first_event_id", "i"), ("first_ts", "ts"), ("first_type", "s")],
        ),
        (
            "op_f4_existence_semi_anti",
            op_f4_existence_semi_anti,
            _F4_SQL,
            [("bucket", "s"), ("n", "i")],
        ),
        (
            "op_a1_metrics_rollup",
            op_a1_metrics_rollup,
            _A1_SQL,
            [("source_field", "s"), ("target", "s"), ("output_count", "i"), ("sum_qty", "f")],
        ),
    ],
    tags=("operator", "suite"),
)
