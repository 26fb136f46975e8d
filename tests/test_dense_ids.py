"""with_dense_ids: ids over value-determined buckets must equal Spark's
``row_number() OVER (ORDER BY ...)`` (plus the offset), fall back to one
window when the bucket does not follow the order, and come out the same
after cache loss and under any scan layout, for every shape the planner
numbers: single-file, multi-file and grouped targets, the person map and
the vocabulary.

Most tests shrink the window-group size so that their small inputs run
through many groups instead of the single window small inputs get."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from carrot_transform_spark.atpath import DEFAULT_CONFIG, DEFAULT_DDL
from carrot_transform_spark.omop.ddl import load_schemas
from carrot_transform_spark.operators import ids
from carrot_transform_spark.operators.ids import with_dense_ids
from carrot_transform_spark.operators.vocab import build_vocab
from carrot_transform_spark.plans.compiler import CarrotPlanner
from carrot_transform_spark.rules.loader import parse_rules
from carrot_transform_spark.sources.registry import LINE_COL, CsvDirSource, Source


def _mk(spark, n=997, buckets=16):
    # bucket = deterministic range bucket of key; hash-clustered by bucket
    # (row order within partitions is whatever the shuffle produced)
    return (
        spark.range(0, n)
        .select(F.col("id").alias("k"))
        .withColumn("b", F.floor(F.col("k") * buckets / n).cast("long"))
        .repartition(8, "b")
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def group_rows(monkeypatch):
    """Set the minimum window-group size (every bucket its own group by default)."""

    def set_rows(n: int = 1) -> None:
        monkeypatch.setattr(ids, "_MIN_GROUP_ROWS", n)

    set_rows()
    return set_rows


def test_bucket_path_matches_generic(spark, group_rows):
    df = _mk(spark)
    got = with_dense_ids(df, ["k"], "id", offset=7, bucket=[F.col("b")])
    rows = {r["k"]: r["id"] for r in got.collect()}
    assert rows == {k: 7 + k + 1 for k in range(997)}
    # plan shape: one window per bucket, no range exchange of the payload
    # and no SinglePartition window
    plan = _plan(got)
    assert "rangepartitioning" not in plan.lower()
    assert "SinglePartition" not in plan


def test_small_input_is_one_window(spark):
    got = with_dense_ids(_mk(spark), ["k"], "id", offset=7, bucket=[F.col("b")])
    assert {r["k"]: r["id"] for r in got.collect()} == {k: 7 + k + 1 for k in range(997)}
    assert "SinglePartition" in _plan(got)


def test_buckets_merge_into_groups(spark, group_rows):
    # 16 buckets of ~62 rows, groups of >= 150 rows: three buckets a group
    group_rows(150)
    got = with_dense_ids(_mk(spark), ["k"], "id", offset=7, bucket=[F.col("b")])
    assert {r["k"]: r["id"] for r in got.collect()} == {k: 7 + k + 1 for k in range(997)}
    assert "SinglePartition" not in _plan(got)


def test_bucket_path_repeat_invocations_stable(spark, group_rows):
    df = _mk(spark, n=500)
    a = with_dense_ids(df, ["k"], "id", bucket=[F.col("b")])
    b = with_dense_ids(df, ["k"], "id", bucket=[F.col("b")])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_bucket_overlap_falls_back_to_generic(spark, group_rows):
    # bucket column NOT aligned with the order: ranges overlap -> the
    # runtime check must reject the buckets and the single-bucket window
    # must still hand out correct dense ids
    df = (
        spark.range(0, 400)
        .select(F.col("id").alias("k"))
        .withColumn("b", (F.col("k") % 4).cast("long"))  # interleaved!
        .repartition(4, "b")
    )
    got = with_dense_ids(df, ["k"], "id", bucket=[F.col("b")])
    rows = {r["k"]: r["id"] for r in got.collect()}
    assert rows == {k: k + 1 for k in range(400)}
    assert "SinglePartition" in _plan(got)


def test_bucket_path_multi_order_cols(spark, group_rows):
    # composite order key (the compiler's FILEIDX/LINE/FIELDIDX/COMBO shape)
    df = (
        spark.range(0, 300)
        .select(
            (F.col("id") / 3).cast("long").alias("line"),
            (F.col("id") % 3).cast("int").alias("sub"),
        )
        .withColumn("b", F.floor(F.col("line") / 10).cast("long"))
        .repartition(8, "b")
    )
    got = with_dense_ids(df, ["line", "sub"], "id", bucket=[F.col("b")])
    rows = {(r["line"], r["sub"]): r["id"] for r in got.collect()}
    assert rows == {(i // 3, i % 3): i + 1 for i in range(300)}


@pytest.mark.parametrize(
    "bucket, one_window",
    [
        (lambda: [F.lit(0)], True),
        # follows Spark's order: NULL first, NaN after every number
        (
            lambda: [
                F.when(F.col("x").isNull(), -(1 << 40))
                .when(F.isnan("x"), 1 << 40)
                .otherwise(F.floor("x"))
            ],
            False,
        ),
        # does not: floor(NaN) is 0, so NaN shares bucket 0 with 0.0 and
        # 0.5 although 1.5 and 10.0 sort before it
        (lambda: [F.coalesce(F.floor("x"), F.lit(0))], True),
    ],
    ids=["one-bucket", "nan-aware", "nan-in-bucket-0"],
)
def test_nan_double_order_matches_row_number(spark, group_rows, bucket, one_window):
    vals = [float("nan"), 1.5, None, -3.0, 2.0, float("nan"), 0.0, 10.0, 0.5, -0.25, None, 7.0]
    df = spark.createDataFrame([(x, t) for t, x in enumerate(vals)], "x double, t int").repartition(3)
    got = with_dense_ids(df, ["x", "t"], "id", offset=5, bucket=bucket())
    want = df.withColumn("id", F.row_number().over(Window.orderBy("x", "t")) + 5)
    assert {r["t"]: r["id"] for r in got.collect()} == {r["t"]: r["id"] for r in want.collect()}
    assert ("SinglePartition" in _plan(got)) == one_window


# ---------------------------------------------------------------- planner
#
# Repeat stability: collect the ids, unpersist every cache the planner
# registered, execute the same frame again; then rebuild over a different
# scan layout. Every run must hand out the same ids.

N_ROWS = 1500


def _block(dest: str, date_dest: str, base: int) -> dict:
    return {
        "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
        "date_mapping": {"source_field": "d", "dest_field": [date_dest]},
        "concept_mappings": {
            "f0": {
                "A": {dest: [base + 1]},
                "B": {dest: [base + 2, base + 3]},
                "*": {dest: [base]},
                "original_value": [dest.replace("_concept_id", "_source_value")],
            },
            "f1": {"X": {dest: [base + 10]}, "Y": {dest: [base + 11]}},
        },
    }


RULES = {
    "metadata": {"dataset": "dense-ids"},
    "cdm": {
        "person": {
            "persons.csv": {
                "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                "date_mapping": {"source_field": "d", "dest_field": ["birth_datetime"]},
                "concept_mappings": {
                    "f0": {"A": {"gender_concept_id": [8507]}, "*": {"gender_concept_id": [8532]}},
                },
            }
        },
        # single-file target
        "observation": {"a.csv": _block("observation_concept_id", "observation_datetime", 1000)},
        # multi-file target
        "measurement": {
            "a.csv": _block("measurement_concept_id", "measurement_datetime", 2000),
            "b.csv": _block("measurement_concept_id", "measurement_datetime", 2000),
        },
        # grouped target: three same-shape blocks share one template
        "condition_occurrence": {
            f"g{i}.csv": _block("condition_concept_id", "condition_start_datetime", 3000 + 100 * i)
            for i in range(3)
        },
    },
}


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dense_ids")
    for name in ["persons", "a", "b", "g0", "g1", "g2"]:
        lines = ["pid,d,f0,f1"]
        for i in range(N_ROWS):
            # repeated person ids (first occurrence wins), a bad date every
            # 13th row, and values that fan out into 0-2 records per field
            pid = f"p{(i * 7 + len(name)) % 900}"
            day = "2020-13-40" if i % 13 == 0 else f"2020-0{1 + i % 9}-1{i % 10}"
            lines.append(f"{pid},{day},{'ABC'[i % 3]},{'XYZ'[(i + len(name)) % 3]}")
        (d / f"{name}.csv").write_text("\n".join(lines) + "\n")
    return d


class _Layout(Source):
    """A CSV source whose scan output is repartitioned after the line
    column is assigned: the rows and their order stay, the placement
    changes."""

    pre_spread = True

    def __init__(self, inner: Source, parts: int):
        self.inner, self.parts = inner, parts

    def read(self, table: str):
        return self.inner.read(table).repartition(self.parts)


def _layouts(spark, csv_dir):
    yield "csv", CsvDirSource(spark, csv_dir), {}
    yield "repartition(1)", _Layout(CsvDirSource(spark, csv_dir), 1), {}
    yield "repartition(16)", _Layout(CsvDirSource(spark, csv_dir), 16), {}
    # many scan splits: each split gets its own line range, so the ids
    # come from many buckets
    yield "split scan", CsvDirSource(spark, csv_dir, multiline=False), {
        "spark.sql.files.maxPartitionBytes": "4096"
    }


def _planner_frame(spark, source: Source, shape: str):
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    planner = CarrotPlanner(spark, parse_rules(RULES, omop), omop, person_table="persons.csv")
    if shape == "person map":
        return planner, planner.person_map(source).drop(LINE_COL)
    target = {
        "single-file": "observation",
        "multi-file": "measurement",
        "grouped": "condition_occurrence",
    }[shape]
    planner.WIDE_PLAN_PAIRS = 1  # the grouped path only runs on wide targets
    return planner, planner.target_candidates(source, target).drop(LINE_COL)


def _rows(df) -> list[tuple]:
    return sorted(tuple("" if v is None else str(v) for v in r) for r in df.collect())


@pytest.mark.parametrize("shape", ["single-file", "multi-file", "grouped", "person map"])
def test_planner_ids_survive_cache_loss_and_layout(spark, csv_dir, group_rows, shape):
    first = None
    for layout, source, conf in _layouts(spark, csv_dir):
        old = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            planner, frame = _planner_frame(spark, source, shape)
            rows = _rows(frame)
            assert planner._persisted, "the ids' input cache must be registered"
            planner.release()
            assert _rows(frame) == rows, f"{layout}: ids moved after cache loss"
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
        assert len(rows) > 500
        if first is None:
            first = rows
        assert rows == first, f"{layout}: ids differ from the plain CSV scan"


def test_grouped_shape_groups(spark, csv_dir):
    calls: list[int] = []
    orig = CarrotPlanner._grouped_file_records

    def spy(self, items, schema, stats):
        calls.append(len(items))
        return orig(self, items, schema, stats)

    CarrotPlanner._grouped_file_records = spy
    try:
        planner, _ = _planner_frame(spark, CsvDirSource(spark, csv_dir), "grouped")
        planner.release()
    finally:
        CarrotPlanner._grouped_file_records = orig
    assert calls == [3]


def test_split_scan_numbers_through_many_buckets(spark, csv_dir, group_rows):
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        planner, frame = _planner_frame(
            spark, CsvDirSource(spark, csv_dir, multiline=False), "single-file"
        )
        plan = _plan(frame)
        planner.release()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_vocab_ids_survive_cache_loss_and_layout(spark, group_rows):
    words = [f"w{i % 37}" for i in range(400)] + [f"v{i % 5}" for i in range(60)]
    docs = [(d, " ".join(words[d::25])) for d in range(25)]
    base = spark.createDataFrame(docs, "doc_id int, text string")
    first = None
    for parts in (1, 16):
        caches: list = []
        vocab = build_vocab(base.repartition(parts), "text", persist_registry=caches)
        rows = sorted(map(tuple, vocab.collect()))
        assert caches
        for c in caches:
            c.unpersist()
        assert sorted(map(tuple, vocab.collect())) == rows
        if first is None:
            first = rows
        assert rows == first
    want = (
        base.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("word_id", F.row_number().over(Window.orderBy(F.desc("freq"), "word")))
    )
    assert first == sorted(map(tuple, want.select("word", "freq", "word_id").collect()))
