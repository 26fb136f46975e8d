"""Seeded input generators for the benchmark workloads.

Each ETL generator writes a CSV input directory and a v2 rules file, and
returns the row count it expects in every OMOP table the run writes. The
expected counts come from the generator's own model of the rules (a field
emits one record when its value matches a term, else the field's ``*``
wildcard; empty cells and unknown person ids emit nothing), never from the
program under test.

Everything here is the standard library, run in one process, so the same
seed gives byte-identical inputs on any host.
"""

from __future__ import annotations

import json
import random
from pathlib import Path

# etl_bulk: the scripts/scale_stress.py rules shape (ten events a person)
# at a size one cold CLI run finishes in under half a minute on 4 cores,
# yet large enough that the sink's write grows with the data: at half this
# size it is a quarter of the run, at this size nearly a third.
BULK_PERSONS = 12_000
BULK_EVENTS = 120_000
BULK_UNKNOWN_SHARE = 0.005

# etl_wide: many small files, a dozen mapped fields each (three per term-map
# band), so one cold run stays well under a minute on 4 cores.
WIDE_PERSONS = 300
WIDE_FILES = 4  # the first half share one shape (grouped-template path)
WIDE_FIELDS = 12
WIDE_ROWS = 200
# term-map sizes cycle through every compiler band: inlined CASE chain,
# constant map literal, and broadcast rules-table join
WIDE_BANDS = (4, 16, 40, 150)
WIDE_EMPTY_SHARE = 0.03
WIDE_MISS_SHARE = 0.10

BULK_RULES = {
    "metadata": {"dataset": "bench_bulk"},
    "cdm": {
        "person": {
            "persons": {
                "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                "date_mapping": {"source_field": "dob", "dest_field": ["birth_datetime"]},
                "concept_mappings": {
                    "sex": {
                        "M": {"gender_concept_id": [8507], "gender_source_concept_id": [8507]},
                        "F": {"gender_concept_id": [8532], "gender_source_concept_id": [8532]},
                        "original_value": ["gender_source_value"],
                    },
                    "ethnicity": {
                        # two concepts: one person row per concept
                        "mixed": {"race_concept_id": [35825531, 35827395]},
                        "*": {"race_concept_id": [0]},
                        "original_value": ["race_source_value"],
                    },
                },
            }
        },
        "observation": {
            "events": {
                "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                "date_mapping": {"source_field": "event_date", "dest_field": ["observation_datetime"]},
                "concept_mappings": {
                    "code": {
                        "A": {"observation_concept_id": [1001]},
                        "B": {"observation_concept_id": [1002]},
                        "*": {"observation_concept_id": [1000]},
                        "original_value": ["observation_source_value"],
                    },
                    "score": {
                        "*": {"observation_concept_id": [2000]},
                        "original_value": ["value_as_string"],
                    },
                },
            }
        },
    },
}


def _date(rnd: random.Random, first_year: int, years: int) -> str:
    return f"{first_year + rnd.randrange(years)}-{1 + rnd.randrange(12):02d}-{1 + rnd.randrange(28):02d}"


def _write_csv(path: Path, header: list[str], rows: list[list[str]]) -> None:
    with path.open("w", encoding="utf-8", newline="") as fh:
        fh.write(",".join(header) + "\n")
        fh.writelines(",".join(r) + "\n" for r in rows)


def gen_bulk(seed: int, inputs: Path, rules_file: Path) -> dict[str, int]:
    """persons.csv plus one large events.csv under the two-field rules."""
    rnd = random.Random(f"etl_bulk:{seed}")
    inputs.mkdir(parents=True, exist_ok=True)
    persons = []
    mixed = 0
    for i in range(BULK_PERSONS):
        eth = "mixed" if rnd.random() < 0.15 else "other"
        mixed += eth == "mixed"
        persons.append([f"p{i}", _date(rnd, 1940, 60), rnd.choice("MFX"), eth])
    _write_csv(inputs / "persons.csv", ["pid", "dob", "sex", "ethnicity"], persons)

    # ids past BULK_PERSONS are unknown to the person file: ~0.5% of events
    pid_space = int(BULK_PERSONS / (1 - BULK_UNKNOWN_SHARE))
    events = []
    known = 0
    for _ in range(BULK_EVENTS):
        p = rnd.randrange(pid_space)
        known += p < BULK_PERSONS
        events.append([
            f"p{p}",
            _date(rnd, 2015, 10),
            rnd.choice("ABCD"),
            f"{rnd.randrange(100_000) / 100}",
        ])
    _write_csv(inputs / "events.csv", ["pid", "event_date", "code", "score"], events)
    rules_file.write_text(json.dumps(BULK_RULES, indent=1))
    # every known event emits a code record and a score record
    return {"person": BULK_PERSONS + mixed, "observation": 2 * known, "person_ids": BULK_PERSONS}


# etl_wide targets: (table, concept dest, datetime dest, source-value dest)
_WIDE_TARGETS = (
    ("observation", "observation_concept_id", "observation_datetime", "observation_source_value"),
    ("measurement", "measurement_concept_id", "measurement_datetime", "measurement_source_value"),
    ("condition_occurrence", "condition_concept_id", "condition_start_datetime", "condition_source_value"),
)


def _wide_field_map(tag: str, n_terms: int, wildcard: bool, concept_dest: str,
                    value_dest: str, base: int) -> tuple[dict, list[str]]:
    terms = [f"{tag}v{k}" for k in range(n_terms)]
    mapping: dict = {t: {concept_dest: [base + k]} for k, t in enumerate(terms)}
    if wildcard:
        mapping["*"] = {concept_dest: [base + 9_999]}
    mapping["original_value"] = [value_dest]
    return mapping, terms


def gen_wide(seed: int, inputs: Path, rules_file: Path) -> dict[str, int]:
    """Many small files with a dozen mapped fields over three target tables."""
    rnd = random.Random(f"etl_wide:{seed}")
    inputs.mkdir(parents=True, exist_ok=True)
    persons = [[f"w{i}", _date(rnd, 1940, 60), rnd.choice("MF")] for i in range(WIDE_PERSONS)]
    _write_csv(inputs / "persons.csv", ["pid", "dob", "sex"], persons)
    cdm: dict = {
        "person": {
            "persons": {
                "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                "date_mapping": {"source_field": "dob", "dest_field": ["birth_datetime"]},
                "concept_mappings": {
                    "sex": {
                        "M": {"gender_concept_id": [8507]},
                        "F": {"gender_concept_id": [8532]},
                        "original_value": ["gender_source_value"],
                    }
                },
            }
        }
    }
    expected = {"person": WIDE_PERSONS, "person_ids": WIDE_PERSONS}
    shared = WIDE_FILES // 2
    pid_space = WIDE_PERSONS + WIDE_PERSONS // 50  # ~2% unknown person ids
    for f in range(WIDE_FILES):
        # files below `shared` are one shape: same columns, target and
        # band layout; only their term literals differ. The others cycle
        # through the targets from the second, so every target gets rules.
        target, concept_dest, dt_dest, value_dest = _WIDE_TARGETS[0 if f < shared else (1 + f - shared) % 3]
        shape = 0 if f < shared else f
        name = f"wide{f:02d}"
        fields = [f"s{shape}f{k:02d}" for k in range(WIDE_FIELDS)]
        concept_maps = {}
        vocab = []
        wild = []
        for k, fld in enumerate(fields):
            n_terms = WIDE_BANDS[k % len(WIDE_BANDS)]
            has_wild = k % 5 == 4
            mapping, terms = _wide_field_map(
                f"{name}f{k}", n_terms, has_wild, concept_dest, value_dest,
                base=1_000_000 * (f + 1) + 10_000 * k,
            )
            concept_maps[fld] = mapping
            vocab.append(terms)
            wild.append(has_wild)
        rows = []
        records = 0
        for _ in range(WIDE_ROWS):
            p = rnd.randrange(pid_space)
            cells = []
            emitted = 0
            for terms, has_wild in zip(vocab, wild):
                r = rnd.random()
                if r < WIDE_EMPTY_SHARE:
                    cells.append("")
                elif r < WIDE_EMPTY_SHARE + WIDE_MISS_SHARE:
                    cells.append(f"miss{rnd.randrange(1000)}")
                    emitted += has_wild
                else:
                    cells.append(rnd.choice(terms))
                    emitted += 1
            if p < WIDE_PERSONS:
                records += emitted
            rows.append([f"w{p}", _date(rnd, 2010, 14)] + cells)
        _write_csv(inputs / f"{name}.csv", ["pid", "visit_date"] + fields, rows)
        cdm.setdefault(target, {})[name] = {
            "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
            "date_mapping": {"source_field": "visit_date", "dest_field": [dt_dest]},
            "concept_mappings": concept_maps,
        }
        expected[target] = expected.get(target, 0) + records
    rules_file.write_text(json.dumps({"metadata": {"dataset": "bench_wide"}, "cdm": cdm}, indent=1))
    return expected


GENERATORS = {"etl_bulk": gen_bulk, "etl_wide": gen_wide}


# analytics_sf1: a TPC-H-shaped star schema plus an events table, the
# tables q1, q9, q18 and omop_observation_events read. The input is fixed
# (the seed is not used) and built once per checkout.
AN_ORDERS = 60_000
AN_CUSTOMERS = 6_000
AN_PARTS = 20_000
AN_SUPPLIERS = 1_000
AN_EVENTS = 20_000
AN_USERS = 1_500
AN_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation", "events")
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in micros
_EPOCH_2024 = 1_704_067_200 * 1_000_000


def gen_analytics(out_dir: Path) -> None:
    """Write the analytics tables as parquet files into ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random("analytics_sf1")
    out_dir.mkdir(parents=True, exist_ok=True)
    ts = pa.timestamp("us")

    def write(name: str, cols: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")

    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(range(AN_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(AN_CUSTOMERS)]),
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(AN_CUSTOMERS)], pa.int32()),
        "c_acctbal": pa.array([rnd.randrange(-99_999, 999_999) / 100 for _ in range(AN_CUSTOMERS)]),
        "c_mktsegment": pa.array([rnd.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
                                  for _ in range(AN_CUSTOMERS)]),
    })
    types = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
    write("part", {
        "p_partkey": pa.array(range(AN_PARTS), pa.int64()),
        "p_name": pa.array([f"{rnd.choice(('red', 'blue', 'hot', 'large'))} {rnd.choice(('ring', 'bolt', 'nut'))}"
                            for _ in range(AN_PARTS)]),
        "p_brand": pa.array([f"Brand#{rnd.randrange(1, 26)}" for _ in range(AN_PARTS)]),
        "p_type": pa.array([rnd.choice(types) for _ in range(AN_PARTS)]),
        "p_size": pa.array([rnd.randrange(1, 51) for _ in range(AN_PARTS)], pa.int32()),
        "p_retailprice": pa.array([900 + (k % 1000) / 10 for k in range(AN_PARTS)]),
    })
    write("supplier", {
        "s_suppkey": pa.array(range(AN_SUPPLIERS), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(AN_SUPPLIERS)]),
        "s_nationkey": pa.array([rnd.randrange(25) for _ in range(AN_SUPPLIERS)], pa.int32()),
        "s_acctbal": pa.array([rnd.randrange(-99_999, 999_999) / 100 for _ in range(AN_SUPPLIERS)]),
    })

    o_cust, o_status, o_price, o_date, o_prio = [], [], [], [], []
    l_cols: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")}
    prios = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    for ok in range(AN_ORDERS):
        o_cust.append(rnd.randrange(AN_CUSTOMERS))
        o_status.append(rnd.choice("OFP"))
        o_price.append(rnd.randrange(100_000, 50_000_000) / 100)
        day = rnd.randrange(2404)  # 1995-01-01 .. 2001-08-01
        o_date.append(_EPOCH_1995 + day * _DAY_US)
        o_prio.append(rnd.choice(prios))
        for ln in range(1, rnd.randrange(2, 8)):
            l_cols["l_orderkey"].append(ok)
            l_cols["l_partkey"].append(rnd.randrange(AN_PARTS))
            l_cols["l_suppkey"].append(rnd.randrange(AN_SUPPLIERS))
            l_cols["l_linenumber"].append(ln)
            l_cols["l_quantity"].append(float(rnd.randrange(1, 51)))
            l_cols["l_extendedprice"].append(rnd.randrange(90_000, 10_500_000) / 100)
            l_cols["l_discount"].append(rnd.randrange(11) / 100)
            l_cols["l_tax"].append(rnd.randrange(9) / 100)
            l_cols["l_returnflag"].append(rnd.choice("ANR"))
            l_cols["l_linestatus"].append(rnd.choice("OF"))
            l_cols["l_shipdate"].append(_EPOCH_1995 + (day + rnd.randrange(1, 122)) * _DAY_US)
    write("orders", {
        "o_orderkey": pa.array(range(AN_ORDERS), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderstatus": pa.array(o_status),
        "o_totalprice": pa.array(o_price),
        "o_orderdate": pa.array(o_date, ts),
        "o_orderpriority": pa.array(o_prio),
    })
    write("lineitem", {
        "l_orderkey": pa.array(l_cols["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(l_cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(l_cols["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(l_cols["l_linenumber"], pa.int32()),
        "l_quantity": pa.array(l_cols["l_quantity"]),
        "l_extendedprice": pa.array(l_cols["l_extendedprice"]),
        "l_discount": pa.array(l_cols["l_discount"]),
        "l_tax": pa.array(l_cols["l_tax"]),
        "l_returnflag": pa.array(l_cols["l_returnflag"]),
        "l_linestatus": pa.array(l_cols["l_linestatus"]),
        "l_shipdate": pa.array(l_cols["l_shipdate"], ts),
    })
    ev_ts = sorted(_EPOCH_2024 + rnd.randrange(30 * _DAY_US) for _ in range(AN_EVENTS))
    write("events", {
        "event_id": pa.array(range(AN_EVENTS), pa.int64()),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array([rnd.randrange(AN_USERS) for _ in range(AN_EVENTS)], pa.int64()),
        "event_type": pa.array([rnd.choice(("signup", "click", "error", "view", "purchase"))
                                for _ in range(AN_EVENTS)]),
        "value": pa.array([rnd.randrange(50_000) / 100 for _ in range(AN_EVENTS)]),
        "props": pa.array([f'{{"k": {rnd.randrange(100)}}}' for _ in range(AN_EVENTS)]),
    })
