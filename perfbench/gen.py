"""Seeded input generators for the benchmark.

Two generators, both pure NumPy + PyArrow so that generation never
touches Spark and stays out of every timed metric:

- ``write_tables``: the ten engine tables (``region`` … ``embeddings``)
  as one single-row-group parquet file each, with the row counts and
  value domains of the sf0.01 fixtures (TPC-H-ish star schema, the
  ``events`` stream, the text and vector tables).
- ``write_cur``: CUR-shaped report paths for ``pipeline.sync``. Each
  path is a directory of part files whose schemas drift (columns
  missing from some parts, extra columns in others, shuffled order).
  One path uses the primary AWS CUR column names; the other uses the
  alternative names and carries its cost as a string (some values are
  not numbers). Wide random filler columns make landing the raw copy
  cost bytes, not jobs.

The same seed always gives byte-identical inputs.

Run as a script it writes one kind into a directory and prints a JSON
manifest: ``python3 perfbench/gen.py {tables,cur} --seed N --out DIR``.
"""

from __future__ import annotations

import argparse
import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixtures, except documents (500 there): fewer
# documents keep a dedup_heavy run inside its time budget.
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 200,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp() * 1_000_000)


def _days(rng: np.random.Generator, lo: tuple, hi: tuple, n: int) -> np.ndarray:
    """Midnight timestamps (µs) drawn uniformly from [lo, hi]."""
    a, b = _epoch_us(*lo) // DAY_US, _epoch_us(*hi) // DAY_US
    return rng.integers(a, b + 1, n) * DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    """Naive (UTC wall-clock) microsecond timestamps, as in the fixtures."""
    return pa.array(values_us.astype("int64"), pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences over the fixture vocabulary; one doc in
    twenty (at seed-chosen positions) is a near-copy of an earlier one,
    a word appended or replaced, which gives the dedup operators real
    pairs to find."""
    copies = set(rng.choice(np.arange(10, n), n // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in copies:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words.append("dup")
            else:
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            k = int(rng.integers(10, 100))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]
        texts.append(" ".join(words))
    n_sources = 20
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % n_sources}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int) -> dict:
    """Write the ten engine tables under ``out_dir`` and return their
    row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = TABLE_ROWS
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(_days(rng, (1995, 1, 1), (2001, 8, 1), no)),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": np.round(rng.uniform(0.0, 0.10, nl), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(_days(rng, (1995, 1, 2), (2001, 11, 4), nl)),
        }
    )
    ne = n["events"]
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (nv, 64))).astype("float32")
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"rows": {k: t.num_rows for k, t in tables.items()}}


# CUR report paths: the column each normalized target is read from.
# Names come from operators.normalize.AWS_CUR_PRIMARY (first path) and
# AWS_CUR_ALTERNATIVES (second path); the benchmark resolves them back
# through resolve_column.
CUR_PATHS = {
    "cur_primary": {
        "date": "line_item_usage_start_date",
        "account_id": "line_item_usage_account_id",
        "service": "product_servicename",
        "region": "product_region",
        "cost": "line_item_unblended_cost",
        "currency": "line_item_currency_code",
    },
    # string-typed cost, some values unparseable (null after the cast)
    "cur_alt": {
        "date": "lineitem_usagestartdate",
        "account_id": "bill_payeraccountid",
        "service": "lineitem_productcode",
        "region": "product_location",
        "cost": "unblended_cost",
        "currency": "currency_code",
    },
}
STRING_COST_PATH = "cur_alt"
CUR_PARTS = 4
CUR_ROWS_PER_PART = 8_000
CUR_FILLER_DOUBLES = 20
CUR_SERVICES = [
    "AmazonEC2", "AmazonS3", "AmazonRDS", "AWSLambda", "AmazonCloudFront",
    "AmazonDynamoDB", "AmazonEKS", "AmazonSageMaker",
]
CUR_REGIONS = ["us-east-1", "us-west-2", "eu-west-1", "eu-central-1", "ap-south-1"]
# Usage dates span the three months before the sync timestamp.
CUR_FIRST_DAY = (2025, 11, 1)
CUR_LAST_DAY = (2026, 1, 31)


def _cur_part(rng: np.random.Generator, names: dict, part: int, string_cost: bool) -> pa.Table:
    n = CUR_ROWS_PER_PART
    cost = np.round(rng.gamma(1.5, 4.0, n), 2)
    if string_cost:
        text = np.char.mod("%.2f", cost).astype(object)
        text[rng.random(n) < 0.02] = "n/a"
        cost_arr = pa.array(text, pa.string())
    else:
        cost_arr = pa.array(cost, pa.float64())
    cols = {
        names["date"]: _ts(
            _days(rng, CUR_FIRST_DAY, CUR_LAST_DAY, n) + rng.integers(0, 24, n) * 3_600_000_000
        ),
        names["account_id"]: pa.array(np.char.mod("%012d", rng.integers(10**11, 10**11 + 40, n))),
        names["service"]: pa.array(rng.choice(CUR_SERVICES, n)),
        names["region"]: pa.array(rng.choice(CUR_REGIONS, n)),
        names["cost"]: cost_arr,
        names["currency"]: pa.array(np.where(rng.random(n) < 0.9, "USD", "EUR")),
        "line_item_resource_id": pa.array(
            np.char.mod("i-%016x", rng.integers(0, 2**62, n, dtype=np.int64))
        ),
        "line_item_usage_amount": rng.gamma(2.0, 3.0, n),
    }
    for j in range(CUR_FILLER_DOUBLES):
        cols[f"resource_tags_user_f{j:02d}"] = rng.standard_normal(n)
    # schema drift: part 1 lacks the region column, part 2 carries
    # extra columns, and every part has its own column order
    if part == 1:
        del cols[names["region"]]
    if part == 2:
        cols["pricing_term"] = pa.array(rng.choice(["OnDemand", "Reserved", "Spot"], n))
        cols["savings_plan_effective_cost"] = np.round(rng.uniform(0, 5, n), 4)
    order = list(cols)
    rng.shuffle(order)
    return pa.table({k: cols[k] for k in order})


def write_cur(out_dir: str, seed: int) -> dict:
    """Write the CUR report paths under ``out_dir``; return per-path
    row counts, byte sizes and the union of column names."""
    rng = np.random.default_rng([seed, 2])
    manifest: dict = {"paths": {}}
    for path_name, names in CUR_PATHS.items():
        d = os.path.join(out_dir, path_name)
        os.makedirs(d, exist_ok=True)
        columns: set[str] = set()
        nbytes = 0
        rows = 0
        for part in range(CUR_PARTS):
            t = _cur_part(rng, names, part, path_name == STRING_COST_PATH)
            f = os.path.join(d, f"part-{part:05d}.parquet")
            _write(t, f)
            columns.update(t.column_names)
            nbytes += os.path.getsize(f)
            rows += t.num_rows
        manifest["paths"][path_name] = {
            "rows": rows,
            "bytes": nbytes,
            "columns": sorted(columns),
        }
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("kind", choices=["tables", "cur"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    writer = write_tables if args.kind == "tables" else write_cur
    print(json.dumps(writer(args.out, args.seed)))


if __name__ == "__main__":
    main()
