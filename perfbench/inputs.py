"""Deterministic benchmark inputs.

The base tables are a small TPC-H-shaped star schema plus a text corpus,
generated from a fixed seed so every run and every commit sees the same
values. The run seed only permutes row order (``etl``) or query
order (``query_mix``), so verified checksums never depend on it.

Everything is written under the benchmark's own directory; generation is
harness preparation and is never timed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
BASE_VERSION = "v4"  # bump when the generator changes

N_ORDERS = 100_000
N_LINEITEM = 50_000
N_CUSTOMER = 5_000
N_DOCUMENTS = 1_000
N_SQLITE_ROWS = 50_000  # orders rows the ``parquet_sqlite`` step loads

# The four-assignment inline transform of the repo's `transform_inline`
# query, applied to the lineitem CSV.
CSV_TRANSFORM = (
    "disc_price=row.l_extendedprice * (1 - row.l_discount); "
    "charge=disc_price * (1 + row.l_tax); "
    "qty_class=row.l_quantity >= 40 and 'heavy' or "
    "(row.l_quantity >= 20 and 'mid' or 'light'); "
    "flag_status=row.l_returnflag .. '-' .. row.l_linestatus"
)
SQLITE_TRANSFORM = (
    "is_big=row.o_totalprice > 250000; "
    "prio=string.sub(row.o_orderpriority, 1, 1)"
)

LINEITEM_SCHEMA_YAML = """\
columns:
  - {name: l_orderkey, type: integer, nullable: false}
  - {name: l_partkey, type: integer, nullable: false}
  - {name: l_suppkey, type: integer, nullable: false}
  - {name: l_linenumber, type: integer, nullable: false}
  - {name: l_quantity, type: decimal, nullable: false}
  - {name: l_extendedprice, type: decimal, nullable: false}
  - {name: l_discount, type: decimal, nullable: false}
  - {name: l_tax, type: decimal, nullable: false}
  - {name: l_returnflag, type: string, nullable: false, pattern: "^[ANR]$"}
  - {name: l_linestatus, type: string, nullable: false, pattern: "^[OF]$"}
  - {name: l_shipdate, type: datetime, nullable: false}
"""

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = (
    "a the data spark row column table query key value group join sort "
    "hash scan filter window stream batch merge order part line customer "
    "vector fast slow big small agg dup index token shard"
).split()


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1992-01-01", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents over a small vocabulary; about 15% are
    near-duplicates (a few words replaced) and 2% exact copies of an
    earlier document, so the dedup queries have pairs to find."""
    p = 1.0 / np.arange(1, len(WORDS) + 1)
    p /= p.sum()
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        r = rng.random()
        if i > 20 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 20 and r < 0.17:
            words = texts[int(rng.integers(0, i))].split()
            for k in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[k] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(8, 100))
        texts.append(" ".join(WORDS[j] for j in rng.choice(len(WORDS), size=n, p=p)))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.choice(5, N_DOCUMENTS, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, N_CUSTOMER + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(1, N_CUSTOMER + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, N_CUSTOMER)]),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, N_CUSTOMER + 1, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, N_ORDERS), 2)),
        "o_orderdate": _ts(rng.integers(0, 2400, N_ORDERS)),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, N_ORDERS)]),
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(1, N_ORDERS + 1, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_001, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_001, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, N_LINEITEM), 2)),
        "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, N_LINEITEM)]),
        "l_shipdate": _ts(rng.integers(0, 2500, N_LINEITEM)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "orders": orders, "lineitem": lineitem, "documents": _documents(rng),
    }


def base_dir(data_root: str) -> str:
    """Directory of the base parquet tables, generated once per checkout
    (published with an atomic rename, so an interrupted run leaves no
    half-written directory behind)."""
    path = os.path.join(data_root, f"base-{BASE_VERSION}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, path)
    return path


def permuted(table: pa.Table, seed: int) -> pa.Table:
    return table.take(np.random.default_rng(seed).permutation(table.num_rows))


def write_lineitem_csv(base: str, seed: int, out_dir: str) -> tuple[str, str]:
    """The ``csv_parquet`` step's source: lineitem rows in seed order as CSV,
    plus its declared schema file. Returns (csv_path, schema_path)."""
    import duckdb

    table = permuted(pq.read_table(os.path.join(base, "lineitem.parquet")), seed)
    csv_path = os.path.join(out_dir, "lineitem.csv")
    con = duckdb.connect()
    try:
        con.register("src", table)
        con.execute(
            f"COPY (SELECT * FROM src) TO '{csv_path}' (HEADER, DELIMITER ',')"
        )
    finally:
        con.close()
    schema_path = os.path.join(out_dir, "lineitem_schema.yaml")
    with open(schema_path, "w", encoding="utf-8") as fh:
        fh.write(LINEITEM_SCHEMA_YAML)
    return csv_path, schema_path


def write_orders_parquet(base: str, seed: int, out_dir: str) -> str:
    """The ``parquet_sqlite`` step's source: the first N_SQLITE_ROWS
    orders, in seed order."""
    path = os.path.join(out_dir, "orders.parquet")
    orders = pq.read_table(os.path.join(base, "orders.parquet")).slice(0, N_SQLITE_ROWS)
    pq.write_table(permuted(orders, seed), path)
    return path
