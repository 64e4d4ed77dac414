"""Seeded inputs for the benchmark: source tables and a PowerSQL project.

``write_tables`` writes the ten source tables the registry and the
example projects read, with the same names, column types and value
ranges as the repository's TPC-H-ish test data. The large tables are
written as one parquet file per core, so every scan stage spreads over
all cores; the small dimension tables are one file each. Timestamps are
written without a time zone, like the test data, so DuckDB and Spark
read the same wall-clock values.

``write_project`` writes a PowerSQL project over those tables: base
aggregates over sources, joins over upstream models and fan-in views,
each model with one ASSERT test. Every model produces a key column
``k`` in 0..24, so any two models join on it.

The same seed, scale and core count always give the same files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPLIT_TABLES = ("lineitem", "orders", "events", "customer", "documents", "embeddings")

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(first_day, first_day + n_days, n)
    return pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us"))


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _choice(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, 1, 2499, n_line),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": _choice(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary, 10-100 words each. One in
    twenty, at seed-chosen places, is replaced by another document's text
    plus " dup"; two of those that copy the same document are exact
    copies of each other. Sources take turns, as in the test data."""
    words = np.array(_WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _choice(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def write_tables(out_dir: str, seed: int, sf: float, cores: int) -> None:
    """Write every source table under ``out_dir`` as ``<name>.parquet``:
    a directory of ``cores`` files for the large tables, one file for
    the rest."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in _tables(rng, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name not in SPLIT_TABLES:
            pq.write_table(table, path)
            continue
        os.makedirs(path)
        bounds = np.linspace(0, table.num_rows, cores + 1).astype(int)
        for i in range(cores):
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


# Base-model templates: (source, key expression in 0..24, measure, filters).
_BASES = (
    ("lineitem", "l_suppkey % 25", "l_extendedprice * (1 - l_discount)",
     ("l_returnflag = 'A'", "l_returnflag = 'N'", "l_linestatus = 'F'", "l_quantity > 25")),
    ("orders", "o_custkey % 25", "o_totalprice",
     ("o_orderstatus = 'O'", "o_orderstatus = 'F'", "o_orderpriority = '1-URGENT'")),
    ("customer", "c_nationkey", "c_acctbal",
     ("c_mktsegment = 'BUILDING'", "c_mktsegment = 'MACHINERY'", "c_acctbal > 0")),
    ("part", "p_size % 25", "p_retailprice",
     ("p_type = 'PROMO'", "p_type = 'ECONOMY'", "p_brand <> 'Brand#1'")),
    ("supplier", "s_nationkey", "s_acctbal", ("s_acctbal > 0", "s_acctbal < 5000")),
    ("events", "user_id % 25", "value",
     ("event_type = 'click'", "event_type = 'view'", "value > 10")),
)


@dataclass
class Project:
    """A generated project: its models' dependencies, and the model that
    the edit step changes with the closure ``run --changed`` must rebuild."""

    deps: dict[str, list[str]]
    edited: str
    changed: set[str]


def write_project(out_dir: str, sources: str, seed: int) -> Project:
    """Write ``powersql.toml``, ``models/*.sql`` and ``tests/*.sql``.

    The models form a ring, so every seed gives the same amount of work:
    one TABLE base aggregate per source, in an order and with filters the
    seed picks; a join of each base with the next, TABLE or VIEW in
    turn; a VIEW joining each of those with the one two further on; and
    two fan-in VIEWs over alternate joins of the second level. Editing
    any base invalidates nine models."""
    rng = np.random.default_rng(seed)
    n = len(_BASES)
    models: dict[str, tuple[str, str, list[str]]] = {}
    bases = []
    for i, b in enumerate(rng.permutation(n)):
        src, key, measure, filters = _BASES[b]
        flt = filters[rng.integers(0, len(filters))]
        name = f"base_{i}_{src}"
        bases.append(name)
        models[name] = ("TABLE", (
            f"SELECT {key} AS k, COUNT(*) AS n, SUM({measure}) AS s"
            f" FROM {src} WHERE {flt} GROUP BY {key}"
        ), [])
    join1 = [f"join1_{i}" for i in range(n)]
    join2 = [f"join2_{i}" for i in range(n)]
    for i in range(n):
        kind = "TABLE" if i % 2 == 0 else "VIEW"
        models[join1[i]] = (kind, *_join(bases[i], bases[(i + 1) % n]))
    for i in range(n):
        models[join2[i]] = ("VIEW", *_join(join1[i], join1[(i + 2) % n]))
    for j in range(2):
        ins = join2[j::2]
        union = " UNION ALL ".join(f"SELECT k, n, s FROM {m}" for m in ins)
        models[f"fanin_{j}"] = ("VIEW", (
            f"SELECT k, SUM(n) AS n, SUM(s) AS s FROM ({union}) u GROUP BY k"
        ), ins)

    os.makedirs(os.path.join(out_dir, "models"))
    os.makedirs(os.path.join(out_dir, "tests"))
    with open(os.path.join(out_dir, "powersql.toml"), "w") as fh:
        fh.write(
            f'[project]\nname = "bench_{seed}"\nmodels = ["models"]\n'
            f'tests = ["tests"]\nsources = "{sources}"\n'
        )
    for name, (kind, body, _) in models.items():
        _write_model(out_dir, name, f"CREATE {kind} {name} AS {body}")
    tests = [
        f"ASSERT (SELECT COUNT(*) FROM {name} WHERE n > 0) BETWEEN 1 AND 25"
        f" AS '{name} has between 1 and 25 keys, each with rows'"
        for name in models
    ]
    with open(os.path.join(out_dir, "tests", "tests.sql"), "w") as fh:
        fh.write(";\n\n".join(tests) + ";\n")

    deps = {name: ins for name, (_, _, ins) in models.items()}
    edited = bases[int(rng.integers(0, n))]
    return Project(deps=deps, edited=edited, changed=_downstream(deps, edited))


def _join(a: str, b: str) -> tuple[str, list[str]]:
    return (
        f"SELECT x.k, x.n + y.n AS n, x.s + y.s AS s FROM {a} x JOIN {b} y ON x.k = y.k",
        [a, b],
    )


def edit_model(out_dir: str, name: str) -> str:
    """Change one model's SQL without changing its rows: the edit a user
    makes before ``run --changed``. Returns the original file text."""
    path = os.path.join(out_dir, "models", f"{name}.sql")
    with open(path) as fh:
        original = fh.read()
    _write_model(out_dir, name, original.rstrip().rstrip(";") + " HAVING COUNT(*) > 0")
    return original


def restore_model(out_dir: str, name: str, text: str) -> None:
    with open(os.path.join(out_dir, "models", f"{name}.sql"), "w") as fh:
        fh.write(text)


def _write_model(out_dir: str, name: str, stmt: str) -> None:
    with open(os.path.join(out_dir, "models", f"{name}.sql"), "w") as fh:
        fh.write(stmt + ";\n")


def _downstream(deps: dict[str, list[str]], seed_model: str) -> set[str]:
    out = {seed_model}
    grew = True
    while grew:
        grew = False
        for name, parents in deps.items():
            if name not in out and out.intersection(parents):
                out.add(name)
                grew = True
    return out
