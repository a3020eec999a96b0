"""Seeded input generators for the benchmark workloads.

Everything is derived from one integer seed, so the same seed gives the
same inputs. Nothing is read from outside the checkout: the relational
tables mimic the repository's TPC-H-ish testdata (TESTDATA.md: same
schemas and value domains) at a small scale, and the mapping inputs are built from the
generated ``part`` and ``customer`` tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
NOUNS = ("ring", "gear", "bolt", "widget", "plate", "rod", "anvil", "gizmo")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SOURCES = ("CellTypist", "Azimuth", "PopV")

# Scale of the relational tables (the testdata's sf0.01 row counts).
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def relational_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten testdata tables, seeded; ``scale`` multiplies the row counts."""
    rng = np.random.default_rng(seed)
    n = {k: max(20, int(v * scale)) for k, v in TABLE_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
    })
    no = n["orders"]
    order_day = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": _ts(
            _EPOCH_1995 + (order_day[l_order] + rng.integers(1, 122, nl)) * _DAY_US
        ),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(DOC_WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def mapping_tables(data: dict) -> dict[str, pa.Table]:
    """The mapping inputs as tables: the wide sheet, the ontology fixture
    and the raw labels."""
    columns = {
        "sheet": ("CT/1/ID", "CT/1", "CT/1/LABEL"),
        "fixture": ("ct_id_normalized", "label", "definition"),
        "labels": ("source", "raw_input_label"),
    }
    return {
        key: pa.table({c: pa.array(list(v), pa.string()) for c, v in zip(cols, zip(*data[key]))})
        for key, cols in columns.items()
    }


def mapping_inputs(seed: int, n_refs: int, n_labels: int) -> dict:
    """Wide ASCT+B-style sheet rows, the offline ontology fixture and the
    raw labels for the mapping workload.

    Reference names come from distinct ``part`` rows
    (``"<p_name> <p_type> <p_size>"``); about 1% of them are the plural of
    another name, so cleaned names collide across CT_IDs. Labels: 20%
    exact reference names, 40% variants (plural noun, Title Case, or
    shuffled words — the first two clean to the reference's cleaned
    name), 40% unrelated customer names, and 10% of all labels repeat an
    earlier one.
    """
    tables = relational_tables(seed)
    rng = np.random.default_rng(seed + 1)
    part = tables["part"].to_pydict()
    seen: set[str] = set()
    names: list[str] = []
    for i in rng.permutation(len(part["p_partkey"])):
        name = f"{part['p_name'][i]} {part['p_type'][i].lower()} {part['p_size'][i]}"
        if name not in seen:
            seen.add(name)
            names.append(name)
    if len(names) < n_refs:
        raise ValueError(f"only {len(names)} distinct part names for {n_refs} references")
    names = names[:n_refs]
    for j in rng.choice(n_refs, max(1, n_refs // 100), replace=False):
        words = names[(j + 1) % n_refs].split()
        names[j] = " ".join([words[0], words[1] + "s", *words[2:]])
    sheet = [
        (f"CL:{1000000 + i:07d}", name, part["p_brand"][i % len(part["p_brand"])])
        for i, name in enumerate(names)
    ]
    fixture = [
        (f"CL_{1000000 + i:07d}", f"term {i}", None if i % 17 == 0 else f"a {name} of the lung")
        for i, name in enumerate(names)
    ]
    customers = tables["customer"].column("c_name").to_pylist()
    labels: list[tuple[str, str]] = []
    for _ in range(n_labels):
        if labels and rng.random() < 0.10:
            labels.append(labels[int(rng.integers(0, len(labels)))])
            continue
        r = rng.random()
        words = names[int(rng.integers(0, n_refs))].split()
        if r < 0.2:
            text = " ".join(words)
        elif r < 0.6:
            kind = int(rng.integers(0, 3))
            if kind == 0:
                words[1] += "s"
            elif kind == 1:
                words = [w.title() for w in words]
            else:
                words = [words[i] for i in rng.permutation(len(words))]
            text = " ".join(words)
        else:
            text = customers[int(rng.integers(0, len(customers)))]
        labels.append((SOURCES[int(rng.integers(0, len(SOURCES)))], text))
    return {"sheet": sheet, "fixture": fixture, "labels": labels}
