"""Seeded input generator for the benchmark workloads.

Every table is written under the engine's declared schemas
(``ssis_to_dbt_spark.schema.TESTDATA_SCHEMAS``), one parquet file per table,
so ``sources.readers.testdata()`` footer validation passes.  The value
distributions follow the driver fixtures (TPC-H-like keys and measures, a
30-word document vocabulary, 64-d unit embeddings, 30 days of events); the
seed picks every value, so the same seed gives byte-identical files.

Only numpy and pyarrow are used, so generation needs no Spark session and
its time is never part of a metric.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# Rows per table.  etl_warehouse is a sixth of the sf0.1 fixture (events as
# at sf0.01); curation_corpus keeps the warehouse tables tiny because it
# never reads them.  Sizes are set so that one run, with its set-up, fits the
# benchmark's time budget on four cores.
SIZES = {
    "etl_warehouse": dict(customer=2500, supplier=200, part=3500,
                          orders=25000, lineitem=100000, events=10000,
                          documents=100, embeddings=100),
    "curation_corpus": dict(customer=200, supplier=50, part=200, orders=500,
                            lineitem=2000, events=1000, documents=200,
                            embeddings=200),
}

NEAR_DUP_SHARE = 0.10    # documents/embeddings that are perturbed copies
EXACT_DUP_SHARE = 0.01   # documents that are verbatim copies
PERTURB_SHARE = 0.08     # share of a near-dup document's tokens replaced

VOCAB = (
    "a the data spark table column row value key join group hash sort order "
    "filter scan query agg merge window stream batch vector customer part "
    "line big small fast slow"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_US = 1_000_000
_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp())
_EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
_DAY = 86400


def _days(rng, n, lo_day, hi_day):
    """Midnight timestamps (microseconds) on days [lo_day, hi_day] after 1995-01-01."""
    d = rng.integers(lo_day, hi_day + 1, n)
    return pa.array((_EPOCH_1995 + d * _DAY) * _US, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _key_ids(rng, n):
    """Distinct seeded keys: the seed remaps keys consistently across tables."""
    return np.sort(rng.choice(4 * max(n, 1), n, replace=False)).astype(np.int64)


def _warehouse(rng, n):
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = _key_ids(rng, n["customer"])
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": _choice(rng, SEGMENTS, len(ck)),
    })
    sk = _key_ids(rng, n["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
    })
    pk = _key_ids(rng, n["part"])
    price = np.round(900.0 + rng.integers(0, 1000, len(pk)) / 10.0, 1)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, len(pk)), rng.integers(0, 8, len(pk)))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(pk))]),
        "p_type": _choice(rng, PART_TYPES, len(pk)),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
        "p_retailprice": price,
    })
    ok = _key_ids(rng, n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": ck[rng.integers(0, len(ck), len(ok))],
        "o_orderstatus": _choice(rng, ["O", "F", "P"], len(ok)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
        "o_orderdate": _days(rng, len(ok), 0, 2403),
        "o_orderpriority": _choice(rng, PRIORITIES, len(ok)),
    })
    nl = n["lineitem"]
    pidx = rng.integers(0, len(pk), nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    jitter = rng.uniform(0.98, 1.02, nl)  # seeded measure jitter
    t["lineitem"] = pa.table({
        "l_orderkey": ok[rng.integers(0, len(ok), nl)],
        "l_partkey": pk[pidx],
        "l_suppkey": sk[rng.integers(0, len(sk), nl)],
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pidx] * jitter, 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["O", "F"], nl),
        "l_shipdate": _days(rng, nl, 1, 2499),
    })
    return t


def events_table(rng, n):
    """``n`` events over 30 days from 2024-01-01, in event-time order."""
    start = _EPOCH_2024 * _US
    ts = np.sort(rng.integers(start, start + 30 * _DAY * _US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _perturb(rng, words):
    out = list(words)
    k = max(1, int(round(PERTURB_SHARE * len(out))))
    for i in rng.choice(len(out), min(k, len(out)), replace=False):
        out[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return out


def documents_table(rng, n):
    """Documents over a small vocabulary; a seeded share are near-duplicates
    (token-perturbed copies of earlier documents) and a smaller share exact
    copies, so dedup operators always have real work."""
    texts: list[str] = []
    n_near = n_exact = 0
    for i in range(n):
        r = rng.random()
        if i > 10 and r < NEAR_DUP_SHARE:
            src = texts[rng.integers(0, len(texts))].split(" ")
            texts.append(" ".join(_perturb(rng, src)))
            n_near += 1
        elif i > 10 and r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts.append(texts[rng.integers(0, len(texts))])
            n_exact += 1
        else:
            length = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), length)))
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{s}" for s in rng.permutation(np.arange(n) % 20)]),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    return table, {"near_dup": n_near, "exact_dup": n_exact}


def embeddings_table(rng, n, dim=64):
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    n_near = 0
    for i in range(11, n):
        if rng.random() < NEAR_DUP_SHARE:
            vecs[i] = vecs[rng.integers(0, i)] + 0.02 * rng.standard_normal(dim)
            n_near += 1
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return table, {"near_dup": n_near}


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write every table for ``workload`` under ``out_dir``; return its stated
    sizes (rows and bytes per table, near-duplicate counts)."""
    n = SIZES[workload]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = _warehouse(rng, n)
    tables["events"] = events_table(rng, n["events"])
    tables["documents"], doc_dups = documents_table(rng, n["documents"])
    tables["embeddings"], emb_dups = embeddings_table(rng, n["embeddings"])
    sizes = {}
    for name in TABLES:
        nbytes = _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = {"rows": tables[name].num_rows, "bytes": nbytes}
    return {
        "tables": sizes,
        "input_rows": sum(s["rows"] for s in sizes.values()),
        "input_bytes": sum(s["bytes"] for s in sizes.values()),
        "documents_dups": doc_dups,
        "embeddings_dups": emb_dups,
    }
