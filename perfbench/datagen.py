"""Seeded inputs for the benchmark: the star schema and the CDC feed.

Everything here is a pure function of ``(seed, scale)``: the same seed gives
byte-identical tables and feed files. The star schema follows the column
layout and value ranges of the engine's test data (TESTDATA.md: TPC-H-like
relational tables plus ``events``, ``documents`` and ``embeddings``), so the
registry's query builders and DuckDB oracles run on it unchanged.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the big small fast slow data table row column key value part order "
    "customer line batch stream window query join merge sort scan hash filter "
    "group agg spark vector"
).split()
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten star-schema tables at ``scale`` (1.0 = TPC-H sf1 row counts)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 1000)
    n_users = max(int(15_000 * scale), 50)
    n_docs = max(int(50_000 * scale), 500)
    n_vec = max(int(20_000 * scale), 500)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    order_days = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; about 5 % are near-copies of an earlier one."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))].split(" ")
            base[int(rng.integers(0, len(base)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(base) + (" dup" if rng.random() < 0.5 else ""))
        else:
            words = rng.choice(len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_star_schema(seed: int, scale: float, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------------------
# CDC feed
# --------------------------------------------------------------------------

SPORTS = ["Course à pied", "Vélo", "Natation", "Yoga", "Tennis", "Marche", "Escalade"]


@dataclass
class Change:
    id: int
    op: str
    ts_ms: int
    row: dict

    def envelope(self) -> str:
        row = json.dumps(self.row, ensure_ascii=False)
        before, after = (row, "null") if self.op == "d" else ("null", row)
        return (f'{{"payload":{{"before":{before},"after":{after},'
                f'"op":"{self.op}","ts_ms":{self.ts_ms}}}}}')


def _rows(rng: np.random.Generator, keys: np.ndarray, n_employees: int) -> list[dict]:
    n = len(keys)
    sport = rng.integers(0, len(SPORTS), n)
    employee = rng.integers(1, n_employees + 1, n)
    start = 1_704_067_200_000_000 + rng.integers(0, 366 * 86_400, n) * 1_000_000
    distance = np.round(rng.uniform(0.5, 50.0, n), 2)
    duration = rng.integers(600, 7200, n)
    comment = np.where(rng.random(n) < 0.7, -1, rng.integers(0, 12, n))
    return [
        {
            "id": int(k),
            "id_employee": int(e),
            "first_name": f"first{k % 97}",
            "last_name": f"last{k % 89}",
            "start_datetime": int(t),
            "sport_type": SPORTS[s],
            "distance": float(d),
            "activity_duration": int(u),
            "comment": None if c < 0 else f"c{c}",
        }
        for k, e, t, s, d, u, c in zip(
            keys.tolist(), employee.tolist(), start.tolist(), sport.tolist(),
            distance.tolist(), duration.tolist(), comment.tolist())
    ]


def cdc_feed(seed: int, n_keys: int, n_batches: int, batch_size: int,
             n_employees: int = 500) -> tuple[list[Change], list[list[Change]]]:
    """A bootstrap snapshot of ``n_keys`` rows and ``n_batches`` change files.

    ``ts_ms`` is unique across the whole feed. About 10 % of the changes are
    deletes, a tenth are inserts of new keys and the rest are updates of
    keys that exist or existed. Each batch is a shuffled slice of the feed
    with a fifth of its changes swapped with the next batch, so a key's
    changes arrive out of ``ts_ms`` order across batches.
    """
    rng = np.random.default_rng(seed + 7919)
    boot_keys = np.arange(n_keys)
    boot = [Change(k, "r", 1_700_000_000_000 + k, row)
            for k, row in zip(boot_keys.tolist(), _rows(rng, boot_keys, n_employees))]
    n = n_batches * batch_size
    u = rng.random(n)
    is_insert = (u >= 0.1) & (u < 0.2)
    # keys that exist before change i: the bootstrap plus earlier inserts
    known = n_keys + np.cumsum(is_insert) - is_insert
    keys = np.where(is_insert, known, (rng.random(n) * known).astype(np.int64))
    ops = np.where(u < 0.1, "d", np.where(is_insert, "c", "u"))
    ts = 1_700_000_000_000 + n_keys + np.cumsum(rng.integers(1, 5, n))
    changes = [Change(k, o, t, row) for k, o, t, row in zip(
        keys.tolist(), ops.tolist(), ts.tolist(), _rows(rng, keys, n_employees))]
    batches = [changes[i * batch_size:(i + 1) * batch_size] for i in range(n_batches)]
    for b in range(n_batches - 1):
        for j in rng.choice(batch_size, batch_size // 5, replace=False).tolist():
            batches[b][j], batches[b + 1][j] = batches[b + 1][j], batches[b][j]
    for batch in batches:
        rng.shuffle(batch)
    return boot, batches


def write_feed_file(changes: list[Change], path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for c in changes:
            f.write(c.envelope())
            f.write("\n")


def reduce_feed(changes) -> dict[int, dict]:
    """Plain-Python reference state: per key the change with the largest
    ``ts_ms``; keys whose winner is a delete are dropped."""
    best: dict[int, Change] = {}
    for c in changes:
        cur = best.get(c.id)
        if cur is None or c.ts_ms > cur.ts_ms:
            best[c.id] = c
    return {k: c.row for k, c in best.items() if c.op != "d"}
