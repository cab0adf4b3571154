"""Seeded input generators for every workload.

Every generator takes a numpy Generator built by ``rng(seed, *stream)``,
so the same seed yields byte-identical inputs and each op's inputs depend
only on (seed, op index), never on how fast earlier ops ran. Nothing here
touches Spark: the engine only ever receives DataFrames built from these
rows.
"""

from __future__ import annotations

import os

import numpy as np

# ---------------------------------------------------------------- common

_STREAMS = {
    "orders": 1, "write_mix": 2, "read_mix": 3, "corpus": 4, "queries": 5,
    "tpch": 6, "vocab": 7, "cust_rank": 8,
}


def rng(seed: int, stream: str, *index: int) -> np.random.Generator:
    """An independent generator per (seed, stream, index...)."""
    return np.random.default_rng([int(seed), _STREAMS[stream], *map(int, index)])


# ------------------------------------------------------- orders-like table

ORDER_DDL = (
    "k bigint, ver bigint, status string, price double, cust bigint, "
    "ts bigint, _deleted boolean"
)
STATUSES = ("F", "O", "P", "R")
N_CUST = 5000
TS0 = 1_700_000_000
TS_STEP = 60  # seconds between consecutive keys: ts tracks key recency


def _order_row(r: np.random.Generator, key: int, ver: int, deleted: bool) -> tuple:
    cents = int(r.integers(100, 50_000_000))
    return (
        key, ver, STATUSES[int(r.integers(0, len(STATUSES)))], cents / 100,
        int(r.integers(0, N_CUST)), TS0 + key * TS_STEP + int(r.integers(0, TS_STEP)),
        deleted,
    )


def initial_orders(seed: int, n_rows: int) -> list[tuple]:
    r = rng(seed, "orders")
    return [_order_row(r, k, 1, False) for k in range(n_rows)]


def _recent_keys(r: np.random.Generator, n: int, next_key: int, scale: float) -> list[int]:
    """``n`` distinct existing keys, skewed towards the most recent ones
    (Pareto offsets back from the newest key)."""
    out: dict[int, None] = {}
    while len(out) < min(n, next_key):
        off = (r.pareto(1.2, size=n) * scale).astype(np.int64)
        for k in (next_key - 1 - off).tolist():
            if 0 <= k and len(out) < n:
                out[k] = None
    return list(out)


def upsert_batch(
    seed: int, op: int, ver: int, next_key: int, size: int,
    new_frac: float = 0.2, tombstone_frac: float = 0.0,
) -> tuple[list[tuple], int]:
    """One MERGE batch: a ``new_frac`` share of fresh keys, the rest
    existing keys skewed to recent ones; ``tombstone_frac`` of the
    existing-key rows are deletes (``_deleted`` true). Returns the rows
    and the next unused key."""
    r = rng(seed, "write_mix", op)
    n_new = int(size * new_frac)
    old = _recent_keys(r, size - n_new, next_key, scale=next_key / 20)
    rows = [
        _order_row(r, k, ver, bool(r.random() < tombstone_frac)) for k in old
    ]
    rows += [_order_row(r, next_key + i, ver, False) for i in range(n_new)]
    return rows, next_key + n_new


def delete_keys(seed: int, op: int, next_key: int, size: int) -> list[int]:
    """Keys to delete: mostly recent existing keys plus a few keys that
    never existed (a delete of an absent key is a no-op)."""
    r = rng(seed, "write_mix", op)
    keys = _recent_keys(r, size - size // 10, next_key, scale=next_key / 10)
    return keys + [next_key + 10_000_000 + i for i in range(size // 10)]


def replace_slice(
    seed: int, op: int, ver: int, next_key: int, width_keys: int, n_new: int,
) -> tuple[int, int, list[tuple], int]:
    """A REPLACE WHERE on ``ts``: the slice covers ``width_keys`` keys'
    worth of timestamps from the older half of the table; the new rows
    use fresh keys with timestamps inside the slice."""
    r = rng(seed, "write_mix", op)
    a = int(r.integers(0, max(1, next_key // 2 - width_keys)))
    lo = TS0 + a * TS_STEP
    hi = lo + width_keys * TS_STEP - 1
    rows = []
    for i in range(n_new):
        row = list(_order_row(r, next_key + i, ver, False))
        row[5] = int(r.integers(lo, hi + 1))
        rows.append(tuple(row))
    return lo, hi, rows, next_key + n_new


def logical_bytes(rows) -> int:
    """Fixed-width column sizes plus string lengths (8 per bigint/double,
    1 per boolean)."""
    return sum(5 * 8 + 1 + len(row[2]) for row in rows)


# ---------------------------------------------------------------- read mix

def read_op(seed: int, op: int, kind: str, n_keys: int, versions: list[int]) -> dict:
    """Parameters of read op ``op`` of ``kind``. A ``miss`` is a point
    read of a customer id no row has."""
    r = rng(seed, "read_mix", op)
    if kind == "miss":
        return {"value": N_CUST + int(r.integers(0, 1000))}
    if kind == "point":
        # Zipf-skewed hit over a seeded ranking of customer ids
        rank = min(int(r.zipf(1.3)) - 1, N_CUST - 1)
        perm = rng(seed, "cust_rank").permutation(N_CUST)
        return {"value": int(perm[rank])}
    if kind == "range":
        a = int(r.integers(0, n_keys))
        lo = TS0 + a * TS_STEP
        return {"lo": lo, "hi": lo + 100 * TS_STEP}
    if kind == "where":
        lo = round(float(r.uniform(0, 499_000)), 2)
        return {"lo": lo, "hi": lo + 1250.0}
    if kind == "old":
        return {"version": versions[-2]}  # the previous version
    # the change feed over the whole retained history
    return {"v_from": versions[0], "v_to": versions[-1]}


# ------------------------------------------------------------ text corpus

EMBED_DIM = 64


def vocabulary(seed: int, n: int = 400) -> list[str]:
    r = rng(seed, "vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < n:
        words["".join(letters[r.integers(0, 26, size=int(r.integers(3, 9)))])] = None
    return list(words)


def corpus_batch(
    seed: int, batch: int, n_docs: int, dup_every: int, vocab: list[str],
) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """``n_docs`` documents with ids ``batch * n_docs + i``. Every
    ``dup_every``-th document is a near-duplicate: a copy of an earlier
    original (never of another duplicate, so every duplicate cluster is a
    star) with a single token replaced. Returns (docs, injected pairs)."""
    r = rng(seed, "corpus", batch)
    base = batch * n_docs
    docs: list[tuple[int, str]] = []
    pairs: list[tuple[int, int]] = []
    originals: list[int] = []
    toks: list[list[str]] = []
    for i in range(n_docs):
        if i % dup_every == dup_every - 1:
            src = originals[int(r.integers(0, len(originals)))]
            t = list(toks[src])
            pos = int(r.integers(0, len(t)))
            t[pos] = vocab[(vocab.index(t[pos]) + 1 + int(r.integers(0, len(vocab) - 1))) % len(vocab)]
            pairs.append((base + src, base + i))
        else:
            t = [vocab[j] for j in r.integers(0, len(vocab), size=int(r.integers(30, 70)))]
            originals.append(i)
        toks.append(t)
        docs.append((base + i, " ".join(t)))
    return docs, pairs


def query_vectors(seed: int, n: int, dim: int = EMBED_DIM) -> np.ndarray:
    v = rng(seed, "queries").standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


# -------------------------------------------------- TPC-H-like fixture

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PWORDS = ("small", "red", "blue", "green", "large", "steel")
_PNOUNS = ("ring", "widget", "bolt", "anvil", "gear", "valve")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")


def tpch_tables(seed: int, scale: float) -> dict:
    """The repository's fixture schema (region … embeddings), with row
    counts proportional to ``scale`` (lineitem = 60000 × scale / 0.01)
    and value domains like the committed fixtures'. Returns
    {table: pyarrow.Table}."""
    import pyarrow as pa

    r = rng(seed, "tpch")
    f = scale / 0.01
    n_cust, n_supp, n_part = int(1500 * f), max(10, int(100 * f)), int(2000 * f)
    n_ord, n_line, n_ev, n_doc = int(15000 * f), int(60000 * f), int(10000 * f), int(500 * f)
    day0 = np.datetime64("1995-01-01", "D")

    def money(lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    def days(n, span):
        return (day0 + r.integers(0, span, n)).astype("datetime64[us]")

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{_PWORDS[a]} {_PNOUNS[b]}" for a, b in r.integers(0, 6, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(days(n_ord, 2400), pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in r.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100,
        "l_tax": r.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(days(n_line, 2500), pa.timestamp("us"))})
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        r.integers(1, 240_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": money(0.01, 490, n_ev),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_ev)]})
    vocab = vocabulary(seed, 40)
    texts = [" ".join(vocab[j] for j in r.integers(0, 40, int(r.integers(8, 90))))
             for _ in range(n_doc)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()), "text": texts,
        "lang": [_LANGS[i] for i in r.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in r.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = r.standard_normal((n_doc, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_doc), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_doc), pa.int32())})
    return t


def write_tpch(seed: int, scale: float, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tpch_tables(seed, scale).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))

