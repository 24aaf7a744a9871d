"""Seeded input generator for the engine benchmark.

Writes the engine's ten input tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the schemas and value distributions the engine's loaders and
reference oracles expect: independent uniform columns over TPC-H-style key
spaces, an event stream sorted by time, a word corpus with a share of
near-duplicate documents, and unit-norm embeddings.

It also cuts an event stream into event-time-ordered ingest batches with
re-delivered keys (changed values) and late rows, and predicts the base
table that last-writer-wins upserts of those batches must produce.

Every random draw comes from numpy's PCG64 seeded by (seed, table), so the
same seed gives byte-identical files and a different seed different ones.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
EVENTS_T0_US = np.datetime64("2024-01-01", "us").astype(np.int64)
EVENTS_SPAN_US = 30 * DAY_US


def _rng(seed: int, stream: str) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def _days_us(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_1995 + days) * DAY_US, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def sizes(sf: float) -> dict:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(10, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def build_tables(sf: float, seed: int) -> dict:
    """All ten tables as pyarrow Tables, a pure function of (sf, seed)."""
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(r.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(r, SEGMENTS, c)})

    r = _rng(seed, "supplier")
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(r.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, s))})

    r = _rng(seed, "part")
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(r, names, p),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(r, PTYPES, p),
        "p_size": pa.array(r.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})

    r = _rng(seed, "orders")
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": _pick(r, STATUS, o),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, o)),
        "o_orderdate": _days_us(r.integers(0, 2404, o)),
        "o_orderpriority": _pick(r, PRIORITIES, o)})

    r = _rng(seed, "lineitem")
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, li)),
        "l_discount": pa.array(r.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], li),
        "l_linestatus": _pick(r, ["F", "O"], li),
        "l_shipdate": _days_us(r.integers(1, 2500, li))})

    t["events"] = events_table(n["events"], n["users"], _rng(seed, "events"))

    r = _rng(seed, "documents")
    d = n["documents"]
    lens = r.integers(10, 101, d)
    vocab = np.asarray(WORDS, dtype=object)
    texts = [" ".join(vocab[r.integers(0, len(WORDS), k)]) for k in lens]
    # 5% of the documents are a near-duplicate of another (one appended
    # word) and 0.2% an exact copy, at random positions in the corpus
    perm = r.permutation(d)
    n_near, n_exact = d // 20, max(1, d // 500)
    for i in range(n_near):
        texts[perm[2 * i + 1]] = texts[perm[2 * i]] + " dup"
    base = 2 * n_near
    for i in range(n_exact):
        texts[perm[base + 2 * i + 1]] = texts[perm[base + 2 * i]]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, d),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})

    r = _rng(seed, "embeddings")
    e = n["embeddings"]
    x = r.standard_normal((e, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(e, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * e + 1, 64, dtype=np.int32)),
            pa.array(x.reshape(-1))).cast(pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, e).astype(np.int32))})
    return t


def events_table(n: int, users: int, r: np.random.Generator) -> pa.Table:
    ts = np.sort(r.integers(0, EVENTS_SPAN_US, n)) + EVENTS_T0_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, n).astype(np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Writes every table under out_dir; returns the inputs' fingerprint."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        write(table, os.path.join(out_dir, f"{name}.parquet"))
    return fingerprint(out_dir)


def fingerprint(d: str) -> str:
    """sha256 over every file's relative name and bytes, in name order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def ingest_batches(sf: float, seed: int, n_batches: int):
    """Cuts the sf's event stream into n_batches event-time-ordered batches.

    Batch i holds the events of the i-th slice of the event-time range,
    minus the rows that arrive late (they move to a later batch), plus
    re-deliveries: keys of earlier batches with a changed value. The two
    shares are drawn from the seed. Returns (batches, shares),
    each batch a pyarrow Table with the events schema.
    """
    n = sizes(sf)
    ev = events_table(n["events"], n["users"], _rng(seed, "ingest-events"))
    r = _rng(seed, "ingest-split")
    redeliver = r.uniform(0.03, 0.08)
    late = r.uniform(0.01, 0.03)
    rows = ev.num_rows
    slot = np.minimum((np.arange(rows) * n_batches) // rows, n_batches - 1)
    # a late row arrives one to three batches after its own slice
    is_late = (r.random(rows) < late) & (slot < n_batches - 1)
    arrive = slot.copy()
    arrive[is_late] = np.minimum(
        slot[is_late] + r.integers(1, 4, int(is_late.sum())), n_batches - 1)
    value = ev.column("value").to_numpy()
    batches = []
    for b in range(n_batches):
        own = np.flatnonzero(arrive == b)
        earlier = np.flatnonzero(arrive < b)
        k = min(len(earlier), int(round(redeliver * len(own))))
        again = np.sort(r.choice(earlier, k, replace=False)) if k else \
            np.empty(0, dtype=np.int64)
        idx = np.concatenate([own, again])
        new_value = value[idx].copy()
        new_value[len(own):] = np.round(new_value[len(own):] + r.uniform(1, 100, k), 2)
        batches.append(ev.take(pa.array(idx)).set_column(
            4, "value", pa.array(new_value)))
    return batches, {"redeliver_share": round(float(redeliver), 4),
                     "late_share": round(float(late), 4)}


def predict_base(batches, upto: int) -> dict:
    """The base after merging batches[0:upto] last-writer-wins on event_id:
    event_id -> (row as a tuple of the events columns, last batch index)."""
    base = {}
    for b, t in enumerate(batches[:upto]):
        cols = [t.column(i).to_pylist() for i in range(t.num_columns)]
        for row in zip(*cols):
            base[row[0]] = (row, b)
    return base
