"""Seeded input generators for the graft benchmark.

Every input the library receives is made here from the run's seed: the same
seed gives byte-identical parquet files.

* ``corpus``      -- the ten-table corpus (TPC-H-like star schema, an
                     ``events`` stream, ``documents`` and ``embeddings``) with
                     the value domains and shapes of the repository's synthetic
                     test data; both workloads run on one.
* ``change_feed`` -- the ``maintain`` micro-batches for one id space, honouring
                     the feed op contract of ``IndexMaintenance``.
* ``face_sample`` -- the ``faces`` stratified set of query faces.
"""
import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64

EPOCH = datetime.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _days(rng, lo, hi, n):
    """n midnight timestamps (micros) uniform over the days [lo, hi]."""
    span = (hi - lo).days
    return _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _texts(rng, n):
    """Space-joined vocabulary words, 10..100 per text; 5% of texts are an
    earlier-drawn text plus " dup" (the near-duplicates the dedup faces find)."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    dup = rng.random(n) < 0.05
    other = rng.integers(0, n, n)
    for i in np.flatnonzero(dup):
        j = int(other[i]) if other[i] != i else (i + 1) % n
        texts[i] = texts[j] + " dup"
    return texts


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _vector_column(v):
    return pa.FixedSizeListArray.from_arrays(
        pa.array(v.reshape(-1), type=pa.float32()), DIM).cast(pa.list_(pa.float32()))


def corpus(seed, sf, n_docs, n_vecs):
    """The ten tables at scale factor `sf`, with `n_docs` documents and
    `n_vecs` embeddings (vec_id lies inside the doc_id range, as the joins
    between the two tables expect)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[i % 8]} {NOUN[i // 8]}" for i in rng.integers(0, 64, n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_days(rng, datetime.datetime(1995, 1, 1),
                                 datetime.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, datetime.datetime(1995, 1, 2),
                                datetime.datetime(2001, 11, 4), n_line))})
    start = _micros(datetime.datetime(2024, 1, 1))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(start + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = _texts(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": _vector_column(_unit_vectors(rng, n_vecs)),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return t


def write(tables, dst):
    """Write each table as `<dst>/<name>.parquet` (snappy, one row group)."""
    os.makedirs(dst, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(dst, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)


def change_feed(seed, n_ids, rounds, batch, payload):
    """`rounds` micro-batches of `batch` changes over ids 0..n_ids-1.

    The feed op contract of ``IndexMaintenance``: 'a' only for ids never
    served (fresh ids above the base), 'u' and 'd' only for ids currently
    served, no id twice in one batch. `payload(rng, id, op)` makes the 'a'
    and 'u' payloads. Returns a list of batches of (id, op, payload)."""
    rng = random.Random(seed)
    live = list(range(n_ids))
    next_id = n_ids
    batches = []
    for _ in range(rounds):
        ops = []
        touched = set()
        for _ in range(batch):
            kind = rng.choices("aud", weights=(2, 2, 1))[0]
            if kind == "a":
                i = next_id
                next_id += 1
            else:
                while True:
                    i = live[rng.randrange(len(live))]
                    if i not in touched:
                        break
            touched.add(i)
            ops.append((i, kind, None if kind == "d" else payload(rng, i, kind)))
        for i, kind, _ in ops:
            if kind == "a":
                live.append(i)
            elif kind == "d":
                live.remove(i)
        batches.append(ops)
    return batches


def text_payload(rng, i, op):
    n = rng.randint(12, 60)
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def vector_payload(rng, i, op):
    v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    norm = sum(x * x for x in v) ** 0.5
    return [float(np.float32(x / norm)) for x in v]


def feed_table(ops, id_col, vector):
    typ = pa.list_(pa.float32()) if vector else pa.string()
    return pa.table({id_col: pa.array([o[0] for o in ops], pa.int64()),
                     "op": [o[1] for o in ops],
                     "payload": pa.array([o[2] for o in ops], typ)})


def face_sample(registry, n):
    """`n` faces from `registry` ({module: [faces]}), stratified: every
    module contributes at least one face and the rest is allocated in
    proportion to module size (largest remainder); one fixed draw, in name
    order.

    The benchmark keeps the draw and the order fixed, and lets the seed vary
    only the corpus: a set drawn per seed spread the cold-pass time by 30%
    or more between seeds (face costs span 0.1 s to 9 s), and a seeded
    order moved it by the 1-3 s that whichever face runs first in the JVM
    pays -- both beyond any bound a gate can use."""
    rng = random.Random(0)
    modules = sorted(registry)
    total = sum(len(registry[m]) for m in modules)
    n = max(len(modules), min(n, total))
    spare = n - len(modules)
    exact = {m: spare * (len(registry[m]) - 1) / (total - len(modules)) for m in modules}
    take = {m: 1 + int(exact[m]) for m in modules}
    left = n - sum(take.values())
    for m in sorted(modules, key=lambda m: (-(exact[m] - int(exact[m])), m))[:left]:
        take[m] += 1
    picked = []
    for m in modules:
        picked += rng.sample(sorted(registry[m]), take[m])
    return sorted(picked)



def reduce_feed(batches):
    """Last writer per id over `batches`, in id order: the cumulative change
    set the loop serves ('d' rows keep a null payload)."""
    last = {}
    for ops in batches:
        for i, op, payload in ops:
            last[i] = (i, op, payload)
    return [last[i] for i in sorted(last)]


def _payload_bytes(payload):
    if payload is None:
        return 0
    return 4 * len(payload) if isinstance(payload, list) else len(payload.encode())


def write_feeds(seed, dst, tables, rounds, share):
    """The `maintain` change feeds over the documents and embeddings of
    `tables`: `rounds` batches of `share` of each base (`doc/batch_<r>`,
    `vec/batch_<r>`), each beside the reduced cumulative feed through it
    (`cum_<r>`). Returns, per feed and round, the number of changes, their
    payload bytes, and the live payload bytes once the round is applied."""
    info = {}
    for kind, id_col, col, payload in (("doc", "doc_id", "text", text_payload),
                                       ("vec", "vec_id", "embedding", vector_payload)):
        base = tables["documents" if kind == "doc" else "embeddings"].column(col).to_pylist()
        live = {i: _payload_bytes(v) for i, v in enumerate(base)}
        d = os.path.join(dst, kind)
        os.makedirs(d, exist_ok=True)
        batches = change_feed(f"{seed}-{kind}", len(base), rounds,
                              max(1, round(len(base) * share)), payload)
        info[kind] = []
        for r, ops in enumerate(batches):
            vec = kind == "vec"
            pq.write_table(feed_table(ops, id_col, vec), os.path.join(d, f"batch_{r}.parquet"))
            pq.write_table(feed_table(reduce_feed(batches[:r + 1]), id_col, vec),
                           os.path.join(d, f"cum_{r}.parquet"))
            for i, op, p in ops:
                if op == "d":
                    live.pop(i)
                else:
                    live[i] = _payload_bytes(p)
            info[kind].append({"changes": len(ops),
                               "change_bytes": sum(_payload_bytes(p) for _, _, p in ops),
                               "live_bytes": sum(live.values())})
    return info
