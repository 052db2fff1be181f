"""Seeded input generators for the benchmark workloads.

``sequence_rows`` keeps the F1 corpus shape of ``octocode_spark.datagen``
(schema ``(doc_id, tokens, n_tok, source)``, 12 Zipf sources with the hot one
at 50%, the 80/15/5 n_tok mix) but takes the seed as an argument and keys
every row on ``(id, ver)``: the same pair always yields the same row. The
upsert workload therefore knows every row it expects from its own key model,
without asking the engine. Rows are built in the benchmark process with
numpy and pyarrow, so generating inputs runs no Spark job and depends on no
engine code.

``query_tables`` writes the seven tables the query suite reads (lineitem,
orders, customer, nation, events, documents, embeddings) as one parquet file
each, with the column names and types of the fixed test datasets.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MAX_TOK_CAP = 2048

# (cumulative share in %, source): the F1 Zipf mix
SOURCE_BUCKETS: list[tuple[int, str]] = [
    (50, "common-crawl"),
    (70, "github"),
    (80, "wikipedia"),
    (83, "books"),
    (86, "arxiv"),
    (89, "stackexchange"),
    (92, "news"),
    (94, "forums"),
    (96, "patents"),
    (98, "legal"),
    (99, "reference"),
    (100, "misc"),
]
_BUCKET_HI = np.array([hi for hi, _ in SOURCE_BUCKETS])
_SOURCE_NAMES = np.array([name for _, name in SOURCE_BUCKETS], dtype=object)

SEQUENCES_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 arrays (wrapping arithmetic)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _hash(seed: int, tag: int, *cols: np.ndarray) -> np.ndarray:
    h = _mix(np.full(len(cols[0]), (seed << 8) + tag, dtype=np.uint64))
    for c in cols:
        h = _mix(h ^ c.astype(np.uint64))
    return h


def sources(ids: np.ndarray, seed: int) -> np.ndarray:
    bucket = _hash(seed, 1, ids) % np.uint64(100)
    return _SOURCE_NAMES[np.searchsorted(_BUCKET_HI, bucket.astype(np.int64), side="right")]


def doc_ids(ids: np.ndarray, seed: int) -> list[str]:
    return [f"{s}-{i:012d}" for s, i in zip(sources(ids, seed), ids.tolist())]


def sequence_rows(ids, vers, seed: int, max_tok_cap: int = MAX_TOK_CAP) -> pa.Table:
    """F1 rows for the ``(id, ver)`` pairs, in the given order."""
    ids = np.asarray(ids, dtype=np.int64)
    vers = np.asarray(vers, dtype=np.int64)

    def uniform(tag: int, lo: int, hi: int) -> np.ndarray:
        return (_hash(seed, tag, ids, vers) % np.uint64(hi - lo + 1)).astype(np.int64) + lo

    seg = _hash(seed, 2, ids, vers) % np.uint64(100)
    n_tok = np.where(
        seg < 80, uniform(3, 16, 512), np.where(seg < 95, uniform(4, 513, 2048), uniform(5, 2049, 8192))
    )
    n_tok = np.minimum(n_tok, max_tok_cap).astype(np.int32)
    offsets = np.zeros(len(ids) + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    row_of = np.repeat(np.arange(len(ids)), n_tok)
    pos = np.arange(offsets[-1], dtype=np.int64) - offsets[:-1][row_of]
    row_h = _hash(seed, 6, ids, vers)
    tokens = (_mix(row_h[row_of] ^ pos.astype(np.uint64)) % np.uint64(VOCAB)).astype(np.int32)
    return pa.table(
        [
            pa.array(doc_ids(ids, seed)),
            pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
            pa.array(n_tok),
            pa.array(sources(ids, seed).tolist()),
        ],
        schema=SEQUENCES_SCHEMA,
    )


def logical_bytes(table: pa.Table) -> int:
    """In-memory size of rows: the denominator of write amplification."""
    return table.nbytes


def write_parquet(table: pa.Table, path: str, files: int = 1) -> str:
    """Write ``table`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))
    return path


# ---------------------------------------------------------------- query tables

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "search"]
EVENT_WEIGHTS = [0.45, 0.25, 0.1, 0.1, 0.1]
DOC_SOURCES = ["github", "wikipedia", "stackexchange", "arxiv", "news"]
DOC_LANGS = ["en", "de", "fr", "es", "ja"]
EMBED_DIM = 64
EMBED_LABELS = 10


def query_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the query-suite tables under ``out_dir``; returns row counts.

    ``scale`` follows the TPC-H scale factor of the fixed datasets
    (lineitem ≈ 6M × scale rows). numpy + pyarrow in this process: no Spark job.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * scale), 100)
    n_orders = max(int(1_500_000 * scale), 1000)
    n_events = max(int(1_000_000 * scale), 1000)
    n_docs = max(int(50_000 * scale), 200)
    n_vec = max(int(20_000 * scale), 200)
    epoch_1992 = np.datetime64("1992-01-01T00:00:00", "us")
    day_us = 86_400_000_000

    def write(name: str, cols: dict) -> int:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        return table.num_rows

    counts = {}
    counts["nation"] = write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    counts["customer"] = write("customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    o_date = epoch_1992 + rng.integers(0, 2400, n_orders) * day_us
    counts["orders"] = write("orders", {
        "o_orderkey": pa.array(np.arange(1, n_orders + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(850.0, 500_000.0, n_orders), 2)),
        "o_orderdate": pa.array(o_date),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    l_lineno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    l_ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_li) * day_us
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    counts["lineitem"] = write("lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(1, max(int(200_000 * scale), 100), n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, max(int(10_000 * scale), 10), n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(l_ship),
    })
    n_users = max(n_events // 20, 10)
    # a user's events cluster in a few sessions, so one-hour windows hold
    # follow-up events
    ev_user = rng.integers(1, n_users + 1, n_events).astype(np.int64)
    session = rng.integers(0, 4, n_events)
    ev_ts = (
        epoch_1992
        + ((ev_user * 7919 + session * 104_729) % 3000) * day_us
        + rng.integers(0, 7_200_000_000, n_events)
    )
    counts["events"] = write("events", {
        "event_id": pa.array(np.arange(1, n_events + 1, dtype=np.int64)),
        "ts": pa.array(ev_ts),
        "user_id": pa.array(ev_user),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events, p=EVENT_WEIGHTS)),
        "value": pa.array(np.round(rng.exponential(20.0, n_events), 2)),
        "props": pa.array([f'{{"k":{int(k)}}}' for k in rng.integers(0, 100, n_events)]),
    })
    words = [f"w{i}" for i in range(2000)]
    zipf = np.minimum(rng.zipf(1.3, (n_docs, 60)), len(words)) - 1
    texts = []
    for i in range(n_docs):
        length = int(rng.integers(20, 60))
        if i > 0 and rng.random() < 0.1:
            # near-duplicate of an earlier document: a shared prefix plus noise
            base = texts[int(rng.integers(0, i))].split(" ")
            cut = int(len(base) * rng.uniform(0.5, 0.9))
            tail = [words[k] for k in zipf[i, : max(length - cut, 1)]]
            texts.append(" ".join(base[:cut] + tail))
        else:
            texts.append(" ".join(words[k] for k in zipf[i, :length]))
    counts["documents"] = write("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(DOC_LANGS, n_docs)),
        "source": pa.array(rng.choice(DOC_SOURCES, n_docs, p=[0.4, 0.25, 0.15, 0.1, 0.1])),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, n_vec)
    vecs = (centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_vec, EMBED_DIM))).astype(np.float32)
    counts["embeddings"] = write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return counts
