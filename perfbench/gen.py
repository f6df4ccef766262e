"""Seeded input generator: one seed gives every input set.

Everything here is numpy + pyarrow (no Spark), so a set of inputs is a
pure function of the seed and the sizes below:

- ``change_log``: a Debezium change log landed as fixed-size parquet
  envelope files (the file-source shape ``streaming.runner`` replays).
  Two tenant databases x two tables: ``orders`` is keyed and carries a
  non-optional ``io.debezium.time.Timestamp`` named ``created_at`` (the
  engine partitions it by month); ``accounts`` is keyed with no
  partition column. Create/update/delete over a Zipf-skewed keyspace
  that favours recent keys, a few out-of-order timestamps, one
  add-column change on ``accounts`` at file ``EVOLVE_FILE``, and one
  malformed envelope (a non-numeric key the engine must quarantine) per
  (tenant, table) in every file. Every file carries the same number of
  late and malformed events, so triggers do the same kinds of work.
- ``tpch_lite``: region/nation/customer/supplier/orders/lineitem in the
  test-data layout, sized by ``scale`` (1.0 = TPC-H sf1 row counts).
- ``corpus``: documents resampled from the test-data vocabulary with
  planted exact and near duplicates, plus 64-d embeddings with planted
  topic clusters and planted semantic duplicates (``load_table``
  layout: ``documents.parquet``, ``embeddings.parquet``).
- ``request_script``: the seeded closed-loop request mix of the
  serving workload.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 30-word vocabulary of the engine's test corpora (``dup`` excluded:
# it only marks planted duplicates there)
VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row the agg key query a scan batch"
).split()

TENANTS = (("tenant1", 1), ("tenant2", 2))
EVENTS_PER_FILE = 400
SMALL_EVENTS = 100
EVOLVE_FILE = 14  # first file whose accounts events carry `region`
FILE_MS = 86_400_000  # simulated time per landed file: one day
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
LATE_PER_FILE = 4  # events whose __ts_ms lies 1-3 files in the past

ORDERS_FIELDS = [
    {"field": "order_id", "type": "int64", "optional": False},
    {"field": "customer_id", "type": "int64", "optional": True},
    {"field": "status", "type": "string", "optional": True},
    {"field": "amount", "type": "float64", "optional": True},
    {
        "field": "created_at",
        "type": "int64",
        "optional": False,
        "name": "io.debezium.time.Timestamp",
    },
]
ACCOUNTS_FIELDS = [
    {"field": "account_id", "type": "int64", "optional": False},
    {"field": "name", "type": "string", "optional": True},
    {"field": "balance", "type": "float64", "optional": True},
    {"field": "tier", "type": "int32", "optional": True},
]
ACCOUNTS_EVOLVED = ACCOUNTS_FIELDS + [
    {"field": "region", "type": "string", "optional": True}
]
KEY_COL = {"orders": "order_id", "accounts": "account_id"}
STATUSES = ("new", "paid", "shipped", "returned")
REGIONS = ("emea", "amer", "apac")

ENVELOPE_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.string()),
        ("__topic", pa.string()),
        ("__table", pa.string()),
        ("__op", pa.string()),
        ("__ts_ms", pa.int64()),
        ("__db", pa.string()),
    ]
)


def _write(table: pa.Table, path: str) -> None:
    # one row group, fixed codec: the bytes are a function of the rows
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


# ---------------------------------------------------------------------------
# change log
# ---------------------------------------------------------------------------


class _Stream:
    """Live state of one (tenant, table) source: the keyspace and the
    current row per live key, so updates and deletes carry full rows."""

    def __init__(self, db: str, rds: int, table: str) -> None:
        self.db, self.rds, self.table = db, rds, table
        self.topic = f"source_glaucus{rds}.{db}.{table}"
        self.live: list[int] = []  # creation order: recent keys last
        self.rows: dict[int, dict] = {}
        self.next_id = 1


def _new_row(s: _Stream, key: int, ts: int, rng, evolved: bool) -> dict:
    if s.table == "orders":
        return {
            "order_id": key,
            "customer_id": int(rng.integers(1, 5000)),
            "status": STATUSES[0],
            "amount": round(float(rng.uniform(1, 2000)), 2),
            "created_at": ts,
        }
    row = {
        "account_id": key,
        "name": f"acct-{s.rds}-{key}",
        "balance": round(float(rng.uniform(-100, 10_000)), 2),
        "tier": int(rng.integers(1, 4)),
    }
    if evolved:
        row["region"] = REGIONS[int(rng.integers(0, len(REGIONS)))]
    return row


def _updated(s: _Stream, row: dict, rng, evolved: bool) -> dict:
    row = dict(row)
    if s.table == "orders":
        row["status"] = STATUSES[int(rng.integers(0, len(STATUSES)))]
        row["amount"] = round(float(rng.uniform(1, 2000)), 2)
    else:
        row["balance"] = round(float(rng.uniform(-100, 10_000)), 2)
        if evolved:
            row["region"] = REGIONS[int(rng.integers(0, len(REGIONS)))]
    return row


def _envelope(s: _Stream, key_obj, payload: dict, op: str, ts: int,
              schema_json: str) -> tuple:
    payload = {**payload, "__deleted": "true" if op == "d" else "false"}
    return (
        json.dumps({KEY_COL[s.table]: key_obj}),
        f'{{"schema": {schema_json}, "payload": {json.dumps(payload)}}}',
        s.topic,
        s.table,
        op,
        ts,
        s.db,
    )


def _schema_json(fields: list[dict]) -> str:
    return json.dumps({"type": "struct", "fields": fields})


def change_log(seed: int, out_dir: str, n_files: int, n_small: int = 0) -> dict:
    """Land ``n_files`` envelope files ``part-00000.parquet``... in
    ``out_dir``; the first ``n_small`` carry SMALL_EVENTS events instead
    of EVENTS_PER_FILE (cheap warm-up triggers on the same code paths).
    Returns the manifest: file names in landing order and the planted
    malformed-envelope count per (file, table)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    streams = [
        _Stream(db, rds, t) for db, rds in TENANTS for t in ("orders", "accounts")
    ]
    schemas = {
        "orders": _schema_json(ORDERS_FIELDS),
        "accounts": _schema_json(ACCOUNTS_FIELDS),
        "evolved": _schema_json(ACCOUNTS_EVOLVED),
    }
    files, malformed = [], []
    n_bad = 0
    for f in range(n_files):
        rows = []
        bad_here = {"orders": 0, "accounts": 0}
        evolved = f >= EVOLVE_FILE
        size = SMALL_EVENTS if f < n_small else EVENTS_PER_FILE
        marks = rng.choice(size, len(streams) + LATE_PER_FILE, replace=False)
        bad_at = {int(j): k for k, j in enumerate(marks[:len(streams)])}
        late_at = {int(j) for j in marks[len(streams):]}
        for j in range(size):
            s = streams[bad_at[j] if j in bad_at else int(rng.integers(0, len(streams)))]
            fields = schemas[
                "orders" if s.table == "orders"
                else "evolved" if evolved else "accounts"
            ]
            # regular timestamps end in 0; late ones end in 3, so no two
            # events of one key ever tie on __ts_ms
            ts = BASE_MS + f * FILE_MS + j * 10
            if j in late_at:
                ts -= int(rng.integers(1, 4)) * FILE_MS - 3
            if j in bad_at:
                n_bad += 1
                bad = f"bad-{n_bad}"
                payload = _new_row(s, 0, ts, rng, evolved)
                payload[KEY_COL[s.table]] = bad
                rows.append(_envelope(s, bad, payload, "c", ts, fields))
                bad_here[s.table] += 1
                continue
            r = rng.random()
            if len(s.live) < 20 or r < 0.35:
                key = s.next_id
                s.next_id += 1
                s.live.append(key)
                s.rows[key] = _new_row(s, key, ts, rng, evolved)
                rows.append(_envelope(s, key, s.rows[key], "c", ts, fields))
                continue
            rank = min(int(rng.zipf(1.3)) - 1, len(s.live) - 1)
            idx = len(s.live) - 1 - rank
            key = s.live[idx]
            if r < 0.9:
                s.rows[key] = _updated(s, s.rows[key], rng, evolved)
                rows.append(_envelope(s, key, s.rows[key], "u", ts, fields))
            else:
                row = s.rows.pop(key)
                del s.live[idx]
                rows.append(_envelope(s, key, row, "d", ts, fields))
        name = f"part-{f:05d}.parquet"
        cols = list(zip(*rows))
        _write(
            pa.Table.from_arrays(
                [pa.array(c, type=t.type) for c, t in zip(cols, ENVELOPE_SCHEMA)],
                schema=ENVELOPE_SCHEMA,
            ),
            os.path.join(out_dir, name),
        )
        files.append(name)
        malformed.append(bad_here)
    manifest = {"files": files, "malformed": malformed}
    with open(os.path.join(out_dir, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


# ---------------------------------------------------------------------------
# TPC-H-shaped tables
# ---------------------------------------------------------------------------

_NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_lite(seed: int, out_dir: str, scale: float) -> None:
    """TPC-H-shaped tables at ``scale`` x sf1 row counts, in the column
    layout of the engine's test data (timestamps as micros, no tz)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 200)
    ts = pa.timestamp("us")

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }), os.path.join(out_dir, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [n for n, _ in _NATIONS],
        "n_regionkey": pa.array([r for _, r in _NATIONS], pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))
    _write(pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), os.path.join(out_dir, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), os.path.join(out_dir, "supplier.parquet"))

    okeys = np.arange(1, n_ord + 1, dtype=np.int64) * 4  # sparse, as TPC-H
    odate = _EPOCH_1992_US + rng.integers(0, 2405, n_ord) * _DAY_US
    n_lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(okeys, n_lines)
    l_odate = np.repeat(odate, n_lines)
    n_li = len(l_ok)
    line_no = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n_li), 2)
    disc = np.round(rng.integers(0, 11, n_li) / 100, 2)
    tax = np.round(rng.integers(0, 9, n_li) / 100, 2)
    shipdate = l_odate + rng.integers(1, 122, n_li) * _DAY_US
    cutoff = _EPOCH_1992_US + 1263 * _DAY_US  # 1995-06-17
    returned = np.where(
        shipdate <= cutoff,
        np.array(["R", "A"])[rng.integers(0, 2, n_li)],
        "N",
    )
    status = np.where(shipdate > cutoff, "O", "F")
    total = np.zeros(n_ord)
    np.add.at(total, np.repeat(np.arange(n_ord), n_lines),
              price * (1 - disc) * (1 + tax))
    _write(pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(total, 2),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), os.path.join(out_dir, "orders.parquet"))
    _write(pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(1, max(int(200_000 * scale), 20) + 1,
                                  n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": line_no.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": returned,
        "l_linestatus": status,
        "l_shipdate": pa.array(shipdate, ts),
    }), os.path.join(out_dir, "lineitem.parquet"))


# ---------------------------------------------------------------------------
# corpus + embeddings
# ---------------------------------------------------------------------------

LANGS = ("en", "de", "fr", "es", "zh")
EMBED_DIM = 64
N_TOPICS = 32
TOPIC_NOISE = 0.12


def topic_centres(seed: int) -> np.ndarray:
    """(N_TOPICS, EMBED_DIM) unit topic centres of the embeddings."""
    rng = np.random.default_rng([seed, 6])
    c = rng.normal(size=(N_TOPICS, EMBED_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def corpus(seed: int, out_dir: str, n_docs: int, n_sources: int) -> None:
    """``documents.parquet`` + ``embeddings.parquet`` (vec_id = doc_id).

    Planted structure: ~5% exact text copies, ~8% near copies (one or
    two words substituted — trigram Jaccard well above the 0.6
    near-dup threshold), ~25% docs under the Gopher 50-token floor;
    embeddings sit around 32 topic centres (cosine ~0.7 to their
    centre) and ~10% are semantic duplicates of another document
    (cosine > 0.99)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.13:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[int(rng.integers(0, len(vocab)))]
                )
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(35, 111))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    ids = np.arange(n_docs, dtype=np.int64)
    _write(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, n_sources, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    centres = topic_centres(seed)
    topic = rng.integers(0, len(centres), n_docs)
    vecs = centres[topic] + rng.normal(scale=TOPIC_NOISE, size=(n_docs, EMBED_DIM))
    for i in range(10, n_docs):
        if rng.random() < 0.10:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(
                scale=0.005, size=EMBED_DIM
            )
    vecs = vecs.astype(np.float32)
    _write(pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": topic.astype(np.int32),
    }), os.path.join(out_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# serving request script
# ---------------------------------------------------------------------------

SCAN_QUERIES = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q18_large_orders",
)
# request mix of the closed-loop client: point lookups (little shared
# work), four named scans repeated identically (high shared work),
# IVF-PQ refine top-k from a small pool of query batches, hybrid RRF
TOPK_POOL = 6  # distinct seeded query batches the top-k requests reuse
TOPK_QUERIES = 8  # query vectors per top-k request
LOOKUP_KEYS = 16  # keys per lookup request
# the heavy requests of one block, in order; each follows one lookup
# per table
HEAVY = (
    ("topk", None), ("scan", SCAN_QUERIES[1]), ("rrf", None),
    ("scan", SCAN_QUERIES[2]), ("scan", SCAN_QUERIES[0]),
    ("scan", SCAN_QUERIES[3]), ("topk", None), ("topk", None),
)


def request_script(seed: int, n_blocks: int) -> list[dict]:
    """``n_blocks`` repeats of one fixed block of request types: each
    heavy request of ``HEAVY`` (every named scan once, three top-k
    batches, one RRF) after a lookup on ``orders`` and one on
    ``accounts``, with seeded parameters. Serving traffic is mostly
    point lookups; at two lookups per heavy request the median of a
    run's ~10 requests is a lookup whatever the exact count, while a
    1:1 mix put it on the boundary between the two kinds. Every seed
    sends the same sequence of request types, so runs differ in inputs,
    not in mix. Lookup keys are uniform [0, 1) draws resolved later
    against the lake's live keys, so the script itself needs no lake."""
    rng = np.random.default_rng([seed, 4])
    block = [
        req for heavy in HEAVY
        for req in (("lookup", "orders"), ("lookup", "accounts"), heavy)
    ]
    out = []
    for _ in range(n_blocks):
        for kind, arg in block:
            if kind == "lookup":
                out.append({"type": kind, "table": arg, "key_draws": [
                    float(x) for x in rng.random(LOOKUP_KEYS)]})
            elif kind == "scan":
                out.append({"type": kind, "query": arg})
            elif kind == "topk":
                out.append({"type": kind, "batch": int(rng.integers(0, TOPK_POOL))})
            else:
                out.append({"type": kind})
    return out


def topk_query_vectors(seed: int) -> np.ndarray:
    """(TOPK_POOL, TOPK_QUERIES, EMBED_DIM) seeded query vectors, drawn
    like the corpus (a topic centre plus noise)."""
    rng = np.random.default_rng([seed, 5])
    centres = topic_centres(seed)
    topic = rng.integers(0, N_TOPICS, TOPK_POOL * TOPK_QUERIES)
    q = centres[topic] + rng.normal(scale=TOPIC_NOISE, size=(len(topic), EMBED_DIM))
    return q.reshape(TOPK_POOL, TOPK_QUERIES, EMBED_DIM).astype(np.float32)


# ---------------------------------------------------------------------------
# sizes per workload, and the all-inputs entry point
# ---------------------------------------------------------------------------

CDC_FILES = 60
CDC_WARMUP_FILES = 10  # small files, drained before timing starts
SERVE_LAKE_FILES = 8
SERVE_TPCH_SCALE = 0.1  # TPC-H sf0.1 row counts, as the engine's test data
SERVE_DOCS = 5000  # as many documents as the sf0.1 test corpus
SERVE_SOURCES = 100
SERVE_BLOCKS = 100


def generate(seed: int, out_dir: str, workload: str | None = None) -> dict:
    """Write the inputs of ``workload`` (both workloads' when None)
    under ``out_dir``: ``changelog/`` (cdc_stream); ``serve_changelog/``,
    ``tables/`` (TPC-H-shaped tables plus the corpus) and
    ``requests.json`` (lake_serve). Returns what the workloads need."""
    info: dict = {}
    if workload in (None, "cdc_stream"):
        info["changelog"] = change_log(
            seed, os.path.join(out_dir, "changelog"), CDC_FILES, CDC_WARMUP_FILES
        )
    if workload in (None, "lake_serve"):
        info["serve_changelog"] = change_log(
            seed, os.path.join(out_dir, "serve_changelog"), SERVE_LAKE_FILES
        )
        tables = os.path.join(out_dir, "tables")
        tpch_lite(seed, tables, SERVE_TPCH_SCALE)
        corpus(seed, tables, SERVE_DOCS, SERVE_SOURCES)
        script = request_script(seed, SERVE_BLOCKS)
        with open(os.path.join(out_dir, "requests.json"), "w") as fh:
            json.dump(script, fh)
        np.save(os.path.join(out_dir, "topk_queries.npy"),
                topk_query_vectors(seed))
        info["requests"] = script
    return info
