"""Seeded input generators for the three benchmark workloads.

Each generator takes the seed and an output directory, writes only plain
files there (JSONL directory layouts or parquet), and returns a manifest
with document counts and bytes plus the in-memory documents that the
answer checks use.  The same seed always gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# doc_federation: 4 part files so the Python DataSource gets one scan
# task per core; small enough that an op stays near the DataSource floor.
FED_FILES = 4
FED_DOCS_PER_FILE = 1000
FED_CITIES = 40
FED_SKUS = 50
FED_ORDERS = 300_000  # over frame.DIRECT_SCAN_MAX_ROWS, so the native route
STATUSES = ("active", "idle", "new", "banned")
TIERS = ("free", "pro", "team")
TAGS = ("red", "green", "blue", "gold", "iron", "jade", "onyx", "ruby")

# columnar_analytics: sales sits over the direct-route row cap
# (frame.DIRECT_SCAN_MAX_ROWS = 250k), events under it.
COL_SALES = 300_000
COL_EVENTS = 60_000
COL_PRODUCTS = 1_000
COL_STORES = 40
COL_QUOTES = 20_000
COL_INTERVALS = 2_000
COL_KEYS = 100
COL_SPAN_S = 86_400.0

# curation_rw: batches appended one per cycle, spread over the raw
# collection's part files.
CUR_FILES = 4
CUR_BATCHES = 16
CUR_BATCH_DOCS = 240
CUR_VOCAB = 2_000
CUR_DIM = 16
CUR_SPAN_TOKENS = 30


def jline(doc: dict) -> str:
    """The canonical encoding of one generated document."""
    return json.dumps(doc, separators=(",", ":"), sort_keys=False) + "\n"


def _write_jsonl(path: str, docs: list[dict]) -> int:
    data = "".join(jline(d) for d in docs).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _write_parquet(path: str, cols: dict) -> tuple[int, int]:
    tbl = pa.table(cols)
    pq.write_table(tbl, path, row_group_size=64_000)
    return tbl.num_rows, os.path.getsize(path)


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}:{seed}")


# -- doc_federation -----------------------------------------------------------


def _fed_doc(rng: random.Random, i: int) -> dict:
    d = {
        "_id": i,
        "status": rng.choices(STATUSES, weights=(5, 3, 2, 1))[0],
        "score": round(rng.random() * 100.0, 3),
        "city": f"c{rng.randrange(FED_CITIES):02d}",
        "user": {
            "name": f"user{i}",
            "age": rng.randint(14, 80),
            "tier": rng.choice(TIERS),
        },
        "tags": rng.sample(TAGS, rng.randint(0, 3)),
        "items": [
            {
                "sku": f"s{rng.randrange(FED_SKUS):02d}",
                "qty": rng.randint(1, 5),
                "price": round(rng.uniform(1.0, 50.0), 2),
            }
            for _ in range(rng.randint(0, 4))
        ],
    }
    # a small share of type-conflicting values: rating is a double in
    # ~97% of documents and a string elsewhere
    if rng.random() < 0.03:
        d["rating"] = rng.choice(("n/a", "unrated", "tbd"))
    else:
        d["rating"] = round(rng.uniform(0.0, 5.0), 2)
    if rng.random() < 0.3:  # optional subdocument
        d["promo"] = {"code": f"P{rng.randrange(1000):03d}", "pct": rng.choice((5, 10, 20))}
    if rng.random() < 0.9:  # optional scalar
        d["visits"] = rng.randint(0, 500)
    return d


def gen_doc_federation(seed: int, root: str) -> dict:
    rng = _rng("doc_federation", seed)
    db = os.path.join(root, "db")
    os.makedirs(os.path.join(db, "docs"), exist_ok=True)
    docs, nbytes = [], 0
    for p in range(FED_FILES):
        part = [_fed_doc(rng, p * FED_DOCS_PER_FILE + i) for i in range(FED_DOCS_PER_FILE)]
        nbytes += _write_jsonl(os.path.join(db, "docs", f"part-{p:03d}.jsonl"), part)
        docs.extend(part)
    regions = [
        {"_id": f"c{c:02d}", "region": f"r{c % 5}", "active": rng.random() < 0.4}
        for c in range(FED_CITIES)
    ]
    lbytes = _write_jsonl(os.path.join(db, "regions.jsonl"), regions)
    # a columnar fact collection over the direct-route row cap, joined
    # with the documents across sources
    r = np.random.default_rng([seed, 1])
    os.makedirs(os.path.join(root, "pq"), exist_ok=True)
    orows, obytes = _write_parquet(os.path.join(root, "pq", "orders.parquet"), {
        "_id": np.arange(FED_ORDERS, dtype=np.int64),
        "user_id": r.integers(0, len(docs), FED_ORDERS),
        "amount": np.round(r.uniform(1.0, 500.0, FED_ORDERS), 2),
    })
    return {
        "root": root,
        "collections": {
            "docs": {"docs": len(docs), "bytes": nbytes, "files": FED_FILES},
            "regions": {"docs": len(regions), "bytes": lbytes, "files": 1},
            "orders": {"docs": orows, "bytes": obytes, "files": 1},
        },
        "docs": docs,
        "regions": regions,
    }


# -- columnar_analytics -------------------------------------------------------


def gen_columnar_analytics(seed: int, root: str) -> dict:
    r = np.random.default_rng([seed, 2])
    os.makedirs(root, exist_ok=True)
    tables = {
        "stores": {
            "_id": np.arange(COL_STORES, dtype=np.int64),
            "region": np.array([f"r{i % 6}" for i in range(COL_STORES)]),
            "sqft": r.integers(500, 5000, COL_STORES),
        },
        "products": {
            "_id": np.arange(COL_PRODUCTS, dtype=np.int64),
            "category": np.array([f"cat{c:02d}" for c in r.integers(0, 12, COL_PRODUCTS)]),
            "price": np.round(r.uniform(1.0, 200.0, COL_PRODUCTS), 2),
        },
        "sales": {
            "_id": np.arange(COL_SALES, dtype=np.int64),
            "store_id": r.integers(0, COL_STORES, COL_SALES),
            "product_id": r.integers(0, COL_PRODUCTS, COL_SALES),
            "qty": r.integers(1, 10, COL_SALES),
            "amount": np.round(r.uniform(1.0, 500.0, COL_SALES), 2),
        },
        "events": {
            "_id": np.arange(COL_EVENTS, dtype=np.int64),
            "key": r.integers(0, COL_KEYS, COL_EVENTS),
            "t": np.round(r.uniform(0.0, COL_SPAN_S, COL_EVENTS), 3),
            "val": np.round(r.normal(0.0, 1.0, COL_EVENTS), 4),
        },
        "quotes": {
            "_id": np.arange(COL_QUOTES, dtype=np.int64),
            "key": r.integers(0, COL_KEYS, COL_QUOTES),
            # distinct times per key so the as-of pick is unique
            "t": np.round(r.permutation(COL_QUOTES) * (COL_SPAN_S / COL_QUOTES) + 0.0005, 4),
            "price": np.round(r.uniform(10.0, 20.0, COL_QUOTES), 3),
        },
    }
    lo = np.round(r.uniform(0.0, COL_SPAN_S - 3600.0, COL_INTERVALS), 3)
    tables["intervals"] = {
        "_id": np.arange(COL_INTERVALS, dtype=np.int64),
        "key": r.integers(0, COL_KEYS, COL_INTERVALS),
        "lo": lo,
        "hi": np.round(lo + r.uniform(60.0, 3600.0, COL_INTERVALS), 3),
        "label": np.array([f"l{c}" for c in r.integers(0, 8, COL_INTERVALS)]),
    }
    colls = {}
    for name, cols in tables.items():
        rows, nbytes = _write_parquet(os.path.join(root, f"{name}.parquet"), cols)
        colls[name] = {"docs": rows, "bytes": nbytes, "files": 1}
    return {"root": root, "collections": colls}


# -- curation_rw ---------------------------------------------------------------


def _words(rng: random.Random, n: int) -> list[str]:
    return [f"w{min(int(rng.paretovariate(1.1)), CUR_VOCAB - 1)}x{rng.randrange(40)}" for _ in range(n)]


def gen_curation_rw(seed: int, root: str) -> dict:
    """Text corpus with planted duplicates.  Per batch: exact duplicates
    (same text, new id), near duplicates (one word of 60-120 changed) and
    a 30-word span shared by four documents."""
    rng = _rng("curation_rw", seed)
    db = os.path.join(root, "db")
    os.makedirs(os.path.join(db, "raw"), exist_ok=True)
    docs, exact, near, spans, nbytes = [], [], [], [], 0
    line_bytes = {}
    parts: list[list[dict]] = [[] for _ in range(CUR_FILES)]
    for b in range(CUR_BATCHES):
        batch = []
        base = b * CUR_BATCH_DOCS
        span = _words(rng, CUR_SPAN_TOKENS)
        n_plain = CUR_BATCH_DOCS - 12
        for i in range(n_plain):
            toks = _words(rng, rng.randint(60, 120))
            batch.append(toks)
        # 4 exact duplicates, 4 near duplicates, 4 span carriers
        planted = []
        for j in range(4):
            src = rng.randrange(n_plain)
            planted.append(("exact", src, list(batch[src])))
        for j in range(4):
            src = rng.randrange(n_plain)
            toks = list(batch[src])
            pos = rng.randrange(len(toks))
            toks[pos] = f"zz{rng.randrange(10**6)}"
            planted.append(("near", src, toks))
        for j in range(4):
            toks = _words(rng, rng.randint(60, 120))
            cut = rng.randrange(len(toks))
            planted.append(("span", None, toks[:cut] + span + toks[cut:]))
        batch_docs = [
            {"_id": f"d{base + i:06d}", "batch": b, "text": " ".join(t)}
            for i, t in enumerate(batch)
        ]
        for j, (kind, src, toks) in enumerate(planted):
            did = f"d{base + n_plain + j:06d}"
            batch_docs.append({"_id": did, "batch": b, "text": " ".join(toks)})
            if kind == "exact":
                exact.append((batch_docs[src]["_id"], did))
            elif kind == "near":
                near.append((batch_docs[src]["_id"], did))
            else:
                spans.append((b, did))
        for d in batch_docs:
            d["emb"] = [round(rng.gauss(0.0, 1.0), 5) for _ in range(CUR_DIM)]
            line_bytes[d["_id"]] = len(jline(d).encode())
        parts[b % CUR_FILES].extend(batch_docs)
        docs.extend(batch_docs)
    for f, part in enumerate(parts):
        nbytes += _write_jsonl(os.path.join(db, "raw", f"part-{f:03d}.jsonl"), part)
    return {
        "root": root,
        "collections": {"raw": {"docs": len(docs), "bytes": nbytes, "files": CUR_FILES}},
        "docs": docs,
        "exact_pairs": exact,
        "near_pairs": near,
        "span_docs": spans,
        "line_bytes": line_bytes,
    }


GENERATORS = {
    "doc_federation": gen_doc_federation,
    "columnar_analytics": gen_columnar_analytics,
    "curation_rw": gen_curation_rw,
}


def generate(workload: str, seed: int, root: str) -> dict:
    manifest = GENERATORS[workload](seed, root)
    manifest["seed"] = seed
    return manifest
