"""Seeded input generator for the benchmark.

Two families of inputs, both a pure function of (seed, size):

* `tables(out_dir, sf, seed)` writes the ten engine tables (TPC-H-ish star
  schema, events, documents, embeddings) as single parquet files with the
  schemas, key ranges and value distributions of the engine's synthetic
  test data at scale factor `sf` (lineitem = 6M x sf rows).
* `books(out_dir, n, seed)` writes the ragged book feed of the reference
  ETL: `books.jsonl` (one book per line, with every edge case of the books
  fixture), `feed.json` (the paged REST listing the loopback endpoint
  serves) and `expected.json` (the flattened rows the transform must
  produce, in id order).
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _region(rng, n):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}


def _nation(rng, n):
    return {"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())}


def _customer(rng, n):
    m = n["customer"]
    return {"c_custkey": np.arange(m, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(m)],
            "c_nationkey": rng.integers(0, 25, m).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, m),
            "c_mktsegment": rng.choice(SEGMENTS, m)}


def _supplier(rng, n):
    m = n["supplier"]
    return {"s_suppkey": np.arange(m, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(m)],
            "s_nationkey": rng.integers(0, 25, m).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, m)}


def _part(rng, n):
    m = n["part"]
    return {"p_partkey": np.arange(m, dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, m), rng.integers(0, 8, m))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, m)],
            "p_type": rng.choice(PART_TYPES, m),
            "p_size": rng.integers(1, 51, m).astype(np.int32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, m) / 10.0, 1)}


def _orders(rng, n):
    m = n["orders"]
    return {"o_orderkey": np.arange(m, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], m),
            "o_orderstatus": rng.choice(["F", "O", "P"], m),
            "o_totalprice": _money(rng, 1000.0, 500000.0, m),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), m),
            "o_orderpriority": rng.choice(PRIORITIES, m)}


def _lineitem(rng, n):
    m = n["lineitem"]
    return {"l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), m)}


def _events(rng, n):
    # ids in time order over 30 days, ~67 events per user
    m = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, m))
    return {"event_id": np.arange(m, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, m * 3 // 200), m),
            "event_type": rng.choice(EVENT_TYPES, m),
            "value": _money(rng, 0.01, 500.0, m),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]}


def _documents(rng, n):
    # 10-100 random words; ~5% near-duplicates (an earlier document plus a
    # trailing " dup") and ~0.2% exact copies, as in the engine's test data
    m = n["documents"]
    texts = []
    for i in range(m):
        u = rng.random()
        if i > 0 and u < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and u < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    return {"doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, m, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng, n):
    m = n["embeddings"]
    emb = rng.standard_normal((m, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {"vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, m).astype(np.int32)}


TABLES = {"region": _region, "nation": _nation, "customer": _customer,
          "supplier": _supplier, "part": _part, "orders": _orders,
          "lineitem": _lineitem, "events": _events, "documents": _documents,
          "embeddings": _embeddings}


def tables(out_dir, sf, seed, only=None):
    """Writes the tables named in `only` (default: all ten). Each table
    draws from its own random stream, so a subset holds the same data as
    the same tables of the full set."""
    os.makedirs(out_dir, exist_ok=True)
    n = {"customer": int(150_000 * sf), "supplier": int(10_000 * sf),
         "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
         "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
         "documents": max(500, int(50_000 * sf)),
         "embeddings": max(500, int(20_000 * sf))}
    for i, (name, make) in enumerate(TABLES.items()):
        if only is None or name in only:
            _write(out_dir, name, make(np.random.default_rng([seed, i]), n))


def books(out_dir, n, seed):
    """Ragged book feed with the FIXTURES.md A.1 edge cases mixed in at
    fixed rates: float-formatted string ids, missing image, subtitle
    present, empty / multi author lists, null or absent rating, and bare
    (not list-wrapped) records."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids = rng.choice(np.arange(10_000_000, 10_000_000 + 50 * n), n, replace=False)
    lines, feed, expected = [], [], []
    for k, bid in enumerate(int(i) for i in ids):
        title = f"Book {bid} " + " ".join(rng.choice(WORDS, 3))
        n_auth = int(rng.choice([0, 1, 2, 3], p=[0.1, 0.4, 0.3, 0.2]))
        authors = [{"id": int(a), "name": f"Author {int(a)}"}
                   for a in rng.integers(1, 100_000, n_auth)]
        genres = list(rng.choice(["Fiction", "History", "Science", "Poetry",
                                  "Drama", "Travel"], int(rng.integers(0, 4))))
        u = rng.random()
        average = None if u < 0.1 else round(float(rng.random()), 4)
        book = {"id": f"{bid}.0" if k % 7 == 0 else bid, "title": title}
        if rng.random() < 0.2:
            book["subtitle"] = f"Subtitle of {bid}"
        image = None if rng.random() < 0.3 else f"https://img.example/{bid}.jpg"
        if image is not None:
            book["image"] = image
        book["authors"] = authors
        book["genres"] = genres
        if average is not None:
            book["rating"] = {"average": average}
        elif u < 0.05:
            book["rating"] = {}
        else:
            book["rating"] = {"average": None}
        lines.append(json.dumps(book if k % 11 == 0 else [book]))
        feed.append({"id": bid, "title": title,
                     "rating": 0.0 if average is None else average})
        expected.append({
            "id": bid, "title": title, "image": image, "genres": genres,
            "rating": None if average is None else average * 100.0,
            "author_id": [str(a["id"]) for a in authors],
            "author_name": [a["name"] for a in authors]})
    with open(os.path.join(out_dir, "books.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "feed.json"), "w") as f:
        json.dump(feed, f)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(sorted(expected, key=lambda r: r["id"]), f)
