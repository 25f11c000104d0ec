"""Deterministic input tables for the benchmark.

Writes the four tables the measured query families read (`events`,
`customer`, `documents`, `embeddings`) as parquet, in the layout and
value distributions of the project's synthetic TPC-H-ish test data:

- events: one row per change event, ids in time order over 30 days,
  five event types, exponential values rounded to cents;
- customer: dimension keyed 0..n-1, joined to events on user id;
- documents: texts over a 30-word vocabulary, 5% near-duplicates
  (another text plus " dup") and a few exact copies;
- embeddings: 64-dim unit vectors around 10 labelled centres.

The tables depend only on `DATA_SEED` and the sizes below, so the
golden fingerprints in golden.json stay valid for every run; the
benchmark's --seed changes the order of work, not the tables.

Usage: python3 bench/gen.py <out_dir>
"""
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_EVENTS = 25_000
N_USERS = 375
N_CUSTOMERS = 3_750
N_DOCS = 2_000
N_EMBEDDINGS = 800
DIM = 64

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
WORDS = ("spark window merge table column vector stream value data small "
         "big fast slow row the agg key query a scan batch line part sort "
         "order hash join group filter customer").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [41, 15, 14, 15, 15]
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000


def events(rnd):
    ts = sorted(rnd.randrange(SPAN_US) for _ in range(N_EVENTS))
    return pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array([T0_US + t for t in ts], pa.timestamp("us")),
        "user_id": pa.array([rnd.randrange(N_USERS) for _ in ts], pa.int64()),
        "event_type": [rnd.choice(EVENT_TYPES) for _ in ts],
        "value": pa.array([round(rnd.expovariate(1 / 50.0), 2) for _ in ts],
                          pa.float64()),
        "props": ['{"k": %d}' % rnd.randrange(100) for _ in ts],
    })


def customer(rnd):
    return pa.table({
        "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(N_CUSTOMERS)],
                                pa.int32()),
        "c_acctbal": pa.array([round(rnd.uniform(-999.99, 9999.99), 2)
                               for _ in range(N_CUSTOMERS)], pa.float64()),
        "c_mktsegment": [rnd.choice(SEGMENTS) for _ in range(N_CUSTOMERS)],
    })


def documents(rnd):
    texts = [" ".join(rnd.choice(WORDS) for _ in range(rnd.randint(10, 99)))
             for _ in range(N_DOCS)]
    for i in range(N_DOCS):
        r = rnd.random()
        if r < 0.05:
            texts[i] = texts[rnd.randrange(N_DOCS)] + " dup"
        elif r < 0.052:
            texts[i] = texts[rnd.randrange(N_DOCS)]
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rnd.choices(LANGS, LANG_WEIGHTS, k=N_DOCS),
        "source": ["src%d" % (i % 20) for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rnd):
    centres = [[rnd.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(N_EMBEDDINGS):
        label = rnd.randrange(10)
        v = [c + rnd.gauss(0, 1.5) for c in centres[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    return pa.table({
        "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, make in [("events", events), ("customer", customer),
                       ("documents", documents), ("embeddings", embeddings)]:
        # one generator per table: resizing one table leaves the others
        rnd = random.Random(f"{DATA_SEED}:{name}")
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(make(rnd), tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])
