"""Seeded input generator for the graft benchmark.

Two jobs, both a pure function of the seed:

* ``fixtures(dir, sf, seed)`` writes the parquet fixture tables the query
  packs read (the TPC-H-like star schema plus ``documents`` and
  ``embeddings``). Value domains follow the fixtures the query packs were
  written against: uniform keys, two-decimal prices, day-granular
  timestamps, a 30-word text vocabulary with 5% near-duplicate documents.
* ``python3 gen.py stream --dir ... --seed ...`` is the open-loop document
  generator of the ``stream_curation`` workload. It runs as its own
  process, writes one parquet file per tick at a fixed offered rate whether
  or not the pipeline keeps up, stamps every row with its scheduled send
  time, and logs when each file actually landed.
"""
import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

# Table scalings relative to sf (documents/embeddings have a floor).
def sizes(sf):
    return {"customer": int(150000 * sf), "supplier": int(10000 * sf),
            "part": int(200000 * sf), "orders": int(1500000 * sf),
            "lineitem": int(6000000 * sf),
            "documents": max(500, int(50000 * sf)),
            "embeddings": max(500, int(20000 * sf))}


def _days(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(n, rng):
    """Random-word ASCII documents: 10-100 words, 5% near-duplicates
    (another document plus one word) and 1/600 exact duplicates."""
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), lens.sum())
    words = np.array(WORDS, dtype=object)[idx]
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(words[pos:pos + k])); pos += k
    # distinct sources, so no two near-duplicates share a text
    near = rng.choice(n, n // 20, replace=False)
    for i, j in zip(near, rng.choice(n, n // 20, replace=False)):
        texts[i] = texts[j] + " dup"
    exact = rng.choice(n, max(1, n // 600), replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": ["src%d" % (i % 20) for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def fixtures(out, sf, seed, docs=None):
    """Write every fixture table under ``out``; returns the row counts.
    ``docs`` overrides the size of the ``documents`` corpus."""
    rng = np.random.default_rng([seed, 1])
    n = sizes(sf)
    if docs:
        n["documents"] = docs
    os.makedirs(out, exist_ok=True)
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": REGIONS})
    nk = np.arange(NATIONS, dtype=np.int32)
    t["nation"] = pd.DataFrame({"n_nationkey": nk,
                                "n_name": ["NATION_%d" % k for k in nk],
                                "n_regionkey": (nk % 5).astype(np.int32)})
    c = n["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": ["Customer#%09d" % k for k in range(c)],
        "c_nationkey": rng.integers(0, NATIONS, c).astype(np.int32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": ["Supplier#%09d" % k for k in range(s)],
        "s_nationkey": rng.integers(0, NATIONS, s).astype(np.int32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    pk = np.arange(p, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [ADJ[a] + " " + NOUN[b] for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(PTYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    o = n["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    m = n["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, o, m).astype(np.int64),
        "l_partkey": rng.integers(0, p, m).astype(np.int64),
        "l_suppkey": rng.integers(0, s, m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04")})
    t["documents"] = documents(n["documents"], rng)
    e = n["embeddings"]
    v = rng.standard_normal((e, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(e, dtype=np.int64), "embedding": list(v),
        "label": rng.integers(0, 10, e).astype(np.int32)})
    for name, df in t.items():
        tmp = os.path.join(out, "." + name + ".parquet")
        df.to_parquet(tmp, index=False)
        os.replace(tmp, os.path.join(out, name + ".parquet"))
    return {k: len(v) for k, v in t.items()}


# ---------------------------------------------------------------- stream

STREAM_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                           ("lang", pa.string()), ("source", pa.string()),
                           ("n_chars", pa.int64()), ("sched_ms", pa.int64())])


class StreamRows:
    """Endless seeded row source built from the sf0.1 ``documents`` texts.

    Every row gets a unique ``doc_id``. A fixed share of rows repeats the
    text of an earlier row exactly; the other rows take the next unused
    document text, with a cycle-number word appended once the pool wraps,
    so they stay distinct."""

    def __init__(self, seed, dup_share, first_id=0):
        self.rng = np.random.default_rng([seed, 2])
        docs = documents(sizes(0.1)["documents"], self.rng)
        self.pool = list(dict.fromkeys(docs.text))  # distinct, in order
        self.langs = list(docs.lang)
        self.dup_share = dup_share
        self.next_id = first_id
        self.cursor = 0
        self.emitted = []

    def take(self, n, sched_ms):
        ids, texts, langs = [], [], []
        dup = self.rng.random(n) < self.dup_share
        for d in dup:
            if d and self.emitted:
                t = self.emitted[int(self.rng.integers(0, len(self.emitted)))]
            else:
                lap, i = divmod(self.cursor, len(self.pool))
                t = self.pool[i] if lap == 0 else "%s v%d" % (self.pool[i], lap)
                self.cursor += 1
                self.emitted.append(t)
            ids.append(self.next_id)
            texts.append(t)
            langs.append(self.langs[self.next_id % len(self.langs)])
            self.next_id += 1
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs,
            "source": ["src%d" % (i % 20) for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            "sched_ms": pa.array(np.full(n, sched_ms, dtype=np.int64))},
            schema=STREAM_SCHEMA)


def write_file(dir_, name, table):
    """Atomic publish: the file source ignores dot-files, so the rename is
    the moment the file becomes visible."""
    tmp = os.path.join(dir_, "." + name)
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(dir_, name))


def stream_main(a):
    """Open loop: file k is due at start + k*tick regardless of how the
    pipeline is doing; a late tick is written as soon as possible and its
    lateness logged, never skipped."""
    rows = StreamRows(a.seed, a.dup_share, a.first_id)
    os.makedirs(a.dir, exist_ok=True)
    tick = a.rows_per_file / a.rate
    start = a.start_ms / 1000.0
    log = []
    k = 0
    while start + k * tick < start + a.seconds:
        due = start + k * tick
        table = rows.take(a.rows_per_file, int(round(due * 1000)))
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_file(a.dir, "s%05d.parquet" % k, table)
        log.append([int(round(due * 1000)), int(time.time() * 1000), a.rows_per_file])
        k += 1
    with open(a.log, "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="open-loop document generator")
    ap.add_argument("stream", choices=["stream"])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dup-share", type=float, required=True)
    ap.add_argument("--rows-per-file", type=int, required=True)
    ap.add_argument("--first-id", type=int, default=0)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start-ms", type=int, required=True)
    ap.add_argument("--log", required=True)
    stream_main(ap.parse_args())
    sys.exit(0)
