"""Seeded generator for the benchmark's input corpus.

Writes the ten tables the engine reads (`<dir>/<table>.parquet`, one file
each) with the schemas and value domains of the engine's fixture corpus:
a TPC-H-like star schema, an `events` stream, `documents` (15% of them
near duplicates in chains of four, the rows the dedup queries find) and unit-norm 64-d
`embeddings`. The same seed and scale always give byte-identical tables;
row counts, document lengths and the duplicate chains depend only on the
scale, so every seed gives the engine nearly the same amount of work (the
rare tokens two documents share by chance still vary with the seed).
"""

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
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
RARE_WORDS = 20000


def _ts(start, seconds):
    """Naive UTC timestamps (microseconds) at `start` + `seconds`."""
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("int64").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """The corpus as {name: pyarrow.Table}; sizes follow the fixture scale
    factor `sf` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    day = 86400.0
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day)})
    ev_sec = np.sort(rng.uniform(0, 30 * day, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts("2024-01-01", ev_sec),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # Every document is distinct tokens, about half common words (the ones
    # the text queries match) and the rest from a large rare vocabulary, so
    # no two unrelated documents reach the dedup queries' 0.9 token-set
    # Jaccard. Near duplicates are designed: documents 7, 8 and 9 of every
    # block of 20 (counting from 0) each repeat the previous one (and its
    # source) plus one new token, a chain of four per block. Lengths, chains and sources
    # depend on the row index only, so the duplicate pairs, and with them
    # the dedup and connected-components work, are the same for every seed.
    def doc(n):
        k = min(n // 2, len(WORDS))
        rare = np.char.add("r", rng.choice(RARE_WORDS, n - k, replace=False).astype(str))
        toks = np.concatenate([rng.choice(WORDS, k, replace=False), rare])
        rng.shuffle(toks)
        return list(toks)
    toks = [doc(10 + (i * 37) % 90) for i in range(n_doc)]
    sources = [f"src{i % 20}" for i in range(n_doc)]
    for i in range(n_doc):
        if i % 20 in (7, 8, 9):
            toks[i] = toks[i - 1] + [f"x{i}"]
            sources[i] = sources[i - 1]
    texts = [" ".join(t) for t in toks]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")})
    return out


def write(dst, seed, sf):
    """Writes the corpus for (seed, sf) under `dst`."""
    for name, t in tables(seed, sf).items():
        pq.write_table(t, f"{dst}/{name}.parquet")
