"""Seeded input generator for the benchmark.

Writes a TPC-H-shaped star (region, nation, customer, supplier, part, orders,
lineitem) plus a `documents` corpus with near-duplicate structure, and the
CDC schedule the `ingest_cdc` workload replays: per bump a removal list,
revised and added documents, the resulting snapshot, and a `lineitem` fact
delta. The same (seed, scale) always produces byte-identical tables.

Value domains follow TPC-H (ship dates 1992-1998, brands Brand#MN with
M, N in 1..5, five market segments) so the cut members that
`graft.fuzz.QueryFuzzer` draws select real rows.

The corpus copies the shape of the test data set's sf0.1 `documents` table
(5,000 rows), measured with `corpus_stats.py`: a 30-word vocabulary,
10..100 words per document drawn uniformly (mean 54), 0.16% exact copies
(8 rows), 5% near copies made by appending the word "dup" to an earlier
document (250 rows), languages en 41% and de/es/fr/zh about 15% each, and
20 sources assigned round-robin. The character 3-gram near-duplicate
structure follows from those figures: in both, about 70% of the documents
are dropped as near copies. Only the document count differs (run.py's
DOCS), to keep a run within its time budget.

The CDC schedule copies the engine's own CDC chain entry (p72,
`PipelineOps.ingestCdcChain`): per bump a tenth of the live documents is
removed, as many are added (here as near copies of survivors, marked like
the corpus's own), and one in seven is revised by appending a tag word.
The fact delta per bump (1% of `lineitem`) has no such source and is an
assumption: it keeps the summary fold a small delta next to the text bump.
"""

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
MIN_WORDS, MAX_WORDS = 10, 100
EXACT_COPY = 0.0016
NEAR_COPY = 0.05

DAY_US = 86_400_000_000
EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01
SHIP_DAYS = 2526   # 1992-01-02 .. 1998-12-01


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _ts(days):
    return pa.array((days.astype(np.int64)) * DAY_US, type=pa.timestamp("us"))


def _lineitem(rng, n, n_orders, n_parts, n_supp):
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900.0 + rng.integers(0, 1100, n) / 10.0), 2)
    ship = EPOCH_1992 + 1 + rng.integers(0, SHIP_DAYS, n)
    return {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(ship),
    }


def _doc_text(rng):
    return " ".join(rng.choice(WORDS, int(rng.integers(MIN_WORDS, MAX_WORDS + 1))))


def _docs_table(ids, texts):
    # metadata is a function of the id, so a doc's row changes between
    # snapshots only when the CDC feed says its text did
    return {
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in ids]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _corpus(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < EXACT_COPY:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < EXACT_COPY + NEAR_COPY:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng))
    return texts


def generate(out, seed, scale, docs, bumps, fact_frac):
    """Writes every table under `out` (replaced if present)."""
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(20, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1000, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))

    star = os.path.join(tmp, "star")
    _write(f"{star}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(f"{star}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(f"{star}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(f"{star}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    _write(f"{star}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{m}{k}" for m, k in
                             zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    _write(f"{star}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
        "o_orderdate": _ts(EPOCH_1992 + rng.integers(0, 2405, n_orders)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders))})
    _write(f"{star}/lineitem.parquet",
           _lineitem(rng, n_line, n_orders, n_part, n_supp))

    # ---- CDC schedule: snapshot 0, then `bumps` deltas
    texts = _corpus(rng, docs)
    live = dict(enumerate(texts))
    _write(f"{tmp}/cdc/snap0/documents.parquet",
           _docs_table(list(live), list(live.values())))
    next_id = docs
    n_fact = max(100, int(n_line * fact_frac))
    for b in range(1, bumps + 1):
        ids = sorted(live)
        per = max(1, len(ids) // 10)
        removed = sorted(int(i) for i in rng.choice(ids, per, replace=False))
        for i in removed:
            del live[i]
        changed = [i for i in sorted(live) if i % 7 == (b + 2) % 7]
        changed_texts = [f"{live[i]} rev{b}" for i in changed]
        for i, t in zip(changed, changed_texts):
            live[i] = t
        added = list(range(next_id, next_id + per))
        next_id += per
        survivors = sorted(live)
        added_texts = [live[int(rng.choice(survivors))] + " dup" for _ in added]
        for i, t in zip(added, added_texts):
            live[i] = t
        d = f"{tmp}/cdc/bump{b}"
        _write(f"{d}/removed.parquet",
               {"doc_id": pa.array(np.asarray(removed, dtype=np.int64))})
        _write(f"{d}/changed.parquet", _docs_table(changed, changed_texts))
        _write(f"{d}/added.parquet", _docs_table(added, added_texts))
        snap_ids = sorted(live)
        _write(f"{tmp}/cdc/snap{b}/documents.parquet",
               _docs_table(snap_ids, [live[i] for i in snap_ids]))
        _write(f"{d}/lineitem.parquet",
               _lineitem(rng, n_fact, n_orders, n_part, n_supp))
    os.rename(tmp, out)
