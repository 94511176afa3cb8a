"""Seeded input generator for the benchmark workloads.

Every table is derived from one ``numpy`` generator seeded by ``--seed``, so
the same seed always gives byte-identical parquet inputs. The tables follow
the schemas and value domains the engine's query registry reads
(``region nation customer supplier part orders lineitem events documents
embeddings``); each is written as a directory ``<name>.parquet/`` of part
files so scans split across tasks.

Workload inputs:

* ``pdi_scale``   -- the ten tables at scale factor ``PDI_SF``, with
  ``customer``/``orders``/
  ``lineitem`` fanned out into ``PDI_COPIES`` id-shifted copies (the copy
  index times ``ID_SHIFT`` is added to every key), rows in seeded order.
* ``ingest_gate`` -- a document corpus plus a stream of micro-batches, both
  made by the process that makes the ``documents`` table the registry's
  gates read (``_docs``), split the way the q6v gate splits that table;
  each row records its kind and the id it copies, so the expected gate
  survivors follow from the mix.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PDI_SF = 0.01
PDI_COPIES = 3
ID_SHIFT = 100_000_000

# The documents table at sf 0.1 holds 5,000 docs. The registry's exact
# stream gate (q6v) takes 2/3 of it as its corpus and streams the other 1/3
# in two micro-batches, so a batch is 1/6 of the table; the stream goes on
# past those two with more batches of that size.
INGEST_DOCS = 5000
INGEST_CORPUS_DOCS = INGEST_DOCS * 2 // 3
INGEST_BATCH_DOCS = INGEST_DOCS // 6
INGEST_BATCHES = 24
INGEST_NOVEL_ID0 = 10_000_000
# share of docs that copy an earlier doc plus the token " dup", as in the
# test data's documents table (250 of 5,000 at sf 0.1, 8 of which repeat
# another copy exactly: two copies of one source)
DUP_FRAC = 0.05
# word counts of the gate's new docs; the documents table's run from 10, but a
# near copy of a 40-word doc keeps Jaccard >= 38/39 on word 3-shingles, so
# the band probe finds every one and the expected survivors are exact
INGEST_WORDS = (40, 100)

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "en", "en", "fr", "zh", "de", "es"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "large", "red", "hot", "cold", "old", "new", "blue"]
PART_NOUN = ["ring", "widget", "anvil", "plate", "gizmo", "gear", "bolt", "cog"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EMB_DIM = 64
EMB_LABELS = 10

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 UTC, microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 UTC, microseconds


def _cents(x):
    return np.round(x, 2)


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _words(rng, n):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _docs(rng, n):
    """Random word documents; 5% are copies of an earlier doc plus " dup"."""
    texts = [_words(rng, int(k)) for k in rng.integers(10, 100, n)]
    for i in range(1, n):
        if rng.random() < DUP_FRAC:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def base_tables(rng, sf):
    """All ten tables at scale factor ``sf`` as ``name -> pyarrow.Table``."""
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp))})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(18.0, 2100.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_li) * DAY_US)})
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _cents(rng.uniform(0.01, 490.0, n_ev)),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = _docs(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    labels = rng.integers(0, EMB_LABELS, n_emb)
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def fan_out(rng, t, key_cols, copies):
    """``copies`` id-shifted copies of ``t`` in seeded row order."""
    parts = []
    for k in range(copies):
        cols = {}
        for name in t.column_names:
            c = t.column(name)
            if name in key_cols:
                c = pa.array(c.to_numpy() + k * ID_SHIFT, pa.int64())
            cols[name] = c
        parts.append(pa.table(cols))
    out = pa.concat_tables(parts)
    return out.take(pa.array(rng.permutation(out.num_rows)))


def write_table(out_dir, name, table, rows_per_file=100_000):
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n_files = max(1, -(-table.num_rows // rows_per_file))
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(d, f"part-{i:05d}.parquet"),
                       row_group_size=max(1, step // 4))


def ingest_stream(rng):
    """The gate corpus and its micro-batch stream, as two tables.

    Both follow ``_docs``: each doc is, with probability ``DUP_FRAC``, an
    earlier doc plus the token " dup", else a new random doc (which starts
    with a unique token, so its Jaccard to any other doc stays near zero).
    A stream copy's source is a corpus doc or a doc of an earlier batch, so
    it is strictly prior state for both gates. A copy whose text was seen
    before (its source was copied already) is an exact copy, any other copy
    a near copy. The gates' expected survivors are then: the novel docs
    (near gate) and the novel docs plus near copies (exact gate).
    """
    lo, hi = INGEST_WORDS

    def novel(i):
        return f"novel{i} " + _words(rng, int(rng.integers(lo, hi)))

    texts = {}
    for i in range(INGEST_CORPUS_DOCS):
        texts[i] = (texts[int(rng.integers(0, i))] + " dup"
                    if i > 0 and rng.random() < DUP_FRAC else novel(i))
    seen = set(texts.values())
    pool = list(texts)  # ids a copy may target: strictly prior docs
    rows = {"batch": [], "doc_id": [], "text": [], "kind": [], "src": []}
    next_id = INGEST_NOVEL_ID0
    for b in range(INGEST_BATCHES):
        for _ in range(INGEST_BATCH_DOCS):
            if rng.random() < DUP_FRAC:
                src = pool[int(rng.integers(0, len(pool)))]
                text = texts[src] + " dup"
                kind = "exact" if text in seen else "near"
            else:
                src, text, kind = -1, novel(next_id), "novel"
            rows["batch"].append(b)
            rows["doc_id"].append(next_id)
            rows["text"].append(text)
            rows["kind"].append(kind)
            rows["src"].append(src)
            texts[next_id] = text
            seen.add(text)
            next_id += 1
        # this batch's docs become copy sources once it commits
        pool.extend(range(next_id - INGEST_BATCH_DOCS, next_id))
    corpus_t = pa.table({
        "doc_id": pa.array(np.arange(INGEST_CORPUS_DOCS), pa.int64()),
        "text": [texts[i] for i in range(INGEST_CORPUS_DOCS)]})
    stream_t = pa.table({
        "batch": pa.array(rows["batch"], pa.int32()),
        "doc_id": pa.array(rows["doc_id"], pa.int64()),
        "text": rows["text"],
        "kind": rows["kind"],
        "src": pa.array(rows["src"], pa.int64())})
    return corpus_t, stream_t


def generate(workload, seed, out_dir):
    """Write ``workload``'s inputs under ``out_dir``; return the manifest."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    if workload == "ingest_gate":
        corpus, stream = ingest_stream(rng)
        tables = {"corpus": corpus, "stream": stream}
    else:
        tables = base_tables(rng, PDI_SF)
        tables["customer"] = fan_out(rng, tables["customer"], {"c_custkey"}, PDI_COPIES)
        tables["orders"] = fan_out(
            rng, tables["orders"], {"o_orderkey", "o_custkey"}, PDI_COPIES)
        tables["lineitem"] = fan_out(rng, tables["lineitem"], {"l_orderkey"}, PDI_COPIES)
    manifest = {"workload": workload, "seed": seed, "tables": {}}
    for name, t in tables.items():
        write_table(out_dir, name, t)
        size = sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(os.path.join(out_dir, f"{name}.parquet"))
                   for f in fs)
        manifest["tables"][name] = {"rows": t.num_rows, "bytes": size}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
