"""Seeded generator for the benchmark's input tables.

Writes the ten tables the catalog reads (`region` ... `embeddings`) as
one parquet file each, with the schemas and value domains of the
engine's star-schema test data, and the scraped-record batches and DML
plan that the `ingest` workload replays. Every value comes from one
numpy Generator seeded with `seed`, so the same seed always gives
byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "shiny"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
US_PER_DAY = 86_400_000_000

# The ingest workload's generator parameters (recorded in SPEC.json).
INGEST = {
    "batches": 4,              # scraped JSON-lines batches per pass
    "rows_per_batch": 2000,    # records per batch, corrupt rows included
    "key_space": 3000,         # distinct natural keys (so keys repeat)
    "groups": 25,              # aggregate groups of the ETL sink
    "case_noise": 0.30,        # share of keys with case/space noise
    "corrupt": 0.02,           # share of lines that are not JSON
    "stream_batches": [2, 3],  # batches appended by the stream, not INSERT
    "dml_mod": 10,             # UPDATE touches rows with k % 10 == r
}


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + rng.integers(0, days, n) * US_PER_DAY).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def star_schema(rng, out, sf):
    n_cust, n_supp = int(150_000 * sf), max(100, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        # as in TPC-H, a third of the customers (key % 3 == 0) never order
        "o_custkey": (lambda i: i + i // 2 + 1)(rng.integers(0, n_cust * 2 // 3, n_ord)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    flags = rng.integers(0, 6, n_line)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "A", "N", "N", "R", "R"])[flags],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng, n_line, "1995-01-02", 2498)})
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us").astype(np.int64)
               + ev_ts).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(150, n_ev // 66), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def corpus(rng, out, sf):
    """The curation corpus: `documents` and `embeddings`."""
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    # documents and embeddings follow the shape of the engine's sf0.1
    # test data (SPEC.json "inputs.fit" has the measured figures): words
    # drawn uniformly from one 30-word vocabulary, 10 to 99 words per
    # document, and exactly 5% of the documents overwritten, in turn,
    # by another document plus " dup" (so a few are dups of dups)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        j = int(rng.integers(0, n_doc - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # 64-d unit vectors with no cluster structure, and labels drawn
    # independently of them, as in the test data
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0, 1, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def ingest_inputs(rng, out):
    """Scraped-record batches plus the seeded DML constants of the
    ingest workload. `ts` is a unique sequence number, so "latest record
    per key" has no ties. Batches listed in `stream_batches` are also
    copied under `stream/` for the streaming append."""
    p = INGEST
    idir = os.path.join(out, "ingest")
    os.makedirs(os.path.join(idir, "stream"), exist_ok=True)
    batches, seq = [], 0
    for b in range(p["batches"]):
        lines, rows = [], []
        for _ in range(p["rows_per_batch"]):
            seq += 1
            if rng.random() < p["corrupt"]:
                lines.append('{"card_key": "broken' + str(seq))
                continue
            k = int(rng.integers(0, p["key_space"]))
            shown = f"card-{k:05d}"
            if rng.random() < p["case_noise"]:
                shown = ("  " if rng.random() < 0.5 else "") + shown.upper() + " "
            row = {"card_key": shown, "ts": seq, "k": k,
                   "grp": f"g{k % p['groups']:02d}",
                   "score": float(rng.integers(0, 4000)) / 4}
            rows.append(row)
            lines.append(json.dumps(row))
        text = "\n".join(lines) + "\n"
        targets = [os.path.join(idir, f"batch_{b}.json")]
        if b in p["stream_batches"]:
            targets.append(os.path.join(idir, "stream", f"batch_{b}.json"))
        for t in targets:
            with open(t, "w") as f:
                f.write(text)
        batches.append(rows)
    return {
        "input_dir": idir,
        "batches": batches,
        "stream_batches": p["stream_batches"],
        "mod": p["dml_mod"],
        "update_r": int(rng.integers(0, p["dml_mod"])),
        "update_delta": float(rng.integers(1, 100)) / 4,
        "groups": p["groups"],
    }


def generate(out, seed, sf, corpus_sf):
    """Star schema at `sf`, documents and embeddings at `corpus_sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    star_schema(rng, out, sf)
    corpus(rng, out, corpus_sf)
    plan = ingest_inputs(rng, out)
    with open(os.path.join(out, "ingest_plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
