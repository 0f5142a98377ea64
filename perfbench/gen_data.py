"""Seeded input generators for the benchmark.

`tables` writes the ten engine tables (the TPC-H-ish star schema, the
`events` stream, `documents` and `embeddings`) with the schemas and
value domains the engine's queries are written against. The tables are
a fixed input: they always use `TABLE_SEED`, so a golden checksum file
can pin every query's output.

`ingest_batches` turns the `documents` table (with embeddings attached
from `embeddings`) into a seeded stream of batch parquet files with
fixed shares of exact copies, near copies and below-floor documents.
The same seed gives byte-identical files.

Run `python3 perfbench/gen_data.py <outDir> [scale]` to write the
tables alone.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark "
         "a group part big sort query fast the").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# Ingest stream shares (of each batch after the first): exact copies of
# earlier-batch documents, near copies (small token edits of an
# earlier-batch document) and documents below the 100-char quality floor
# that PipelineDriver.runIngest applies. The rest are fresh documents.
SHARES = {"exact": 0.15, "near": 0.10, "short": 0.10}
QUALITY_FLOOR = 100


def _write(table, path):
    # No statistics timestamps or writer-dependent metadata beyond the
    # fixed created_by string: equal inputs give byte-identical files.
    pq.write_table(table, path, compression="snappy")


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def tables(out, sf):
    """Write the ten tables at scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_user = int(50000 * sf), int(50000 * sf), max(10, int(15000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-1000, 10000, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust)}), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-1000, 10000, n_supp)}), f"{out}/supplier.parquet")
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)}), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line),
                               pa.timestamp("us"))}), f"{out}/lineitem.parquet")
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        f"{out}/events.parquet")
    # About 5% of documents are an earlier document plus the token "dup":
    # the corpus carries its own near duplicates, as the real feed does.
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out}/documents.parquet")
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)}),
        f"{out}/embeddings.parquet")


def _edit(rng, text):
    """A near copy: replace one token and append one, so the SimHash
    stays within the near lane's Hamming gate for typical lengths."""
    toks = text.split(" ")
    toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
    toks.append(str(rng.choice(VOCAB)))
    return " ".join(toks)


def ingest_batches(tables_dir, out, seed, n_batches, batch_size):
    """Write `n_batches` batch files `batch_<k>.parquet` into `out` and a
    `manifest.json` recording each row's kind. Returns the manifest."""
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(f"{tables_dir}/documents.parquet").to_pydict()
    embs = pq.read_table(f"{tables_dir}/embeddings.parquet").to_pydict()
    vec = dict(zip(embs["vec_id"], embs["embedding"]))
    # fresh documents: long enough to pass the floor, with an embedding,
    # drawn without replacement in a seeded order
    pool = [i for i, t in zip(docs["doc_id"], docs["text"])
            if len(t) >= QUALITY_FLOOR and i in vec]
    text = dict(zip(docs["doc_id"], docs["text"]))
    rng = np.random.default_rng(seed)
    rng.shuffle(pool)
    need = {k: int(round(batch_size * s)) for k, s in SHARES.items()}
    n_fresh = batch_size - sum(need.values())
    if len(pool) < batch_size + (n_batches - 1) * n_fresh:
        raise ValueError("documents table too small for the ingest stream")
    seen = []  # (text, embedding) of every earlier-batch fresh document
    next_id = 10**6
    manifest = {"seed": seed, "shares": SHARES, "batches": []}
    for b in range(n_batches):
        rows = []
        fresh = batch_size if b == 0 else n_fresh
        for _ in range(fresh):
            d = pool.pop()
            rows.append(("fresh", text[d], vec[d]))
        if b > 0:
            for _ in range(need["exact"]):
                t, v = seen[int(rng.integers(0, len(seen)))]
                rows.append(("exact", t, v))
            for _ in range(need["near"]):
                t, v = seen[int(rng.integers(0, len(seen)))]
                rows.append(("near", _edit(rng, t), v))
            for _ in range(need["short"]):
                t = " ".join(rng.choice(VOCAB, int(rng.integers(3, 12))))
                rows.append(("short", t[:QUALITY_FLOOR - 1], None))
        seen.extend((t, v) for k, t, v in rows if k == "fresh")
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        ids = list(range(next_id, next_id + len(rows)))
        next_id += len(rows)
        _write(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": [r[1] for r in rows],
            "embedding": pa.array([r[2] for r in rows], pa.list_(pa.float32()))}),
            f"{out}/batch_{b}.parquet")
        kinds = {}
        for i, r in zip(ids, rows):
            kinds.setdefault(r[0], []).append(i)
        manifest["batches"].append({"rows": len(rows), "kinds": kinds,
                                    "text_bytes": sum(len(r[1].encode()) for r in rows)})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


if __name__ == "__main__":
    tables(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
