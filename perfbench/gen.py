"""Seeded input generator for the benchmark.

Every input the program sees is written here from the workload seed:
TPC-H-shaped tables and an event log as K key-shifted shards, a document
corpus with near-duplicate clusters whose sizes follow a Zipf tail, and
clustered embeddings. For `serve_ingest` it also writes the eval set of
the decontamination model, the screen and probe batches, and the ingest
batches, each labelled with the kind the generator gave it.

Tables are parquet directories (`<dir>/<table>.parquet/part-KK.parquet`),
one file per shard and several row groups per file, so a scan runs more
than one task. The input properties go to `<dir>/props.json`.
"""
import datetime as dt
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 10                  # shards per sharded table
OFF = 1_000_000         # key shift between shards
ROW_GROUPS = 4          # row groups per file
BATCH_ID0 = 10_000_000  # first id of generated batch documents

# Rows per shard. Lineitem and orders are sized so a cold scan pulls a
# few MB through the HTTP remote; documents and embeddings so that the
# all-pairs similarity oracles stay within a few seconds in DuckDB.
SHARD_ROWS = {"lineitem": 6000, "orders": 1500, "customer": 150,
              "part": 200, "supplier": 10, "events": 1500,
              "documents": 150, "embeddings": 300}
# lake_scan scans only lineitem: larger, so a cold scan moves enough bytes
# through the remote for its cost to show next to the warm scan
LAKE_LINEITEM_ROWS = 30000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_NAMES = [f"{a} {b}" for a in ["small", "red", "large", "blue", "green",
                                "tiny", "steel", "brass"]
           for b in ["ring", "widget", "gear", "bolt", "spring", "plate",
                     "valve", "pipe"]]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# near-duplicate clusters in the batch corpus: size of cluster i is
# max(2, ZIPF_TOP / i**ZIPF_S), for ZIPF_CLUSTERS clusters
ZIPF_TOP, ZIPF_S, ZIPF_CLUSTERS = 60, 1.1, 80

# serve_ingest batches
SCREEN_DOCS, PROBES, INGEST_DOCS, INGEST_BATCHES, EVAL_DOCS = 250, 50, 500, 12, 100
INGEST_MIX = {"exact_dup": 0.25, "near_dup": 0.25, "contaminated": 0.10,
              "new": 0.40}

# lake_scan: partition files added by publishes
EXTRA_PARTITIONS, EXTRA_ROWS = 60, 500

EPOCH = dt.datetime(1970, 1, 1)


def vocabulary(n=4000):
    """Fixed pseudo-words; large enough that unrelated documents share
    no 5-word shingle and no 8-gram."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    out, i = [], 0
    while len(out) < n:
        j, w = i, ""
        for _ in range(3):
            w += cons[j % len(cons)] + vows[(j // len(cons)) % len(vows)]
            j //= len(cons) * len(vows)
        out.append(w + str(i % 7))
        i += 1
    return np.array(out)


VOCAB = vocabulary()


def days(rng, n, lo, hi):
    """n dates (as datetime64[us]) uniform in [lo, hi]."""
    lo_d = (lo - EPOCH).days
    d = rng.integers(lo_d, lo_d + (hi - lo).days + 1, n)
    return (d.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def write(table, path):
    """One file per `_shard` value (or one file if the table is not
    sharded), ROW_GROUPS row groups per file."""
    os.makedirs(path, exist_ok=True)
    if "_shard" not in table.column_names:
        parts = [table]
    else:
        shard = table["_shard"].to_numpy()
        body = table.drop(["_shard"])
        parts = [body.filter(pa.array(shard == k)) for k in range(K)]
    for k, part in enumerate(parts):
        pq.write_table(part, f"{path}/part-{k:02d}.parquet",
                       row_group_size=max(1, math.ceil(part.num_rows / ROW_GROUPS)))


def sharded(rng, name, make, n):
    """Concatenate K shards of `make(rng, k, n)`, each with its keys
    shifted by k*OFF, tagged with `_shard` for the writer."""
    cols = {}
    for k in range(K):
        part = make(rng, k, n)
        part["_shard"] = np.full(len(next(iter(part.values()))), k, "int32")
        for c, v in part.items():
            cols.setdefault(c, []).append(v)
    return {c: np.concatenate(v) for c, v in cols.items()}


def money(x):
    return np.round(x, 2)


def tpch(rng, lineitem_rows):
    def lineitem(r, k, n):
        no = SHARD_ROWS["orders"]
        return {
            "l_orderkey": r.integers(0, no, n) + k * OFF,
            "l_partkey": r.integers(0, SHARD_ROWS["part"], n) + k * OFF,
            "l_suppkey": r.integers(0, SHARD_ROWS["supplier"], n) + k * OFF,
            "l_linenumber": r.integers(1, 8, n).astype("int32"),
            "l_quantity": r.integers(1, 51, n).astype("float64"),
            "l_extendedprice": money(r.uniform(900, 105000, n)),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": r.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": r.choice(np.array(["F", "O"]), n),
            "l_shipdate": days(r, n, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }

    def orders(r, k, n):
        return {
            "o_orderkey": np.arange(n, dtype="int64") + k * OFF,
            "o_custkey": r.integers(0, SHARD_ROWS["customer"], n) + k * OFF,
            "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": money(r.uniform(1000, 500000, n)),
            "o_orderdate": days(r, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": r.choice(np.array(PRIORITIES), n),
        }

    def customer(r, k, n):
        keys = np.arange(n, dtype="int64") + k * OFF
        return {
            "c_custkey": keys,
            "c_name": np.array([f"Customer#{x:09d}" for x in keys]),
            "c_nationkey": r.integers(0, 25, n).astype("int32"),
            "c_acctbal": money(r.uniform(-999.99, 9999.99, n)),
            "c_mktsegment": r.choice(np.array(SEGMENTS), n),
        }

    def part(r, k, n):
        return {
            "p_partkey": np.arange(n, dtype="int64") + k * OFF,
            "p_name": r.choice(np.array(P_NAMES), n),
            "p_brand": np.array([f"Brand#{x}" for x in r.integers(1, 26, n)]),
            "p_type": r.choice(np.array(P_TYPES), n),
            "p_size": r.integers(1, 51, n).astype("int32"),
            "p_retailprice": money(900 + (np.arange(n) % 1000) / 10.0),
        }

    def supplier(r, k, n):
        keys = np.arange(n, dtype="int64") + k * OFF
        return {
            "s_suppkey": keys,
            "s_name": np.array([f"Supplier#{x:09d}" for x in keys]),
            "s_nationkey": r.integers(0, 25, n).astype("int32"),
            "s_acctbal": money(r.uniform(-999.99, 9999.99, n)),
        }

    def events(r, k, n):
        ts = np.sort(r.integers(0, 30 * 86_400_000_000, n))
        base = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
        return {
            "event_id": np.arange(n, dtype="int64") + k * OFF,
            "ts": (ts + base).astype("datetime64[us]"),
            "user_id": r.integers(0, 150, n) + k * OFF,
            "event_type": r.choice(np.array(EVENT_TYPES), n),
            "value": money(r.uniform(0.01, 490.02, n)),
            "props": np.array([f'{{"k": {x}}}' for x in r.integers(0, 100, n)]),
        }

    rows = dict(SHARD_ROWS, lineitem=lineitem_rows)
    out = {name: sharded(rng, name, f, rows[name]) for name, f in
           [("lineitem", lineitem), ("orders", orders), ("customer", customer),
            ("part", part), ("supplier", supplier), ("events", events)]}
    out["region"] = {"r_regionkey": np.arange(5, dtype="int32"),
                     "r_name": np.array(REGIONS)}
    out["nation"] = {"n_nationkey": np.arange(25, dtype="int32"),
                     "n_name": np.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": (np.arange(25) % 5).astype("int32")}
    return out


def doc_text(rng, nwords=None):
    n = nwords or int(rng.integers(45, 80))
    return " ".join(VOCAB[rng.integers(0, len(VOCAB), n)])


def near_variant(rng, text):
    """Replace one word: word 5-shingle Jaccard with the source stays
    above 0.8 and the SimHash moves by a few bits."""
    ws = text.split(" ")
    ws[int(rng.integers(0, len(ws)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(ws)


def documents(rng):
    """Corpus of K*SHARD_ROWS['documents'] docs; the first ids of shard 0
    stay unique (l29 takes doc_id < 50 as its eval set). Cluster sizes
    are fixed, so every seed has the same duplicate share and hot bucket."""
    per = SHARD_ROWS["documents"]
    n = K * per
    texts = [doc_text(rng) for _ in range(n)]
    sizes = [max(2, int(ZIPF_TOP / (i + 1) ** ZIPF_S)) for i in range(ZIPF_CLUSTERS)]
    slots = rng.permutation(np.arange(50, n))
    pos = 0
    for s in sizes:
        members = slots[pos:pos + s]
        pos += s
        for m in members[1:]:
            texts[m] = near_variant(rng, texts[members[0]])
    ids = np.array([(i // per) * OFF + i % per for i in range(n)], dtype="int64")
    cols = {
        "doc_id": ids,
        "text": np.array(texts),
        "lang": rng.choice(np.array(LANGS), n),
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        "_shard": (np.arange(n) // per).astype("int32"),
    }
    props = {"dup_share": round((pos - len(sizes)) / n, 4),
             "largest_cluster_share": round(sizes[0] / n, 4),
             "clusters": len(sizes), "largest_cluster": sizes[0]}
    return cols, props


def embeddings(rng):
    per = SHARD_ROWS["embeddings"]
    n, dim, labels = K * per, 64, 10
    centers = rng.normal(0, 1, (labels, dim))
    lab = rng.integers(0, labels, n)
    v = centers[lab] + rng.normal(0, 0.6, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    ids = np.array([(i // per) * OFF + i % per for i in range(n)], dtype="int64")
    return {"vec_id": ids, "embedding": v.astype("float32"),
            "label": lab.astype("int32"),
            "_shard": (np.arange(n) // per).astype("int32")}, centers


def to_table(cols):
    arrays, names = [], []
    for c, v in cols.items():
        if c == "embedding":
            arrays.append(pa.array(list(v), type=pa.list_(pa.float32())))
        else:
            arrays.append(pa.array(v))
        names.append(c)
    return pa.table(arrays, names=names)


def serve_inputs(rng, out, docs, vec_centers):
    """Eval docs, screen batches, probes and ingest batches. Batch
    documents pass curateIngest's quality gate (>= 20 words, 100..5000
    chars); `new` documents share no shingle with anything else."""
    corpus = list(docs["text"])
    ev_texts = [doc_text(rng) for _ in range(EVAL_DOCS)]
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(EVAL_DOCS, dtype="int64")),
                             "text": pa.array(ev_texts)}), f"{out}/eval.parquet")

    def pick(n):
        return [corpus[i] for i in rng.integers(0, len(corpus), n)]

    half = SCREEN_DOCS // 2
    texts = pick(half) + [doc_text(rng) for _ in range(SCREEN_DOCS - half)]
    ids = np.arange(len(texts), dtype="int64") + BATCH_ID0
    pq.write_table(pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}),
                   f"{out}/screen_exact.parquet")

    lab = rng.integers(0, len(vec_centers), PROBES)
    pv = vec_centers[lab] + rng.normal(0, 0.6, (PROBES, vec_centers.shape[1]))
    pv /= np.linalg.norm(pv, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "probe_id": pa.array(np.arange(PROBES, dtype="int64") + BATCH_ID0),
        "pv": pa.array(list(pv.astype("float32")), type=pa.list_(pa.float32()))}),
        f"{out}/probes.parquet")

    os.makedirs(f"{out}/ingest", exist_ok=True)
    counts = {k: int(round(v * INGEST_DOCS)) for k, v in INGEST_MIX.items()}
    accepted_so_far = []
    for b in range(INGEST_BATCHES):
        kinds, texts = [], []
        for kind, c in counts.items():
            for _ in range(c):
                if kind == "exact_dup":
                    pool = corpus if not accepted_so_far or rng.random() < 0.5 \
                        else accepted_so_far
                    t = pool[int(rng.integers(0, len(pool)))]
                elif kind == "near_dup":
                    t = near_variant(rng, corpus[int(rng.integers(0, len(corpus)))])
                elif kind == "contaminated":
                    e = ev_texts[int(rng.integers(0, EVAL_DOCS))].split(" ")
                    s = int(rng.integers(0, len(e) - 12))
                    t = doc_text(rng, 20) + " " + " ".join(e[s:s + 12]) + " " + \
                        doc_text(rng, 20)
                else:
                    t = doc_text(rng)
                kinds.append(kind)
                texts.append(t)
        order = rng.permutation(len(texts))
        kinds = [kinds[i] for i in order]
        texts = [texts[i] for i in order]
        accepted_so_far += [t for k, t in zip(kinds, texts) if k == "new"]
        ids = np.arange(len(texts), dtype="int64") + BATCH_ID0 * 2 + b * 1000
        pq.write_table(pa.table({"doc_id": pa.array(ids), "text": pa.array(texts),
                                 "kind": pa.array(kinds)}),
                       f"{out}/ingest/batch-{b:04d}.parquet")
    return {"screen_docs": SCREEN_DOCS, "probes": PROBES,
            "ingest_docs": INGEST_DOCS, "ingest_batches": INGEST_BATCHES,
            "ingest_mix": counts, "eval_docs": EVAL_DOCS}


def extra_partitions(rng, out):
    """Partition files a producer adds to the lake between scans, one
    per publish; no scan reads them."""
    os.makedirs(f"{out}/extra", exist_ok=True)
    for i in range(EXTRA_PARTITIONS):
        n = EXTRA_ROWS
        pq.write_table(pa.table({
            "e_id": pa.array(np.arange(n, dtype="int64") + i * OFF),
            "e_value": pa.array(money(rng.uniform(0, 1000, n))),
            "e_tag": pa.array(rng.choice(np.array(EVENT_TYPES), n))}),
            f"{out}/extra/part-{i:04d}.parquet")
    return {"files": EXTRA_PARTITIONS, "rows_each": EXTRA_ROWS}


TABLES_FOR = {
    "lake_scan": ["lineitem", "orders", "customer", "part", "supplier",
                  "region", "nation"],
    "batch_mix": ["lineitem", "orders", "customer", "part", "supplier",
                  "region", "nation", "events", "documents", "embeddings"],
    "serve_ingest": ["documents", "embeddings"],
}


def generate(workload, seed, out):
    """Write every input of `workload` for `seed` under `out`; returns
    the input properties (also written to `out/props.json`)."""
    rng = np.random.default_rng([seed, 20261017])
    want = TABLES_FOR[workload]
    data = os.path.join(out, "data")
    tables = {}
    if any(t in want for t in ("lineitem", "events")):
        tables.update(tpch(rng, LAKE_LINEITEM_ROWS if workload == "lake_scan"
                           else SHARD_ROWS["lineitem"]))
    props = {"workload": workload, "seed": seed, "K": K, "tables": {}}
    if "documents" in want:
        tables["documents"], props["documents"] = documents(rng)
    if "embeddings" in want:
        tables["embeddings"], centers = embeddings(rng)
    for name in want:
        t = to_table(tables[name])
        write(t, f"{data}/{name}.parquet")
        files = sorted(os.listdir(f"{data}/{name}.parquet"))
        rgs = sum(pq.ParquetFile(f"{data}/{name}.parquet/{f}").num_row_groups
                  for f in files)
        props["tables"][name] = {
            "rows": t.num_rows, "files": len(files), "row_groups": rgs,
            "bytes": sum(os.path.getsize(f"{data}/{name}.parquet/{f}") for f in files)}
    props["rows_total"] = sum(v["rows"] for v in props["tables"].values())
    props["bytes_total"] = sum(v["bytes"] for v in props["tables"].values())
    if workload == "serve_ingest":
        props["batches"] = serve_inputs(rng, out, tables["documents"], centers)
    if workload == "lake_scan":
        props["extra_partitions"] = extra_partitions(rng, out)
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props
