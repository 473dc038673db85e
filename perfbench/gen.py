"""Seeded input tables for the graft benchmark.

Writes the ten tables graft's loaders read (`graft.Tables`): region,
nation, customer, supplier, part, orders, lineitem, events, documents
and embeddings, with the schemas and value distributions of the
repository's sf fixtures (TESTDATA.md), drawn from `--seed`.

A scale of N writes N copies of the base tables. Copy k re-keys every
id by k times the base row count, so foreign keys stay inside their
copy and referential integrity holds. It also perturbs the copy's
values: prices and amounts are jittered, dates shift by k days, a few
words of every document are redrawn and every embedding gets Gaussian
noise before it is re-normalised. Dedup and nearest-neighbour queries
therefore never meet exact replicas.

The layout follows from the scale (`layout`): at ×1 every table is one
parquet file of one row group; at ×N (N > 1) it is a directory of N files
of 4 row groups each, so Spark scans it with several tasks. DuckDB cannot
read such a directory by its bare name, so an `oracle/` directory beside
it then holds one file per table with the same rows.

The same seed, scale and layout give byte-identical files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SF = 0.01           # fact sizes relative to TPC-H sf1
BASE_DOCS = 1000
BASE_VECS = 1000
DIM = 64

VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first_day, n_days, n):
    return EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * US_PER_DAY


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def base_tables(seed):
    """The ×1 tables; every column is drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * BASE_SF), int(10_000 * BASE_SF), int(200_000 * BASE_SF)
    n_ord, n_line, n_ev = int(1_500_000 * BASE_SF), int(6_000_000 * BASE_SF), int(1_000_000 * BASE_SF)
    n_users = int(15_000 * BASE_SF)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days(rng, 0, 2404, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, 1, 2498, n_line))})
    ev_ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 101)))
             for _ in range(BASE_DOCS)]
    # about 5% of documents are near-duplicates of another one
    for i in np.flatnonzero(rng.random(BASE_DOCS) < 0.05):
        texts[i] = texts[int(rng.integers(0, BASE_DOCS))] + " dup"
    t["documents"] = _documents(np.arange(BASE_DOCS, dtype=np.int64), texts,
                                rng.choice(len(LANGS), BASE_DOCS, p=LANG_P))
    vecs = rng.standard_normal((BASE_VECS, DIM))
    t["embeddings"] = _embeddings(np.arange(BASE_VECS, dtype=np.int64), vecs,
                                  rng.integers(0, 10, BASE_VECS))
    return t


def _documents(ids, texts, langs):
    return pa.table({"doc_id": ids, "text": texts,
                     "lang": [LANGS[i] for i in langs],
                     "source": [f"src{i % 20}" for i in ids],
                     "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def _embeddings(ids, vecs, labels):
    unit = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({"vec_id": ids,
                     "embedding": pa.array(list(unit), pa.list_(pa.float32())),
                     "label": labels.astype(np.int32)})


KEYS = {  # table -> {column: table whose base size re-keys it}
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "customer"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
JITTER = {"c_acctbal", "s_acctbal", "o_totalprice", "l_extendedprice", "value"}
SHIFT = {"o_orderdate", "l_shipdate", "ts"}


def copy_of(name, table, k, sizes, rng):
    """Copy k (k >= 1) of a base table: re-keyed and perturbed."""
    cols = {}
    for c in table.column_names:
        v = table[c].to_numpy(zero_copy_only=False)
        if c in KEYS[name]:
            # events.user_id spans a tenth of the customer keys; it keeps that share
            base = sizes[KEYS[name][c]] // (10 if c == "user_id" else 1)
            v = v + k * base
        elif c in JITTER:
            v = np.round(v * rng.uniform(0.98, 1.02, len(v)), 2)
        elif c in SHIFT:
            v = _ts(v.astype("datetime64[us]").astype(np.int64) + k * US_PER_DAY)
        elif c in ("c_name", "s_name"):
            prefix = "Customer" if c == "c_name" else "Supplier"
            v = [f"{prefix}#{int(s.split('#')[1]) + k * sizes[name]:09d}" for s in v]
        cols[c] = v
    if name == "documents":
        texts = []
        for s in table["text"].to_pylist():
            words = s.split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        langs = [LANGS.index(x) for x in table["lang"].to_pylist()]
        return _documents(cols["doc_id"], texts, langs)
    if name == "embeddings":
        vecs = np.stack(table["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        vecs = vecs + rng.normal(0.0, 0.05, vecs.shape)
        return _embeddings(cols["vec_id"], vecs, table["label"].to_numpy())
    return pa.table({c: cols[c] for c in table.column_names}, schema=table.schema)


def layout(scale):
    """(files, row groups per file) of every table at this scale."""
    return (scale, 4) if scale > 1 else (1, 1)


def generate(out_dir, seed, scale=1):
    """Write the tables for `seed` under `out_dir`; return {file: sha256}."""
    files, row_groups = layout(scale)
    base = base_tables(seed)
    sizes = {n: t.num_rows for n, t in base.items()}
    rng = np.random.default_rng([seed, scale])
    os.makedirs(out_dir, exist_ok=True)
    digests = {}

    def write(table, path):
        rows = max(1, -(-table.num_rows // row_groups))
        pq.write_table(table, path, row_group_size=rows, compression="snappy")
        with open(path, "rb") as f:
            digests[os.path.relpath(path, out_dir)] = hashlib.sha256(f.read()).hexdigest()

    for name, table in base.items():
        full = table if name in ("region", "nation") else pa.concat_tables(
            [table] + [copy_of(name, table, k, sizes, rng) for k in range(1, scale)])
        if files == 1:
            write(full, os.path.join(out_dir, f"{name}.parquet"))
            continue
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        n_files = files if full.num_rows >= files * row_groups else 1
        bounds = np.linspace(0, full.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            write(full.slice(bounds[i], bounds[i + 1] - bounds[i]),
                  os.path.join(tdir, f"part-{i:05d}.parquet"))
        os.makedirs(os.path.join(out_dir, "oracle"), exist_ok=True)
        pq.write_table(full, os.path.join(out_dir, "oracle", f"{name}.parquet"))
    return digests
