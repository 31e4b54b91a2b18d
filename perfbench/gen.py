"""Seeded input generator for the benchmark workloads.

Every table has the schema and value domains of the repository's parquet
fixtures (FIXTURES.md): a TPC-H-shaped star schema plus `events`,
`documents` and `embeddings`. The generator is a pure function of
(workload, seed): one numpy PCG64 stream per table, parquet written by
pyarrow with fixed writer options, so the same seed gives byte-identical
files and another seed gives different values with the same row counts
and the same planted-duplicate share.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
    python3 perfbench/gen.py --summary perfbench/inputs.json
"""
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1 (the fixtures' sf0.1 is a tenth of this).
ROWS_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}

# Per-workload sizing. `sf` scales the TPC-H/events tables, `corpus` the
# documents/embeddings tables (1.0 = the fixtures' sf0.1 corpus: 5,000
# documents and 2,000 64-d embeddings). `tables` lists what is written.
WORKLOADS = {
    "corpus_curation": {"sf": 0.01, "corpus": 1.0, "tables": [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"]},
    "etl_write": {"sf": 0.1, "corpus": 0.1, "tables": [
        "orders", "lineitem", "lineitem_b2", "changes"]},
}

DUP_SHARE = 0.05      # documents that are a planted near-duplicate of another
EXACT_SHARE = 0.002   # documents that are an exact copy of another
B2_SHARE = 0.25       # second ingest batch, as a share of lineitem
CHANGE_SHARE = 0.01   # upsert change set, as a share of orders

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

TABLE_IDS = {n: i for i, n in enumerate([
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings", "lineitem_b2", "changes"])}


def rng_for(seed, table):
    return np.random.Generator(np.random.PCG64([int(seed), TABLE_IDS[table]]))


def n_rows(table, spec):
    scale = spec["corpus"] / 10 if table in ("documents", "embeddings") else spec["sf"]
    return max(1, int(round(ROWS_SF1[table] * scale)))


def cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def gen_region(rng, spec):
    return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(REGIONS)})


def gen_nation(rng, spec):
    return pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32))})


def gen_customer(rng, spec):
    n = n_rows("customer", spec)
    k = np.arange(n, dtype=np.int64)
    return pa.table({"c_custkey": k, "c_name": names("Customer", k),
                     "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                     "c_acctbal": cents(rng, -999.99, 9999.99, n),
                     "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)]})


def gen_supplier(rng, spec):
    n = n_rows("supplier", spec)
    k = np.arange(n, dtype=np.int64)
    return pa.table({"s_suppkey": k, "s_name": names("Supplier", k),
                     "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                     "s_acctbal": cents(rng, -999.99, 9999.99, n)})


def gen_part(rng, spec):
    n = n_rows("part", spec)
    k = np.arange(n, dtype=np.int64)
    pn = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    return pa.table({"p_partkey": k, "p_name": pn[rng.integers(0, len(pn), n)],
                     "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n)],
                     "p_type": PTYPES[rng.integers(0, 6, n)],
                     "p_size": rng.integers(1, 51, n).astype(np.int32),
                     "p_retailprice": 900.0 + (k % 1000) / 10.0})


def gen_orders(rng, spec):
    n = n_rows("orders", spec)
    ncust = n_rows("customer", spec)
    return pa.table({"o_orderkey": np.arange(n, dtype=np.int64),
                     "o_custkey": rng.integers(0, ncust, n).astype(np.int64),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
                     "o_totalprice": cents(rng, 1000.0, 500000.0, n),
                     "o_orderdate": days(rng, "1995-01-01", 2404, n),
                     "o_orderpriority": PRIOS[rng.integers(0, 5, n)]})


def _lineitem(rng, spec, n):
    return pa.table({
        "l_orderkey": rng.integers(0, n_rows("orders", spec), n).astype(np.int64),
        "l_partkey": rng.integers(0, n_rows("part", spec), n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_rows("supplier", spec), n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": days(rng, "1995-01-02", 2498, n)})


def gen_lineitem(rng, spec):
    return _lineitem(rng, spec, n_rows("lineitem", spec))


def gen_lineitem_b2(rng, spec):
    return _lineitem(rng, spec, int(round(n_rows("lineitem", spec) * B2_SHARE)))


def gen_changes(rng, spec):
    """Upsert change set over `orders`: distinct keys, ~80% updates of
    existing orders, ~10% deletes, ~10% inserts of new keys."""
    n_orders = n_rows("orders", spec)
    n = max(3, int(round(n_orders * CHANGE_SHARE)))
    n_ins = n // 10
    existing = rng.choice(n_orders, n - n_ins, replace=False).astype(np.int64)
    keys = np.concatenate([existing, np.arange(n_orders, n_orders + n_ins, dtype=np.int64)])
    op = np.where(np.arange(n) < (n - n_ins) // 9, "D", "U")
    t = gen_orders(rng, {"sf": n / ROWS_SF1["orders"]})
    t = t.set_column(0, "o_orderkey", pa.array(keys))
    t = t.set_column(1, "o_custkey", pa.array(rng.integers(0, n_rows("customer", spec), n).astype(np.int64)))
    return t.append_column("op", pa.array(op))


def gen_events(rng, spec):
    n = n_rows("events", spec)
    gaps = rng.exponential(26.0, n)
    ts_us = np.cumsum(np.round(gaps * 1e6).astype(np.int64)) + 11_000_000
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(1, n * 15 // 1000), n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {i}}}' for i in range(100)])[rng.integers(0, 100, n)]})


def gen_documents(rng, spec):
    """English-shaped 30-word-vocabulary documents, 10-100 words each, with
    DUP_SHARE planted near-duplicates (another document's text + " dup")
    and EXACT_SHARE exact copies. Every planted copy has its own base
    document, so duplicate pairs grow linearly with the corpus."""
    n = n_rows("documents", spec)
    lens = rng.integers(10, 101, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    n_near = int(round(n * DUP_SHARE))
    n_exact = int(round(n * EXACT_SHARE))
    perm = rng.permutation(n)
    copies, bases = perm[:n_near + n_exact], perm[n_near + n_exact:2 * (n_near + n_exact)]
    for i, (c, b) in enumerate(zip(copies.tolist(), bases.tolist())):
        texts[c] = texts[b] + " dup" if i < n_near else texts[b]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": np.array([f"src{i}" for i in range(20)])[np.arange(n) % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def gen_embeddings(rng, spec):
    n = n_rows("embeddings", spec)
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)),
                                   pa.array(v.reshape(-1)))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
                     "label": rng.integers(0, 10, n).astype(np.int32)})


def generate(workload, seed, out_dir):
    """Write the workload's tables as `<out_dir>/<table>.parquet` and return
    a summary: rows and bytes per table, plus the planted duplicate share."""
    spec = WORKLOADS[workload]
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    summary = {"workload": workload, "seed": int(seed), "tables": {}}
    for t in spec["tables"]:
        table = globals()[f"gen_{t}"](rng_for(seed, t), spec)
        path = out / f"{t}.parquet"
        pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
        summary["tables"][t] = {"rows": table.num_rows, "bytes": path.stat().st_size}
    if "documents" in spec["tables"]:
        n = summary["tables"]["documents"]["rows"]
        summary["dup_share"] = (int(round(n * DUP_SHARE)) + int(round(n * EXACT_SHARE))) / n
    summary["rows"] = sum(v["rows"] for v in summary["tables"].values())
    return summary


def summaries(seed=1):
    """Rows, bytes and duplicate share of every workload's inputs."""
    import tempfile
    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        for w in WORKLOADS:
            out[w] = generate(w, seed, Path(tmp) / w)
    return out


if __name__ == "__main__":
    if sys.argv[1] == "--summary":
        Path(sys.argv[2]).write_text(json.dumps(summaries(), indent=1) + "\n")
    else:
        print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
