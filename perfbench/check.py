"""Output checks against the DuckDB oracle.

Each checked output is reduced to a hash of `tools/local_verify.py`'s own
canonical form (columns sorted by name, every value rendered with `repr`,
NaN as "NaN", rows sorted), so two outputs hash alike exactly when that
script would call them equal. Large ETL tables are compared by row count plus an
order-independent digest computed by DuckDB on both sides.
"""
import hashlib
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from local_verify import canon  # noqa: E402

DATA_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings",
               "lineitem_b2", "changes"]

_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_SHINGLES = ("CASE WHEN len(ts) >= 3 THEN "
             "[array_to_string(ts[i+1:i+3], ' ') for i in range(len(ts)-2)] ELSE [] END")
_HASH32 = "('0x' || substring(md5(s), 1, 8))::BIGINT"


def _minhash_sig(k):
    return ("[coalesce(list_min(list_transform(hs, h -> (h * (2*k + 1) + k * 12345 + 67891)"
            f" % 4294967296)), 4294967296) for k in range({k})]")


# Oracles for the kernel-only jobs, matching the scalar projections the
# JVM side dumps (PerfBench.kernelCheck).
KERNEL_ORACLES = {
    "graft_shingles": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
        s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t)
        SELECT doc_id, len(sh)::INTEGER AS n, md5(array_to_string(sh, '|')) AS h FROM s""",
    "graft_minhash": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
        s AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
        h AS (SELECT doc_id, [{_HASH32} for s in sh] AS hs FROM s)
        SELECT doc_id, array_to_string(list_transform({_minhash_sig(16)}, x -> x::VARCHAR), ',') AS sig
        FROM h""",
    "graft_kmeans_assign": """
        WITH q AS (SELECT vec_id,
            [CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT) for x in embedding] AS v
          FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS c FROM q WHERE vec_id < 16),
        d AS (SELECT q.vec_id, c.cid,
            list_sum(list_transform(range(1, 65), i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i]))) AS d
          FROM q CROSS JOIN c)
        SELECT vec_id, first(cid ORDER BY d, cid) AS cid, min(d) AS d FROM d GROUP BY vec_id""",
}

ETL_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate"]
ETL_FILTER = "l_discount <= 0.08"
ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]

# DuckDB replays of the ETL pass: the same ingest + append, and the same
# managed write + upsert (ManagedWriter.merge: every change key leaves the
# base; rows whose op is not 'D' come back).
ETL_REPLAY = {
    "ingested": f"""
        SELECT {', '.join(ETL_COLS)} FROM lineitem WHERE {ETL_FILTER}
        UNION ALL SELECT {', '.join(ETL_COLS)} FROM lineitem_b2 WHERE {ETL_FILTER}""",
    "managed_final": f"""
        SELECT {', '.join(ORDERS_COLS)} FROM orders
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
        UNION ALL SELECT {', '.join(ORDERS_COLS)} FROM changes WHERE op IS DISTINCT FROM 'D'""",
}
# The bounded result the Arrow and protobuf steps encode (Etl.boundedSql);
# its decoded rows carry l_shipdate as epoch microseconds, which `digest`
# matches with the replay's timestamp.
ETL_BOUNDED = "SELECT * FROM ({ingested}) WHERE l_orderkey % 50 = 0"
ETL_AGG = """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
    FROM ({managed}) GROUP BY o_orderstatus, o_orderpriority"""


def canon_hash(cols, rows):
    return hash_canonical(*canon(cols, rows))


def hash_canonical(c, r):
    """Hash of an already canonical (columns, rows) pair."""
    h = hashlib.sha256(repr(c).encode())
    for row in r:
        h.update(repr(row).encode())
    return {"hash": h.hexdigest(), "rows": len(r), "cols": c}


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in DATA_TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def query_hash(con, sql):
    rows = con.execute(sql).fetchall()
    return canon_hash([d[0] for d in con.description], rows)


def dump_hash(con, dump_dir):
    return query_hash(con, f"SELECT * FROM '{dump_dir}/*.parquet'")


def digest(con, sql):
    """Row count and an order-independent digest of a relation: the sum of
    per-row hashes over the columns in name order."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
    cols = sorted(d[0] for d in desc)
    types = {d[0]: d[1] for d in desc}
    # timestamps as epoch micros: a zone-adjusted and a naive column with
    # the same instant digest alike
    exprs = [f"epoch_us({c})" if types[c].startswith("TIMESTAMP") else c for c in cols]
    n, s = con.execute(
        f"SELECT count(*), CAST(sum(hash({', '.join(exprs)})::HUGEINT) AS VARCHAR) FROM ({sql})"
    ).fetchone()
    return {"rows": n, "digest": s, "cols": cols}


def expected(con, workload, oracle_sql, jobs):
    """Oracle side of every check of one workload, cached per seed by the
    caller. Keys are job names (or ETL table names)."""
    out = {}
    if workload == "etl_write":
        for name, sql in ETL_REPLAY.items():
            out[name] = digest(con, sql)
        out["agg"] = query_hash(con, ETL_AGG.format(managed=ETL_REPLAY["managed_final"]))
        bounded = digest(con, ETL_BOUNDED.format(ingested=ETL_REPLAY["ingested"]))
        out["arrow"] = out["rowcodec"] = bounded
        return out
    for j in jobs:
        sql = oracle_sql.get(j) or KERNEL_ORACLES.get(j)
        out[j] = query_hash(con, sql) if sql else None
    return out


def actual(con, workload, check_dir, jobs):
    """Spark side of the same checks, from the dumps of the check pass."""
    check = Path(check_dir)
    out = {}
    if workload == "etl_write":
        for name, where in (("ingested", check / "ingested_dir.txt"),
                            ("managed_final", check / "managed_final")):
            d = Path(where.read_text().strip()) if where.suffix == ".txt" and where.exists() else where
            out[name] = digest(con, f"SELECT * FROM '{d}/*.parquet'") if d.exists() else None
        out["agg"] = dump_hash(con, check / "agg") if (check / "agg").exists() else None
        for name in ("arrow", "rowcodec"):
            d = check / name
            out[name] = digest(con, f"SELECT * FROM '{d}/*.parquet'") if d.exists() else None
        marker = check / "export_dir.txt"
        out["export"] = (digest(con, f"SELECT * FROM '{marker.read_text().strip()}/*.parquet'")
                         if marker.exists() else None)
        return out
    for j in jobs:
        d = check / j
        out[j] = dump_hash(con, d) if d.exists() else None
    return out


def compare(workload, want, got, jvm_checks):
    """Names of the checks that failed, with a one-line reason each."""
    bad = {}
    names = list(want) + (["export"] if workload == "etl_write" else [])
    for name in names:
        w = want["ingested"] if name == "export" else want[name]
        g = got.get(name)
        if w is None:
            bad[name] = "no oracle"
        elif g is None:
            bad[name] = "no output"
        elif g != w:
            bad[name] = (f"differs from the oracle (spark {g.get('rows')} rows, "
                         f"oracle {w.get('rows')} rows)")
    for name, pair in jvm_checks.items():
        if len(pair) != 2 or pair[0] != pair[1]:
            bad[name] = f"row counts differ: {pair}"
    return bad
