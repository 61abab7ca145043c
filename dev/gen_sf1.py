#!/usr/bin/env python3
"""Derive an sf1-scale dataset (10x sf0.1) for the SCALING tier.

The driver ships sf{0.001,0.01,0.1} only; at sf0.1 (~600k lineitem rows)
the whole suite is fixed-overhead-bound and 8 cores beat 32 (r20 PERF),
so parallel-scaling evidence needs a bigger input. This derives one:
10 replicas of every sf0.1 table with disjoint key offsets, foreign keys
offset CONSISTENTLY (replica k's lineitem references replica k's orders/
part/supplier; orders reference replica k's customers; events carry
replica-k user/event ids) so join selectivities and per-key cardinalities
match sf0.1 while totals scale 10x. region/nation stay fixed (TPC-H dims
don't scale). Timestamps, texts and embeddings are copied verbatim —
the tier measures wall-clock scaling, not oracle correctness (sf1 has no
oracle), and identical texts keep the BPE vocabulary/near-dup cluster
shapes interpretable (documented in OPTIMIZATION_r21.md).

Usage: python3 dev/gen_sf1.py [outDir]   (default /root/sf1)
Deterministic: pure arithmetic on the sf0.1 tables, no randomness.
"""
import os, sys
import duckdb

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/root/sf1"
REPLICAS = 10
K = 10_000_000  # key offset stride per replica; checked against every id below

os.makedirs(OUT, exist_ok=True)
con = duckdb.connect()
con.execute(f"SET threads TO {os.cpu_count()}")

# Every column offset by k*K below. Replicas stay disjoint only while
# each source id is in [0, K); check that before writing anything.
OFFSET_COLS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
for table, cols in OFFSET_COLS.items():
    for c in cols:
        lo, hi = con.sql(
            f"SELECT MIN({c}), MAX({c}) FROM '{SRC}/{table}.parquet'").fetchone()
        assert 0 <= lo and hi < K, f"{table}.{c} spans [{lo}, {hi}], outside [0, {K})"

def gen(table, select_expr):
    out = f"{OUT}/{table}.parquet"
    con.execute(f"""
        COPY (
          SELECT {select_expr}
          FROM '{SRC}/{table}.parquet' t
          CROSS JOIN (SELECT unnest(range({REPLICAS})) AS k) r
        ) TO '{out}' (FORMAT PARQUET)""")
    n = con.sql(f"SELECT COUNT(*) FROM '{out}'").fetchone()[0]
    print(f"{table}: {n} rows -> {out}")

def copy(table):
    out = f"{OUT}/{table}.parquet"
    con.execute(
        f"COPY (SELECT * FROM '{SRC}/{table}.parquet') TO '{out}' (FORMAT PARQUET)")
    print(f"{table}: copied verbatim")

gen("customer",
    f"c_custkey + k*{K} AS c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment")
gen("supplier", f"s_suppkey + k*{K} AS s_suppkey, s_name, s_nationkey, s_acctbal")
gen("part",
    f"p_partkey + k*{K} AS p_partkey, p_name, p_brand, p_type, p_size, p_retailprice")
gen("orders",
    f"o_orderkey + k*{K} AS o_orderkey, o_custkey + k*{K} AS o_custkey, "
    "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority")
gen("lineitem",
    f"l_orderkey + k*{K} AS l_orderkey, l_partkey + k*{K} AS l_partkey, "
    f"l_suppkey + k*{K} AS l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate")
gen("events",
    f"event_id + k*{K} AS event_id, ts, user_id + k*{K} AS user_id, "
    "event_type, value, props")
gen("documents",
    f"doc_id + k*{K} AS doc_id, text, lang, source, n_chars")
gen("embeddings", f"vec_id + k*{K} AS vec_id, embedding, label")
copy("region")
copy("nation")
print("done:", OUT)
