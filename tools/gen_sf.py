#!/usr/bin/env python3
"""Materialize an sf1-class corpus from /root/testdata/sf0.1 (round 13).

Usage: python3 tools/gen_sf.py <srcDir> <outDir> [mult]

The growth modes mirror the "what real corpus growth looks like" choices
of ScaleProbe (deleted; last held at cdb9a9a), so the scaled tables
exercise the same plan shapes its measured 16x curves (SURVEY 2.x) argue
for:

- fact tables (orders, lineitem, events, customer) multiply as DISJOINT
  copies with offset keys (1e8 per copy -- clear of the runtime +1e6
  planted-fixture offsets) on the SAME calendar: more customers with the
  same per-customer history, so calendar-bounded pair censuses stay
  pinned while scans grow.
- part/supplier multiply WITH the data (offset keys), matching TPC-H's
  own scaling: catalog-projected graphs keep constant degree instead of
  densifying quadratically.
- documents get per-copy token suffixes (every token rewritten), so
  copies share no shingles: dedup candidate sets grow linearly, the way
  a real corpus grows -- verbatim copies would manufacture a quadratic
  near-dup pair set no real 10x ingest produces.
- embeddings get per-copy jitter (+0.01*i per element, float32): distinct
  vectors, linear LSH bucket growth.
- region/nation are dimension constants and copy as-is.

Output is one flat <table>.parquet FILE per table (the layout Sources.table
and tools/check.py read).
"""
import sys
import duckdb

def main(src, out, mult):
    con = duckdb.connect()
    con.execute(f"SET threads TO 16")
    import os
    os.makedirs(out, exist_ok=True)

    def copy(sql, table):
        con.execute(f"COPY ({sql}) TO '{out}/{table}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{out}/{table}.parquet')").fetchone()[0]
        print(f"{table}: {n} rows")

    def t(name):
        return f"read_parquet('{src}/{name}.parquet')"

    OFF = 100_000_000  # per-copy key offset; runtime fixtures plant at +1e6
    R = f"range({mult}) m(i)"

    for dim in ("region", "nation"):
        copy(f"SELECT * FROM {t(dim)}", dim)

    copy(f"""SELECT c_custkey + i*{OFF} AS c_custkey, c_name, c_nationkey,
                    c_acctbal, c_mktsegment
             FROM {t('customer')}, {R}""", "customer")

    copy(f"""SELECT s_suppkey + i*{OFF} AS s_suppkey, s_name, s_nationkey,
                    s_acctbal
             FROM {t('supplier')}, {R}""", "supplier")

    copy(f"""SELECT p_partkey + i*{OFF} AS p_partkey, p_name, p_brand,
                    p_type, p_size, p_retailprice
             FROM {t('part')}, {R}""", "part")

    copy(f"""SELECT o_orderkey + i*{OFF} AS o_orderkey,
                    o_custkey + i*{OFF} AS o_custkey,
                    o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
             FROM {t('orders')}, {R}""", "orders")

    copy(f"""SELECT l_orderkey + i*{OFF} AS l_orderkey,
                    l_partkey + i*{OFF} AS l_partkey,
                    l_suppkey + i*{OFF} AS l_suppkey,
                    l_linenumber, l_quantity, l_extendedprice, l_discount,
                    l_tax, l_returnflag, l_linestatus, l_shipdate
             FROM {t('lineitem')}, {R}""", "lineitem")

    copy(f"""SELECT event_id + i*{OFF} AS event_id, ts,
                    user_id + i*{OFF} AS user_id, event_type, value, props
             FROM {t('events')}, {R}""", "events")

    # copy 0 keeps the original text verbatim (so fixed-anchor fixtures
    # like exact-string lookups still exist); copies 1.. rewrite every
    # token with a per-copy suffix
    copy(f"""SELECT doc_id + i*{OFF} AS doc_id,
                    CASE WHEN i = 0 THEN text
                         ELSE regexp_replace(text, '(\\S+)',
                                             '\\1_c' || i, 'g') END AS text,
                    lang, source,
                    CAST(length(CASE WHEN i = 0 THEN text
                         ELSE regexp_replace(text, '(\\S+)',
                                             '\\1_c' || i, 'g') END)
                      AS BIGINT) AS n_chars
             FROM {t('documents')}, {R}""", "documents")

    copy(f"""SELECT vec_id + i*{OFF} AS vec_id,
                    list_transform(embedding,
                      x -> CAST(x + 0.01*i AS FLOAT)) AS embedding,
                    label
             FROM {t('embeddings')}, {R}""", "embeddings")


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    main(src, out, mult)
