"""Deterministic input data for the benchmark, written with DuckDB.

* TPC-H-shaped tables (region, nation, customer, supplier, part, orders,
  lineitem) with the column names and types graft's TpchGraph reads. They
  are fixed per scale factor (not seeded) and cached under the build dir.
* A Zipf-skewed synthetic edge list for the graph algorithms, seeded: src
  is uniform over the node ids, dst is skewed towards low ids by a cubic
  transform of a uniform hash (the shape graft's ScaleCheck uses), with the
  run's seed salted into both hashes.
"""
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

# Rows per unit of scale factor (TPC-H proportions).
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000}


def _u(expr, salt):
    """Uniform [0, 1) double from a salted 64-bit hash of an integer expr."""
    return f"(hash({expr}, {salt}) % 1000000007) / 1000000007.0"


def tpch(out_dir, sf):
    """Write the seven tables as parquet under out_dir (idempotent)."""
    stamp = os.path.join(out_dir, "_done")
    if os.path.exists(stamp):
        return
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(round(c * sf))) for t, c in PER_SF.items()}
    con = duckdb.connect()
    q = {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
                ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                CAST(floor({_u('i', 1)} * 25) AS INTEGER) AS c_nationkey,
                round({_u('i', 2)} * 10999.99 - 999.99, 2) AS c_acctbal,
                ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][CAST(floor({_u('i', 3)} * 5) AS INTEGER) + 1] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                CAST(floor({_u('i', 4)} * 25) AS INTEGER) AS s_nationkey,
                round({_u('i', 5)} * 10999.99 - 999.99, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
                ['small','large','red','blue','green','shiny'][CAST(floor({_u('i', 6)} * 6) AS INTEGER) + 1] || ' ' ||
                ['ring','widget','bolt','gear','valve'][CAST(floor({_u('i', 7)} * 5) AS INTEGER) + 1] AS p_name,
                'Brand#' || CAST(floor({_u('i', 8)} * 25) + 1 AS INTEGER) AS p_brand,
                ['ECONOMY','STANDARD','PROMO','LARGE','MEDIUM','SMALL'][CAST(floor({_u('i', 9)} * 6) AS INTEGER) + 1] AS p_type,
                CAST(floor({_u('i', 10)} * 50) + 1 AS INTEGER) AS p_size,
                round(900.0 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey,
                CAST(floor({_u('i', 11)} * {n['customer']}) AS BIGINT) AS o_custkey,
                ['F','O','P'][CAST(floor({_u('i', 12)} * 3) AS INTEGER) + 1] AS o_orderstatus,
                round(1000.0 + {_u('i', 13)} * 499000.0, 2) AS o_totalprice,
                TIMESTAMP '1992-01-01' + to_days(CAST(floor({_u('i', 14)} * 2400) AS INTEGER)) AS o_orderdate,
                ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][CAST(floor({_u('i', 15)} * 5) AS INTEGER) + 1] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT CAST(floor({_u('i', 16)} * {n['orders']}) AS BIGINT) AS l_orderkey,
                CAST(floor({_u('i', 17)} * {n['part']}) AS BIGINT) AS l_partkey,
                CAST(floor({_u('i', 18)} * {n['supplier']}) AS BIGINT) AS l_suppkey,
                CAST(floor({_u('i', 19)} * 7) + 1 AS INTEGER) AS l_linenumber,
                CAST(floor({_u('i', 20)} * 50) + 1 AS DOUBLE) AS l_quantity,
                round((floor({_u('i', 20)} * 50) + 1) * (900.0 + {_u('i', 21)} * 1100.0), 2) AS l_extendedprice,
                CAST(floor({_u('i', 22)} * 11) AS DOUBLE) / 100.0 AS l_discount,
                CAST(floor({_u('i', 23)} * 9) AS DOUBLE) / 100.0 AS l_tax,
                ['A','N','R'][CAST(floor({_u('i', 24)} * 3) AS INTEGER) + 1] AS l_returnflag,
                ['F','O'][CAST(floor({_u('i', 25)} * 2) AS INTEGER) + 1] AS l_linestatus,
                TIMESTAMP '1992-01-01' + to_days(CAST(floor({_u('i', 26)} * 2500) AS INTEGER)) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
    }
    for t in TABLES:
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY ({q[t]}) TO '{path}' (FORMAT PARQUET)")
    con.close()
    open(stamp, "w").close()


def zipf_edges(path, nodes, edges, seed):
    """Seeded Zipf-skewed edge list (rid, src, dst) without self-loops."""
    con = duckdb.connect()
    a, b = 2 * seed + 101, 2 * seed + 102
    con.execute(f"""COPY (
        SELECT row_number() OVER (ORDER BY i) - 1 AS rid, src, dst FROM (
            SELECT i, CAST(hash(i, {a}) % {nodes} AS BIGINT) AS src,
                CAST(floor(pow((hash(i, {b}) % 1000000) / 1000000.0, 3) * {nodes}) AS BIGINT) AS dst
            FROM range({edges}) t(i)) WHERE src <> dst
        ) TO '{path}' (FORMAT PARQUET)""")
    stats = con.execute(f"""SELECT count(*), (SELECT max(c) FROM (
            SELECT count(*) AS c FROM '{path}' GROUP BY dst)) FROM '{path}'""").fetchone()
    con.close()
    return {"nodes": nodes, "edges": stats[0], "max_in_degree": stats[1]}
