"""Seeded generator for the benchmark's input tables.

Writes the ten tables the library reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names and types of the TPC-H-ish
test data the library is developed against. Every value is a pure
function of (seed, table, row id), computed by DuckDB's `hash`, so the
same seed and scale give byte-identical tables on any machine with the
same DuckDB version.

Row counts follow the test data's scale factors: lineitem has
6 000 000 * sf rows (the test data's scale factors), documents and embeddings have at least 500.

Usage: python3 perfbench/gen.py <outDir> <seed> <sf>
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "spark",
         "a", "group", "part", "big", "sort", "query", "fast", "the"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "spring"]


def sql_list(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def counts(sf):
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def tables(seed, sf):
    n = counts(sf)

    # uniform double in [0, 1) keyed on (seed, tag, id expression)
    def u(tag, idx="i"):
        return f"(hash({seed}, '{tag}', {idx}) % 1000000007) / 1000000007.0"

    def pick(tag, xs, idx="i"):
        return f"({sql_list(xs)})[1 + CAST(floor({u(tag, idx)} * {len(xs)}) AS INTEGER)]"

    def money(tag, lo, hi):
        return f"round({lo} + {u(tag)} * {hi - lo}, 2)"

    def day(tag, start, days):
        return (f"CAST(DATE '{start}' + CAST(floor({u(tag)} * {days}) AS INTEGER) "
                f"AS TIMESTAMP)")

    users = max(10, n["customer"] // 10)
    return {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
                       (['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[i + 1] AS r_name
                     FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                       CAST(i % 5 AS INTEGER) AS n_regionkey
                     FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                       CAST(floor({u('cnat')} * 25) AS INTEGER) AS c_nationkey,
                       {money('cbal', -999.99, 9999.99)} AS c_acctbal,
                       {pick('cseg', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
                     FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                       CAST(floor({u('snat')} * 25) AS INTEGER) AS s_nationkey,
                       {money('sbal', -999.99, 9999.99)} AS s_acctbal
                     FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey, {pick('padj', ADJ)} || ' ' || {pick('pnoun', NOUN)} AS p_name,
                       'Brand#' || CAST(1 + floor({u('pbrand')} * 25) AS INTEGER) AS p_brand,
                       {pick('ptype', ['ECONOMY', 'STANDARD', 'LARGE', 'SMALL', 'MEDIUM', 'PROMO'])} AS p_type,
                       CAST(1 + floor({u('psize')} * 50) AS INTEGER) AS p_size,
                       round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
                     FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, CAST(floor({u('ocust')} * {n['customer']}) AS BIGINT) AS o_custkey,
                       {pick('ostat', ['F', 'O', 'P'])} AS o_orderstatus,
                       {money('oprice', 1000, 500000)} AS o_totalprice,
                       {day('odate', '1995-01-01', 2404)} AS o_orderdate,
                       {pick('oprio', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
                     FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT CAST(floor({u('lord')} * {n['orders']}) AS BIGINT) AS l_orderkey,
                       CAST(floor({u('lpart')} * {n['part']}) AS BIGINT) AS l_partkey,
                       CAST(floor({u('lsupp')} * {n['supplier']}) AS BIGINT) AS l_suppkey,
                       CAST(1 + floor({u('lline')} * 7) AS INTEGER) AS l_linenumber,
                       CAST(1 + floor({u('lqty')} * 50) AS DOUBLE) AS l_quantity,
                       {money('lprice', 900, 105000)} AS l_extendedprice,
                       floor({u('ldisc')} * 11) / 100.0 AS l_discount,
                       floor({u('ltax')} * 9) / 100.0 AS l_tax,
                       {pick('lflag', ['A', 'N', 'R'])} AS l_returnflag,
                       {pick('lstat', ['F', 'O'])} AS l_linestatus,
                       {day('lship', '1995-01-02', 2498)} AS l_shipdate
                     FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i AS event_id,
                       TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor((i + {u('ets')}) * 2592000000000.0 / {n['events']}) AS BIGINT)) AS ts,
                       CAST(floor({u('euser')} * {users}) AS BIGINT) AS user_id,
                       {pick('etype', ['click', 'signup', 'error', 'view', 'purchase'])} AS event_type,
                       {money('evalue', 0.01, 490.0)} AS value,
                       '{{"k": ' || CAST(floor({u('eprop')} * 100) AS INTEGER) || '}}' AS props
                     FROM range({n['events']}) t(i)""",
        # 5% of documents are near-duplicates: an earlier document's text
        # with ' dup' appended, the test data's planted-duplicate shape
        "documents": f"""WITH len AS (
                         SELECT i, 10 + CAST(floor({u('len')} * 90) AS INTEGER) AS ntok
                         FROM range({n['documents']}) t(i)),
                       base AS (
                         SELECT i AS doc_id,
                           string_agg({sql_list(VOCAB)}[1 + CAST(floor({u('tok', 'i * 1000 + p')} * {len(VOCAB)}) AS INTEGER)],
                                      ' ' ORDER BY p) AS text,
                           any_value({u('isdup')} < 0.05 AND i > 0) AS is_dup,
                           any_value(CAST(floor({u('dupof')} * i) AS BIGINT)) AS dup_of
                         FROM len JOIN range(100) s(p) ON p < ntok
                         GROUP BY i)
                       SELECT b.doc_id,
                         CASE WHEN b.is_dup THEN o.text || ' dup' ELSE b.text END AS text,
                         {pick('lang', ['en', 'en', 'en', 'zh', 'fr', 'es', 'de'], 'b.doc_id')} AS lang,
                         'src' || CAST(b.doc_id % 20 AS VARCHAR) AS source
                       FROM base b JOIN base o ON o.doc_id = b.dup_of""",
        # i.i.d. Gaussian directions on the unit sphere (Box-Muller)
        "embeddings": f"""WITH g AS (
                         SELECT i, d, sqrt(-2 * ln(1 - {u('e1', 'i * 64 + d')}))
                                        * cos(2 * pi() * {u('e2', 'i * 64 + d')}) AS x
                         FROM range({n['embeddings']}) t(i), range(64) s(d)),
                       nrm AS (SELECT i, d, x / sqrt(sum(x * x) OVER (PARTITION BY i)) AS x FROM g)
                     SELECT i AS vec_id, list(CAST(x AS FLOAT) ORDER BY d) AS embedding,
                       any_value(CAST(floor({u('label')} * 10) AS INTEGER)) AS label
                     FROM nrm GROUP BY i""",
    }


def generate(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, sql in tables(seed, sf).items():
        tbl = con.execute(f"SELECT * FROM ({sql}) ORDER BY 1").arrow()
        if name == "documents":
            tbl = con.execute("SELECT *, CAST(length(text) AS BIGINT) AS n_chars FROM tbl").arrow()
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
