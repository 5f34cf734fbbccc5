"""Generate the registry workload's tables: an sf0.1-sized lookalike of the
TPC-H-style test tables (region, nation, customer, supplier, part, orders,
lineitem) plus a `documents` text table, one parquet file each, in the
column names and types the registry rows read.

Values come from DuckDB's `hash()` of the row number and a per-column salt,
so the files are the same on every run and for any thread count.

    python3 perfbench/gen_tables.py <out_dir>
"""
import os
import sys

import duckdb

SF = 0.1
N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_DOCUMENTS = 5_000

WORDS = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join spark line small fast group customer batch "
         "sort value hash filter big data dup").split()


def h(expr, salt):
    """A uniform UBIGINT from `expr` and a salt, stable across runs."""
    return f"hash({expr}, '{salt}')"


def pick(values, expr, salt):
    vals = ", ".join(f"'{v}'" for v in values)
    return f"([{vals}])[1 + ({h(expr, salt)} % {len(values)})::INT]"


TABLES = {
    "region": """
        SELECT i::INT AS r_regionkey,
               (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1] AS r_name
        FROM range(5) t(i)""",
    "nation": """
        SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
               (i % 5)::INT AS n_regionkey
        FROM range(25) t(i)""",
    "customer": f"""
        SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
               ({h('i', 'c_nation')} % 25)::INT AS c_nationkey,
               round(-999.99 + ({h('i', 'c_acctbal')} % 1099980) / 100.0, 2) AS c_acctbal,
               {pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'i', 'c_seg')}
                 AS c_mktsegment
        FROM range({N_CUSTOMER}) t(i)""",
    "supplier": f"""
        SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
               ({h('i', 's_nation')} % 25)::INT AS s_nationkey,
               round(-999.99 + ({h('i', 's_acctbal')} % 1099980) / 100.0, 2) AS s_acctbal
        FROM range({N_SUPPLIER}) t(i)""",
    "part": f"""
        SELECT i::BIGINT AS p_partkey,
               {pick(['blue', 'red', 'large', 'small', 'hot', 'cold', 'shiny', 'old'], 'i', 'p_adj')}
                 || ' ' ||
               {pick(['anvil', 'widget', 'ring', 'bolt', 'gear', 'spring', 'valve', 'lever'], 'i', 'p_noun')}
                 AS p_name,
               'Brand#' || (1 + {h('i', 'p_brand')} % 25) AS p_brand,
               {pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], 'i', 'p_type')}
                 AS p_type,
               (1 + {h('i', 'p_size')} % 50)::INT AS p_size,
               900.0 + (i % 1000) / 10.0 AS p_retailprice
        FROM range({N_PART}) t(i)""",
    "orders": f"""
        SELECT i::BIGINT AS o_orderkey,
               ({h('i', 'o_cust')} % {N_CUSTOMER})::BIGINT AS o_custkey,
               {pick(['F', 'O', 'P'], 'i', 'o_status')} AS o_orderstatus,
               round(1000.0 + ({h('i', 'o_price')} % 49900000) / 100.0, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01' + to_days(({h('i', 'o_date')} % 2405)::INT) AS o_orderdate,
               {pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'i', 'o_prio')}
                 AS o_orderpriority
        FROM range({N_ORDERS}) t(i)""",
    "lineitem": f"""
        SELECT o::BIGINT AS l_orderkey,
               ({h('o * 8 + n', 'l_part')} % {N_PART})::BIGINT AS l_partkey,
               ({h('o * 8 + n', 'l_supp')} % {N_SUPPLIER})::BIGINT AS l_suppkey,
               n::INT AS l_linenumber,
               q AS l_quantity,
               round(q * (900.0 + ({h('o * 8 + n', 'l_part')} % {N_PART}) % 1000 / 10.0)
                 * (1.0 + ({h('o * 8 + n', 'l_px')} % 100) / 100.0), 2) AS l_extendedprice,
               ({h('o * 8 + n', 'l_disc')} % 11) / 100.0 AS l_discount,
               ({h('o * 8 + n', 'l_tax')} % 9) / 100.0 AS l_tax,
               {pick(['A', 'N', 'R'], 'o * 8 + n', 'l_flag')} AS l_returnflag,
               {pick(['F', 'O'], 'o * 8 + n', 'l_status')} AS l_linestatus,
               TIMESTAMP '1995-01-01' + to_days(({h('o', 'o_date')} % 2405)::INT
                 + 1 + ({h('o * 8 + n', 'l_ship')} % 90)::INT) AS l_shipdate
        FROM (SELECT o, n, (1 + {h('o * 8 + n', 'l_qty')} % 50)::DOUBLE AS q
              FROM range({N_ORDERS}) t(o), range(1, 8) u(n)
              WHERE n <= 1 + {h('o', 'l_lines')} % 7)""",
    "documents": f"""
        SELECT i::BIGINT AS doc_id, text,
               CASE WHEN {h('i', 'd_lang')} % 100 < 40 THEN 'en'
                    ELSE {pick(['de', 'es', 'fr', 'zh'], 'i', 'd_lang2')} END AS lang,
               'src' || (i % 20) AS source,
               length(text)::BIGINT AS n_chars
        FROM (SELECT i, array_to_string(list_transform(
                       range((10 + {h('i', 'd_len')} % 91)::BIGINT),
                       k -> ({WORDS!r})[1 + (hash(i, k, 'd_word') % {len(WORDS)})::INT]),
                     ' ') AS text
              FROM range({N_DOCUMENTS}) t(i))""",
}


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name, sql in TABLES.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql} ORDER BY ALL) TO '{path}' (FORMAT PARQUET)")


if __name__ == "__main__":
    main(sys.argv[1])
