"""DuckDB oracle for the tpch_batch workload.

Runs each query's oracle SQL (exported by the JVM side from
`graft.SparkEntry.oracleSql`) with the seeded substitution values, and
compares its result with graft's as an order-free multiset: columns sorted
by name, every value cast to VARCHAR, rows hashed three ways.

`round` in the oracle SQL runs as Spark defines it: half up on the
shortest decimal form of the value. DuckDB's own `round` of a DOUBLE
scales it in binary first, so 127.49374999999999 rounds to 127.4938 in
DuckDB and to 127.4937 in Spark.
"""
import json
import re
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]

# Per query: (literal in the oracle SQL holding the parameter's default,
# replacement template, parameter name). The defaults are those of the
# graft functions the benchmark calls.
SUBSTITUTIONS = {
    "q2_min_cost_supplier": [("'EUROPE'", "'{}'", "q2.region")],
    "q7_nation_volume": [("'NATION_18'", "'{}'", "q7.nationA"),
                         ("'NATION_19'", "'{}'", "q7.nationB")],
    "q8_market_share": [("'NATION_1'", "'{}'", "q8.nation"),
                        ("'ASIA'", "'{}'", "q8.region")],
    "q9_profit": [("'%red%'", "'{}'", "q9.pattern")],
    "q11_important_stock": [("'NATION_3'", "'{}'", "q11.nation")],
    "q18_large_orders": [("> 300)", "> {})", "q18.minQty")],
    "q20_promotion_suppliers": [("'ECONOMY'", "'{}'", "q20.ptype")],
    "q21_waiting_suppliers": [("'NATION_3'", "'{}'", "q21.nation")],
}


def substitute(name, sql, params):
    subs = SUBSTITUTIONS.get(name, [])
    for i, (old, _, _) in enumerate(subs):
        if old not in sql:
            raise ValueError(f"{name}: oracle SQL no longer contains {old}")
        sql = sql.replace(old, f"\0{i}\0")
    for i, (_, template, key) in enumerate(subs):
        sql = sql.replace(f"\0{i}\0", template.format(params[key]))
    return sql


def _digest(con, src, cols):
    expr = ", ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), chr(1) || 'NULL')" for c in cols)
    row = f"concat_ws(chr(31), {expr})"
    return con.execute(
        f"SELECT count(*), sum(hash({row})), bit_xor(hash({row})),"
        f" sum(hash(chr(2) || {row})) FROM ({src})").fetchone()


def check(tables_dir, spark_out, params, drop_one_row=None):
    """{query: "OK" or a reason} for every exported query. With
    `drop_one_row`, that query's graft result loses one row first: the
    self-check that a corrupted result is reported."""
    oracle = json.loads((Path(spark_out) / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("CREATE MACRO spark_round(x, n) AS CAST(round(CAST("
                "CAST(x AS VARCHAR) AS DECIMAL(38, 18)), n) AS DOUBLE)")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{Path(tables_dir) / (t + '.parquet')}'")
    results = {}
    for name, sql in sorted(oracle.items()):
        try:
            sql = re.sub(r"\bround\(", "spark_round(",
                         substitute(name, sql, params), flags=re.I)
            got = f"SELECT * FROM read_parquet('{Path(spark_out) / name}/*.parquet')"
            if name == drop_one_row:
                got = f"SELECT * FROM ({got}) LIMIT (SELECT count(*) - 1 FROM ({got}))"
            cols = sorted(r[0] for r in con.execute(f"DESCRIBE {got}").fetchall())
            want_cols = sorted(r[0] for r in
                               con.execute(f"DESCRIBE {sql}").fetchall())
            if cols != want_cols:
                results[name] = f"columns {cols} != {want_cols}"
                continue
            a, b = _digest(con, got, cols), _digest(con, sql, cols)
            results[name] = "OK" if a == b else f"rows {a[0]} vs {b[0]}, digest differs"
        except Exception as e:  # a broken export or SQL is a failed check
            results[name] = f"error: {e}"
    return results
