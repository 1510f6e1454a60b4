"""Output checks for one perfbench run, outside the timed region.

- Query keys (both workloads): the result of each key's first execution
  is compared with DuckDB's replay of `SparkEntry.oracleSql` over the
  same generated inputs (columns by name, rows as a sorted multiset).
  Keys in `SparkEntry.quadraticOracles` are approximate operators whose
  oracle is the exact answer: their rows must be a subset of it; their
  recall against it is measured, not gated. Every warm execution of a
  key must return as many rows as its checked first execution.
- warehouse: zero `DataTests` violations, and every materialized model
  of the final warehouse equals a DuckDB recompute from the generated
  sources with the increment applied.

`check` returns the failure messages (none when all pass) and the
recall of each approximate key.
"""
import glob
import json
import math
import os
import re

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.9g}")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def canon(cursor):
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in cursor.fetchall()]
    rows.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], rows


def compare_approximate(name, got, exp):
    (gc, g), (ec, e) = got, exp
    if gc != ec:
        return [f"{name}: columns {gc} != {ec}"]
    extra = set(g) - set(e)
    if extra:
        return [f"{name}: {len(extra)} rows not in the exact answer, e.g. {min(extra)}"]
    return []


def compare(name, got, exp):
    (gc, g), (ec, e) = got, exp
    if gc != ec:
        return [f"{name}: columns {gc} != {ec}"]
    if len(g) != len(e):
        return [f"{name}: {len(g)} rows, oracle {len(e)}"]
    for i, (a, b) in enumerate(zip(g, e)):
        if a != b:
            return [f"{name}: row {i} differs: {a} != {b}"]
    return []


def compare_tables(con, name, got, exp):
    """Multiset equality of two DuckDB relations, computed in DuckDB: the
    warehouse's models are exact (decimal money sums), so no tolerance."""
    cols = {t: sorted(r[0] for r in con.execute(f"DESCRIBE {t}").fetchall())
            for t in (got, exp)}
    if cols[got] != cols[exp]:
        return [f"{name}: columns {cols[got]} != {cols[exp]}"]
    c = ", ".join(f'"{x}"' for x in cols[got])
    n_got, n_exp, diff = con.execute(f"""SELECT
        (SELECT count(*) FROM {got}), (SELECT count(*) FROM {exp}),
        (SELECT count(*) FROM ((SELECT {c} FROM {got} EXCEPT ALL SELECT {c} FROM {exp})
          UNION ALL (SELECT {c} FROM {exp} EXCEPT ALL SELECT {c} FROM {got})))""").fetchone()
    if diff:
        return [f"{name}: {n_got} rows, recompute {n_exp}, {diff} rows differ"]
    return []


def connect(data_dir, tables=TABLES):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def read_output(con, out_dir, name):
    parts = glob.glob(os.path.join(out_dir, "check", name, "*.parquet"))
    if not parts:
        raise ValueError("no output written")
    return canon(con.execute(f"SELECT * FROM read_parquet({parts!r})"))


def check_queries(data_dir, out_dir, result):
    fails, recall = [], {}
    oracle = json.load(open(os.path.join(out_dir, "check", "oracle_sql.json")))
    con = connect(data_dir)
    approximate = set(result.get("approximate", []))
    for name, sql in sorted(oracle.items()):
        if sql is None:
            fails.append(f"{name}: no oracle to check against")
            continue
        try:
            got = read_output(con, out_dir, name)
            exp = canon(con.execute(sql))
        except Exception as e:  # a missing or unreadable output is a failed check
            fails.append(f"{name}: {e}")
            continue
        warm = {o["rows"] for o in result["ops"]
                if o["name"] == name and o["pass"] > 0 and o["error"] is None}
        if warm - {len(got[1])}:
            fails.append(f"{name}: warm executions returned {sorted(warm)} rows, "
                         f"the first {len(got[1])}")
        if name in approximate:
            fails += compare_approximate(name, got, exp)
            recall[name] = len(set(got[1]) & set(exp[1])) / max(1, len(set(exp[1])))
        else:
            fails += compare(name, got, exp)
    return fails, recall


def final_sources(con, data_dir):
    """Sources as the re-run leaves them: increment orders replace or add
    whole orders, and an increment order's lines replace all its lines."""
    for t in ("customer", "part", "supplier", "nation", "region"):
        con.execute(f"CREATE VIEW raw_{t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    inc = os.path.join(data_dir, "increment")
    con.execute(f"""CREATE TABLE raw_orders AS
        SELECT * FROM read_parquet('{data_dir}/orders.parquet')
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM read_parquet('{inc}/orders.parquet'))
        UNION ALL SELECT * FROM read_parquet('{inc}/orders.parquet')""")
    con.execute(f"""CREATE TABLE raw_lineitem AS
        SELECT * FROM read_parquet('{data_dir}/lineitem.parquet')
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM read_parquet('{inc}/orders.parquet'))
        UNION ALL SELECT * FROM read_parquet('{inc}/lineitem.parquet')""")


SNAPSHOT_SQL = """
WITH base AS (SELECT * FROM read_parquet('{d}/orders.parquet')),
inc AS (SELECT * FROM read_parquet('{d}/increment/orders.parquet')),
changed AS (SELECT i.* FROM inc i JOIN base b USING (o_orderkey)
  WHERE i.o_orderstatus <> b.o_orderstatus OR i.o_totalprice <> b.o_totalprice
     OR i.o_orderpriority <> b.o_orderpriority)
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
       TIMESTAMP '{t1}' AS dbt_valid_from,
       CASE WHEN o_orderkey IN (SELECT o_orderkey FROM changed)
            THEN TIMESTAMP '{t2}' END AS dbt_valid_to
FROM base
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
       TIMESTAMP '{t2}', NULL FROM changed
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
       TIMESTAMP '{t2}', NULL FROM inc
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)"""


def check_dag(data_dir, out_dir, result):
    fails = []
    if result.get("violations", 0) != 0:
        fails.append(f"DataTests reported {result['violations']} violations")
    dag = json.load(open(os.path.join(out_dir, "dag.json")))
    warehouse = result.get("warehouse")
    if not warehouse:
        return fails + ["no warehouse left to check"]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    final_sources(con, data_dir)
    for m in dag:
        sql = re.sub(r"\{\{\s*ref\('([^']+)'\)\s*\}\}", r"\1", m["sql"])
        sql = re.sub(r"\{\{\s*source\('([^']*)',\s*'([^']+)'\)\s*\}\}", r"\1_\2", sql)
        if m["kind"] == "snapshot_check":
            sql = SNAPSHOT_SQL.format(d=data_dir, t1=result["dag_as_of"][0],
                                      t2=result["dag_as_of"][1])
        if m["kind"] == "ephemeral":
            con.execute(f"CREATE VIEW {m['name']} AS {sql}")
            continue
        # materialized once: downstream models read it many times
        con.execute(f"CREATE TABLE {m['name']} AS {sql}")
        path = os.path.join(warehouse, f"{m['name']}.parquet")
        files = path if os.path.isfile(path) else os.path.join(path, "**", "*.parquet")
        try:
            con.execute(f"CREATE VIEW got_{m['name']} AS SELECT * FROM "
                        f"read_parquet('{files}', hive_partitioning = true)")
            fails += compare_tables(con, m["name"], f"got_{m['name']}", m["name"])
        except Exception as e:
            fails.append(f"{m['name']}: {e}")
    return fails


def check(workload, data_dir, out_dir, result):
    fails, recall = check_queries(data_dir, out_dir, result)
    if workload == "warehouse":
        fails += check_dag(data_dir, out_dir, result)
    return fails, recall
