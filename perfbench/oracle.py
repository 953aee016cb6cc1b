"""The workloads' scripts, drawn from the seed, and their expected answers.

Every expected answer is computed by DuckDB from the same parquet inputs,
never taken from the program. Answers from both sides are compared as
sorted lists of canonical values: integers and decimals by exact value,
floating-point numbers by their exact `repr` (the float handling of
`tools/check_oracle.py`), timestamps in ISO form.
"""
import datetime
import decimal
import json
import os
import random

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Operator-library queries whose DuckDB oracle answers in about a second at
# sf0.1 and whose Spark run stays near a second once warm (README.md says
# which candidates were left out and why).
CORPUS_OPS = ["ta_tfidf", "ann_ivf_topk", "ann_bruteforce_topk", "dedup_exact"]

# --- canonical values ---------------------------------------------------------


def _dec(d):
    return "n:" + format(d.normalize(), "f")


def canon_duck(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return f"d:{v!r}"
    if isinstance(v, decimal.Decimal):
        return _dec(v)
    if isinstance(v, datetime.datetime):
        return "t:" + v.isoformat()
    if isinstance(v, datetime.date):
        return "t:" + datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_duck(x) for x in v)
    return f"s:{v}"


def canon_jvm(v):
    """Decode the harness's tagged values (see Json.value in Main.scala)."""
    if v is None:
        return None
    if isinstance(v, list):
        return tuple(canon_jvm(x) for x in v)
    tag, x = v[0], v[2:]
    if tag == "i":
        return f"i:{int(x)}"
    if tag == "d":
        return f"d:{float(x)!r}"
    if tag == "f":
        import numpy as np
        return f"d:{float(np.float32(x))!r}"
    if tag == "n":
        return _dec(decimal.Decimal(x))
    if tag == "t":
        return "t:" + datetime.datetime.fromisoformat(x).isoformat()
    if tag == "b":
        return f"b:{x == 'true'}"
    return v


def sort_rows(rows):
    return sorted(rows, key=lambda r: json.dumps(r))


def duck_rows(con, sql):
    return sort_rows([[canon_duck(v) for v in r] for r in con.execute(sql).fetchall()])


def jvm_rows(rows_json):
    return sort_rows([[canon_jvm(v) for v in r] for r in json.loads(rows_json)])


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# --- multiset_dml -------------------------------------------------------------

MS_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
           "l_discount", "l_returnflag", "l_linestatus"]
MS_TYPES = ["BIGINT", "BIGINT", "BIGINT", "DOUBLE", "DOUBLE", "DOUBLE", "TEXT", "TEXT"]
VIEW_KEYS = ["l_returnflag", "l_linestatus"]
VIEW_SUMS = ["l_quantity", "l_extendedprice"]
# The initial INSERT leaves one delta and each step writes two: the 8th
# delta, at the 4th step's INSERT, triggers MultisetStore's
# auto-compaction, so every round covers one whole compaction cycle.
MS_STEPS = 4
MS_MOD = 100

MS_READ = """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
  sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_price
FROM {table} GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""


def multiset_script(seed):
    """Slices of lineitem by l_orderkey residue. The seed picks the initial
    residues, each step's inserted residue (one step re-inserts an initial
    residue, so tuples reach frequency 2) and each DELETE's residue and
    quantity cut (always on a residue the table holds)."""
    rng = random.Random(f"multiset:{seed}")
    residues = rng.sample(range(MS_MOD), MS_STEPS + 2)
    initial = residues[:2]
    inserts = residues[2:2 + MS_STEPS]
    inserts[rng.randrange(MS_STEPS)] = rng.choice(initial)
    present = list(initial)
    steps = []
    for r in inserts:
        present.append(r)
        d = rng.choice(present)
        steps.append({
            "insert": f"l_orderkey % {MS_MOD} = {r}",
            "delete": f"l_orderkey % {MS_MOD} = {d} AND l_quantity < {rng.randint(10, 40)}"})
    return f"l_orderkey % {MS_MOD} IN ({initial[0]}, {initial[1]})", steps


def multiset_plan(seed, con):
    initial, steps = multiset_script(seed)
    cols = ", ".join(MS_COLS)
    ddl = ", ".join(f"{c} {t}" for c, t in zip(MS_COLS, MS_TYPES))
    plan = {
        "table": "ms",
        "column_ddl": ddl,
        "columns": cols,
        "initial": initial,
        "steps": steps,
        "read": MS_READ,
        "view_keys": VIEW_KEYS,
        "view_sums": VIEW_SUMS,
    }
    # The multiset by DuckDB: one row per distinct tuple with its frequency.
    con.execute(f"CREATE OR REPLACE TEMP TABLE ms_state AS SELECT {cols}, count(*) AS f "
                f"FROM lineitem WHERE {initial} GROUP BY ALL")
    keys = ", ".join(VIEW_KEYS)
    sums = ", ".join(
        f"sum(CAST({c} AS DECIMAL(18,2)) * f) AS sum_{c}" for c in VIEW_SUMS)
    avgs = ", ".join(
        f"CAST(sum(CAST({c} AS DECIMAL(18,2)) * f) AS DOUBLE) / sum(f) AS avg_{c}"
        for c in VIEW_SUMS)
    expected = {"read": [], "ivm_read": []}
    for s in steps:
        con.execute(f"CREATE OR REPLACE TEMP TABLE ms_state AS SELECT {cols}, sum(f) AS f FROM ("
                    f"SELECT * FROM ms_state UNION ALL SELECT {cols}, 1 AS f FROM lineitem "
                    f"WHERE {s['insert']}) GROUP BY ALL")
        con.execute(f"DELETE FROM ms_state WHERE {s['delete']}")
        expected["read"].append(duck_rows(con, f"""SELECT {keys}, sum(f),
  sum(CAST(l_quantity AS DECIMAL(12,2)) * f), sum(CAST(l_extendedprice AS DECIMAL(12,2)) * f)
FROM ms_state GROUP BY {keys}"""))
        expected["ivm_read"].append(duck_rows(
            con, f"SELECT {keys}, sum(f), {sums}, {avgs} FROM ms_state "
                 f"GROUP BY {keys} HAVING sum(f) <> 0"))
    expected["contents"] = duck_rows(con, f"SELECT {cols}, f FROM ms_state WHERE f <> 0")
    return plan, expected


# --- corpus_ops ---------------------------------------------------------------

def corpus_expected(con, oracle_sql):
    """DuckDB's answer for each operation's oracle SQL (cached per build)."""
    return {name: duck_rows(con, sql) for name, sql in oracle_sql.items()}


def corpus_plan(seed):
    ops = list(CORPUS_OPS)
    random.Random(f"corpus:{seed}").shuffle(ops)
    return {"ops": ops}
