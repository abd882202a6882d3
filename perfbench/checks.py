"""Output checks, run after the timed window.

Each check returns a list of mismatch messages; an empty list means the
workload's outputs are correct. DuckDB recomputes every expected result
from the generated inputs alone.
"""

import glob
import json
import math
import os
import sys

import duckdb
import pyarrow.parquet as pq

def _oracle_check():
    """The repository's oracle gate: its canonical row order and hash."""
    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    import oracle_check
    return oracle_check


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in _oracle_check().TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _read_dir(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet under {d}")
    return pq.ParquetDataset(files).read().to_pandas()


def same_table(got, exp, what):
    """Column names, row count and the oracle gate's canonical hash."""
    oc = _oracle_check()
    got, exp = oc.canon(got), oc.canon(exp)
    if list(got.columns) != list(exp.columns):
        return [f"{what}: columns {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows != {len(exp)} expected"]
    if oc.matrix_hash(got) != oc.matrix_hash(exp):
        return [f"{what}: values differ"]
    return []


# ---- nightly_refresh -------------------------------------------------------

def check_nightly(res, data_dir, templates):
    bad = []
    ex = res["extra"]
    for b in ex["blocks"]:
        want = "skipped_duplicate" if b["name"] == "gold_refresh_again" else "ok"
        if b["status"] != want or (want == "ok" and b["attempts"] != 1):
            bad.append(f"pipeline block {b['name']}: {b['status']} after {b['attempts']} attempts")
    con = connect(data_dir)
    q = lambda sql: con.execute(sql).fetchall()
    even, = q("SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0")[0]
    n_orders, = q("SELECT count(*) FROM orders")[0]
    ops = dict(q("""
        SELECT CASE WHEN o_orderkey % 2 = 1 THEN 'kept'
                    WHEN o_orderkey % 4 = 0 THEN 'inserted'
                    WHEN o_orderkey % 7 = 0 THEN 'updated'
                    ELSE 'no_change' END AS op, count(*)
        FROM orders GROUP BY 1"""))
    serve = " ".join(sorted(f"{s}:{n}" for s, n in q(
        "SELECT o_orderstatus, count(*) FROM orders GROUP BY 1")))
    expect = {
        "land": f"{even + 1} records, 1 quarantined",
        "conform": f"{even} rows typed",
        "merge": " ".join(f"{k}={ops[k]}" for k in sorted(ops)),
        "gold": f"{n_orders} rollup rows",
        "serve": serve,
    }
    log = {k: v for k, v in ex["pipeline_log"]}
    for k, v in expect.items():
        if log.get(k) != v:
            bad.append(f"pipeline {k}: logged {log.get(k)!r}, expected {v!r}")
    for name in ex["queries"]:
        try:
            got = _read_dir(os.path.join(ex["out_dir"], name))
            exp = con.execute(templates["nightly"][name]).fetchdf()
            bad += same_table(got, exp, name)
        except Exception as e:  # a missing or unreadable output is a mismatch
            bad.append(f"{name}: {e}")
    return bad


# ---- replay_cycles ---------------------------------------------------------

def check_replay(res, in_dir):
    """Final maintained gold/index == a from-scratch build over the final
    fact table and corpus (the st_gold/st_index replay-parity semantics)."""
    ex = res["extra"]
    n = ex["cycles_applied"]
    con = duckdb.connect()

    def drops(kind):
        files = [os.path.join(in_dir, "drops", f"{kind}_{c:04d}.parquet") for c in range(n)]
        lst = ", ".join(f"'{f}'" for f in files)
        return f"""SELECT *, CAST(regexp_extract(filename, '_(\\d+)\\.parquet$', 1) AS INT) AS cyc
                   FROM read_parquet([{lst}], filename = true)"""

    def final(kind, base, key, cols):
        return f"""
          WITH d AS ({drops(kind)}),
               last AS (SELECT {key}, max(cyc) AS cyc FROM d GROUP BY {key})
          SELECT {cols} FROM read_parquet('{os.path.join(in_dir, base)}') b
          WHERE b.{key} NOT IN (SELECT {key} FROM last)
          UNION ALL
          SELECT {cols} FROM d JOIN last USING ({key}, cyc)"""

    fact_cols = "l_orderkey, qty, l_returnflag, l_extendedprice"
    con.execute(f"CREATE VIEW fact AS {final('fact', 'fact0.parquet', 'l_orderkey', fact_cols)}")
    con.execute(f"CREATE VIEW corpus AS {final('docs', 'docs0.parquet', 'doc_id', 'doc_id, text')}")
    gold = """
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(qty) AS BIGINT) AS qty_tot,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
               CAST(floor(max(l_extendedprice)) AS BIGINT) AS max_price
        FROM fact GROUP BY l_orderkey"""
    index = """
        WITH post AS (
          SELECT w, doc_id, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
          GROUP BY w, doc_id),
        rn AS (
          SELECT w, doc_id, tf,
                 ROW_NUMBER() OVER (PARTITION BY w ORDER BY tf DESC, doc_id) AS rn
          FROM post)
        SELECT w AS term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
               string_agg(CASE WHEN rn <= 3 THEN doc_id || ':' || tf END, ',' ORDER BY rn) AS posting_head
        FROM rn GROUP BY w HAVING count(*) >= 2"""
    bad = []
    for name, sql in [("fact", f"SELECT {fact_cols} FROM fact"), ("gold", gold), ("index", index)]:
        try:
            got = _read_dir(os.path.join(ex["final_dir"], name))
            bad += same_table(got, con.execute(sql).fetchdf(), f"replay {name}")
        except Exception as e:
            bad.append(f"replay {name}: {e}")
    return bad


# ---- analyst_session -------------------------------------------------------

CAP = 100


def _norm(v):
    if hasattr(v, "isoformat"):
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s[:-6] if s.endswith("+00:00") else s
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, bool)):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        # the gated oracles round double sums to cents and averages to 4
        # places; the planner's SQL returns them unrounded
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.006)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _key(row):
    return tuple((0, round(float(x), 1), "") if isinstance(x, (int, float)) and not isinstance(x, bool)
                 else (1, 0.0, str(x)) for x in row)


def check_analyst(res, data_dir, answers_path):
    con = connect(data_dir)
    with open(answers_path) as f:
        answers = json.load(f)
    bad = []
    for a in answers:
        try:
            cur = con.execute(a["oracle"])
            exp = [[_norm(v) for v in r] for r in cur.fetchall()]
            cols = [d[0] for d in cur.description]
        except Exception as e:
            bad.append(f"oracle for '{a['question']}': {e}")
            continue
        got = [[_norm(v) for v in r] for r in a["rows"]]
        if sorted(cols) != sorted(a["columns"]):
            bad.append(f"'{a['question']}': columns {a['columns']} != {cols}")
            continue
        order = [cols.index(c) for c in a["columns"]]
        exp = [[r[i] for i in order] for r in exp]
        if len(exp) > CAP:
            # the guard's row cap truncates: every returned row must be an
            # oracle row, and exactly CAP of them
            pool = {}
            for e in exp:
                pool.setdefault(_key(e), []).append(e)
            ok = len(got) == CAP and all(
                any(_close(g, e) for e in pool.get(_key(g), [])) for g in got)
        else:
            ok = len(got) == len(exp) and all(
                _close(g, e) for g, e in zip(sorted(got, key=_key), sorted(exp, key=_key)))
        if not ok:
            bad.append(f"'{a['question']}': {len(got)} rows do not match the oracle's {len(exp)}")
    return bad
