"""Output checks, computed in DuckDB apart from the program.

Subset checks read the source catalog and the written Parquet; analytics
checks match each key's written result against its oracle SQL, both in
canonical form. Subset checks return a list of failure messages (empty when
they pass); the analytics match returns a message or None.
"""
import math
import os
import re
import shutil

import duckdb
import numpy as np


def connect():
    # DuckDB 1.0's parallel window path can return wrong running sums at
    # high thread counts; four threads stay clear of it
    return duckdb.connect(config={"threads": 4})


def _parquet(path):
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def bind(con, src_dir, out_dir, tables):
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW src_{t} AS SELECT * FROM "
                    f"'{_parquet(os.path.join(src_dir, t + '.parquet'))}'")
        con.execute(f"CREATE OR REPLACE VIEW out_{t} AS SELECT * FROM "
                    f"'{_parquet(os.path.join(out_dir, t + '.parquet'))}'")


def _count(con, sql):
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def _same_rows(con, a, b):
    """Rows of `a` and `b` agree as multisets."""
    return _count(con, f"({a}) EXCEPT ALL ({b})") == 0 and \
        _count(con, f"({b}) EXCEPT ALL ({a})") == 0


def broken_columns(cfg):
    """FK columns nulled to break a cycle, by table."""
    out = {}
    for b in cfg.get("dependency_breaks", []):
        if b.get("perserve_fk_opportunistically"):
            continue
        for fk in cfg["fk_augmentation"]:
            if fk["fk_table"] == b["fk_table"] and fk["target_table"] == b["target_table"]:
                out.setdefault(fk["fk_table"], []).extend(fk["fk_columns"])
    return out


def orphans(con, fk, views=None):
    """Child rows whose non-NULL reference has no parent row; `views`
    replaces a table's output view by name."""
    views = views or {}
    c = views.get(fk["fk_table"], f"out_{fk['fk_table']}")
    p = views.get(fk["target_table"], f"out_{fk['target_table']}")
    notnull = " AND ".join(f"c.{x} IS NOT NULL" for x in fk["fk_columns"])
    match = " AND ".join(f"p.{y} = c.{x}"
                         for x, y in zip(fk["fk_columns"], fk["target_columns"]))
    return _count(con, f"SELECT 1 FROM {c} c WHERE {notnull} AND NOT EXISTS "
                       f"(SELECT 1 FROM {p} p WHERE {match})")


def closure(con, cfg, views=None):
    fails = []
    nulled = broken_columns(cfg)
    for fk in cfg["fk_augmentation"]:
        if set(fk["fk_columns"]) <= set(nulled.get(fk["fk_table"], [])):
            continue
        n = orphans(con, fk, views)
        if n:
            fails.append(f"closure: {n} {fk['fk_table']} rows reference missing "
                         f"{fk['target_table']} rows")
    for t, cols in nulled.items():
        n = _count(con, f"SELECT 1 FROM out_{t} WHERE " +
                   " OR ".join(f"{c} IS NOT NULL" for c in cols))
        if n:
            fails.append(f"cycle break: {n} {t} rows keep a broken reference")
    return fails


def parse_report(stdout):
    """The printed report's rows: table -> (source, dest)."""
    rows = {}
    for line in stdout.splitlines():
        m = re.match(r"^(\S+)\s+(\d+)\s+(\d+)\s+\d+\.\d{4}$", line.strip())
        if m:
            rows[m.group(1)] = (int(m.group(2)), int(m.group(3)))
    return rows


def subset(con, cfg, keys, stdout, closure_sql=None):
    """Every subset check of one run; `keys` maps table -> key columns."""
    tables = sorted(keys)
    fails = closure(con, cfg)
    for t in tables:
        k = ", ".join(keys[t])
        n = _count(con, f"SELECT {k} FROM out_{t} EXCEPT SELECT {k} FROM src_{t}")
        if n:
            fails.append(f"subset: {n} {t} keys are not in the source")
    for tgt in cfg["initial_targets"]:
        t = tgt["table"]
        if not _same_rows(con, f"SELECT * FROM src_{t} WHERE {tgt['where']}",
                          f"SELECT * FROM out_{t}"):
            fails.append(f"target: {t} differs from its predicate's result")
    nulled = broken_columns(cfg)
    connected = {fk[s] for fk in cfg["fk_augmentation"] for s in ("fk_table", "target_table")}
    copied = set(cfg.get("passthrough_tables", []))
    if cfg.get("keep_disconnected_tables"):
        copied |= {t for t in tables if t not in connected}
    for t in sorted(copied):
        if t not in nulled and not _same_rows(con, f"SELECT * FROM src_{t}",
                                              f"SELECT * FROM out_{t}"):
            fails.append(f"copy: {t} differs from its source")
    report = parse_report(stdout)
    for t in tables:
        want = (_count(con, f"SELECT 1 FROM src_{t}"), _count(con, f"SELECT 1 FROM out_{t}"))
        if report.get(t) != want:
            fails.append(f"report: {t} printed {report.get(t)}, DuckDB counts {want}")
    for t, sql in (closure_sql or {}).items():
        if not _same_rows(con, sql, f"SELECT * FROM out_{t}"):
            fails.append(f"closure SQL: {t} differs from the derived closure")
    return fails


def star_closure_sql(cfg):
    """Each star table's expected output, derived from the config in the
    shape of `SubsetQueries.oracles`: target, upstream semi-join with the
    upstream filter, downstream closure, passthrough."""
    where = cfg["initial_targets"][0]["where"]
    cond = cfg["upstream_filters"][0]["condition"]
    cte = (f"WITH ord AS (SELECT * FROM src_orders WHERE {where}), "
           f"li AS (SELECT * FROM src_lineitem WHERE l_orderkey IN "
           f"(SELECT o_orderkey FROM ord) AND {cond}), "
           "cust AS (SELECT * FROM src_customer WHERE c_custkey IN (SELECT o_custkey FROM ord)), "
           "supp AS (SELECT * FROM src_supplier WHERE s_suppkey IN (SELECT l_suppkey FROM li)), "
           "prt AS (SELECT * FROM src_part WHERE p_partkey IN (SELECT l_partkey FROM li)), "
           "nat AS (SELECT * FROM src_nation WHERE n_nationkey IN "
           "(SELECT c_nationkey FROM cust UNION SELECT s_nationkey FROM supp)) ")
    rel = {"orders": "ord", "lineitem": "li", "customer": "cust", "supplier": "supp",
           "part": "prt", "nation": "nat"}
    out = {t: cte + f"SELECT * FROM {r}" for t, r in rel.items()}
    out["region"] = "SELECT * FROM src_region"
    return out


def _literal(v):
    return str(v) if isinstance(v, (int, float)) else "'" + str(v).replace("'", "''") + "'"


def planted_orphan(con, cfg, fault_dir):
    """Self-test: copy the parent table of the first FK edge with a non-NULL
    child reference, delete the referenced parent rows, and return the
    closure failures seen against the copy (must be non-empty)."""
    nulled = broken_columns(cfg)
    for fk in cfg["fk_augmentation"]:
        cols = fk["fk_columns"]
        if set(cols) <= set(nulled.get(fk["fk_table"], [])):
            continue
        row = con.execute(f"SELECT {', '.join(cols)} FROM out_{fk['fk_table']} WHERE " +
                          " AND ".join(f"{c} IS NOT NULL" for c in cols) +
                          " LIMIT 1").fetchone()
        if row is None:
            continue
        parent = fk["target_table"]
        shutil.rmtree(fault_dir, ignore_errors=True)
        os.makedirs(fault_dir)
        drop = " AND ".join(f"{y} = {_literal(v)}" for y, v in zip(fk["target_columns"], row))
        path = os.path.join(fault_dir, f"{parent}.parquet")
        con.execute(f"COPY (SELECT * FROM out_{parent} WHERE NOT ({drop})) "
                    f"TO '{path}' (FORMAT parquet)")
        con.execute(f"CREATE OR REPLACE VIEW fault_{parent} AS SELECT * FROM '{path}'")
        return closure(con, {**cfg, "fk_augmentation": [fk]}, {parent: f"fault_{parent}"})
    return []


# ---- analytics -----------------------------------------------------------

def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canon(df):
    """Columns sorted by name, cells rendered per column dtype, rows sorted
    (the canonical form `scripts/check_oracles.py` compares)."""
    cols = sorted(df.columns, key=str.lower)
    rows = ["\t".join(_cell(v) for v in row) for row in zip(*(df[c] for c in cols))]
    return [c.lower() for c in cols], sorted(rows)


def bind_catalog(con, data_dir):
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE OR REPLACE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{_parquet(os.path.join(data_dir, f))}'")


def analytics_key(con, sql, spark_df):
    """None when the Spark result matches the oracle, else a message."""
    try:
        oracle = con.execute(sql).df()
    except Exception as e:  # noqa: BLE001 - any oracle error is a mismatch
        return f"oracle failed: {e}"
    a, b = canon(spark_df), canon(oracle)
    if a[0] != b[0]:
        return f"columns {a[0]} vs oracle {b[0]}"
    if a[1] != b[1]:
        return f"{len(a[1])} rows vs oracle {len(b[1])} rows, contents differ"
    return None


def altered(df):
    """A copy of `df` with one cell of its first row changed."""
    out = df.copy()
    c = out.columns[0]
    v = out.at[0, c]
    out[c] = out[c].astype(object)
    out.at[0, c] = (v + 1) if isinstance(v, (int, float, np.number)) else f"{v}~"
    return out

