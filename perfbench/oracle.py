"""Check the curate_iterative outputs against DuckDB.

For every query the harness leaves `<query>.jsonl` (the rows the engine
returned, one JSON object per row) and `<query>.sql` (the query's DuckDB
oracle SQL from the engine's catalog) under the outputs directory. Each
oracle runs in DuckDB over the same parquet tables and the two row sets
must agree, floats to a relative 1e-9.

The connected-components oracles spell the closure as a recursive
reachability CTE, which DuckDB evaluates in minutes. Here that CTE is
replaced by a union-find over the oracle's own edge relation: every
document's label is the minimum doc_id of its component, which is the
definition the recursive form computes. The rest of the oracle (cluster
sizes, canonical picks, curation gates) runs unchanged on those labels.
"""

import glob
import json
import math
import os
import re

import duckdb

CLOSURE = re.compile(
    r"reach\(id, r\) AS \(\s*SELECT doc_id, doc_id FROM documents\s*UNION\s*"
    r"SELECT reach\.id, e\.b FROM reach JOIN edges e ON reach\.r = e\.a\),\s*"
    r"lab AS \(SELECT id AS doc_id, MIN\(r\) AS cluster_id FROM reach GROUP BY id\)")


def union_find_labels(con, sql, memo):
    """Rewrite a closure oracle to read its labels from a union-find.
    `memo` keeps the labels of edge relations already solved: several
    oracles share one."""
    m = CLOSURE.search(sql)
    if not m:
        return sql
    ctes = sql[:m.start()].rstrip().rstrip(",")
    if ctes not in memo:
        memo[ctes] = components(con, ctes)
    values = ", ".join(f"({n}, {c})" for n, c in memo[ctes])
    con.execute("CREATE OR REPLACE TABLE lab_uf AS SELECT doc_id::BIGINT AS doc_id, "
                f"cluster_id::BIGINT AS cluster_id FROM (VALUES {values}) t(doc_id, cluster_id)")
    return sql[:m.start()] + "lab AS (SELECT doc_id, cluster_id FROM lab_uf)" + sql[m.end():]


def components(con, ctes):
    """(doc_id, min doc_id of its component) over the `edges` CTE."""
    nodes = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
    edges = con.execute(ctes + "\nSELECT a, b FROM edges").fetchall()
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in nodes]


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def norm_key(row, cols):
    return tuple(json.dumps(row[c], sort_keys=True, default=str) if not isinstance(row[c], float)
                 else round(row[c], 6) for c in cols)


def compare(name, got, want_cols, want_rows):
    want = [dict(zip(want_cols, r)) for r in want_rows]
    for w in want:
        for k, v in w.items():
            if isinstance(v, tuple):
                w[k] = list(v)
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    if got and set(got[0]) != set(want_cols):
        return [f"{name}: columns {sorted(got[0])} vs oracle {sorted(want_cols)}"]
    cols = sorted(want_cols)
    g = sorted(got, key=lambda r: norm_key(r, cols))
    w = sorted(want, key=lambda r: norm_key(r, cols))
    for i, (x, y) in enumerate(zip(g, w)):
        for c in cols:
            if not same(x.get(c), y.get(c)):
                return [f"{name}: row {i} column {c}: engine {x.get(c)!r} oracle {y.get(c)!r}"]
    return []


def check(tables, outputs):
    errors = []
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    memo = {}
    sqls = sorted(glob.glob(os.path.join(outputs, "*.sql")))
    if not sqls:
        return ["curate_iterative: no query outputs to check"]
    for path in sqls:
        name = os.path.basename(path)[:-4]
        with open(path) as fh:
            sql = union_find_labels(con, fh.read(), memo)
        if "WITH RECURSIVE" in sql and "lab_uf" not in sql:
            errors.append(f"{name}: recursive oracle without the expected closure; not run")
            continue
        with open(os.path.join(outputs, name + ".jsonl")) as fh:
            got = [json.loads(l) for l in fh if l.strip()]
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        errors += compare(name, got, cols, cur.fetchall())
    return errors
