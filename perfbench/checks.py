"""Output checks made after timing.

Oracle queries are compared with DuckDB on the same input by the rules of
tools/check.py (rows, column names, values with columns sorted by name).
The dedup queries without an oracle get known answers from the corpus
generator: replica i of original X has id X*R+i, and every odd replica is an
exact copy of replica 0, so each must land in replica 0's cluster.
"""
import importlib.util
import os

import duckdb


def _check_rules(root):
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _same_cluster(con, path, id_col, canon_col, r):
    """(ok, detail): every odd replica (an exact copy) shares replica 0's cluster."""
    q = f"""
      WITH o AS (SELECT {id_col} AS id, {canon_col} AS canon FROM read_parquet('{path}/*.parquet'))
      SELECT count(*) AS n, count(*) FILTER (WHERE a.canon <> b.canon) AS bad
      FROM o a JOIN o b ON b.id = a.id - a.id % {r}
      WHERE a.id % {r} % 2 = 1"""
    n, bad = con.execute(q).fetchone()
    return n > 0 and bad == 0, f"{n} exact copies checked, {bad} outside replica 0's cluster"


def _known_answer(con, name, path, r):
    """(ok, detail) for the dedup queries the generator gives answers for."""
    if name == "q_dedup_lsh_cluster":
        return _same_cluster(con, path, "doc_id", "canon_id", r)
    if name == "q_dedup_semantic":
        return _same_cluster(con, path, "vec_id", "canonical_id", r)
    return None


def run(res, root):
    """Checks every output the JVM dumped; returns [{name, ok, detail}]."""
    dump = res["dump"]
    written = {q["name"] for q in dump["queries"]}
    out = [{"name": q, "ok": False, "detail": "output not written (the query failed)"}
           for q in res["params"].get("queries", []) if q not in written]
    if not written:
        return out
    rules = _check_rules(root)
    con = duckdb.connect()
    for t in rules.TABLES:
        f = os.path.join(dump["data"], f"{t}.parquet")
        if os.path.exists(f):
            src = f"{f}/*.parquet" if os.path.isdir(f) else f
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    for q in dump["queries"]:
        name, sql = q["name"], q["oracle"]
        path = os.path.join(dump["dir"], name)
        try:
            rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            bad = rules.nested_cols(rel)
            s_cols, s_rows = list(rel.columns), rel.fetchall()
            if bad:
                out.append({"name": name, "ok": False, "detail": f"nested output columns {bad}"})
                continue
            if not sql:
                known = _known_answer(con, name, path, res["params"].get("replicas", 0))
                ok, detail = known if known else (len(s_rows) > 0, f"{len(s_rows)} rows (no oracle)")
                out.append({"name": name, "ok": ok and len(s_rows) > 0, "detail": detail})
                continue
            d_rel = con.sql(sql)
            d_cols, d_rows = list(d_rel.columns), d_rel.fetchall()
        except Exception as e:  # a failing query or oracle fails its check
            out.append({"name": name, "ok": False, "detail": f"{type(e).__name__}: {e}"})
            continue
        ok = sorted(s_cols) == sorted(d_cols) and len(s_rows) == len(d_rows)
        if ok:
            si = [s_cols.index(c) for c in sorted(s_cols)]
            di = [d_cols.index(c) for c in sorted(d_cols)]
            ok = ([tuple(rules.norm(r[i]) for i in si) for r in s_rows]
                  == [tuple(rules.norm(r[i]) for i in di) for r in d_rows])
        out.append({"name": name, "ok": ok,
                    "detail": f"{len(s_rows)} rows vs DuckDB {len(d_rows)}"
                              + ("" if ok else f"; columns {sorted(s_cols)} vs {sorted(d_cols)}")})
    return out

