"""Correctness checks, run with DuckDB after the engine's process has exited
(outside every timed region). Each returns the ids of failed operations;
an operation counts as failed if any part of its answer is wrong."""
import glob
import json
import os
import sys

import duckdb


def _views(con, sf_dir):
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


def _close(a, b, tol):
    if a is None or b is None:
        return a is None and b is None
    if tol and isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(float(a) - float(b)) <= 1e-9 * max(1.0, abs(float(b)))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return str(a) == str(b)


def rows_match(got, want, ordered, tol_cols):
    """Rows as lists; tolerance only on the named (double aggregate) columns,
    order only where the question fixes it (top-k)."""
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: [str(v) for v in r]
        got, want = sorted(got, key=key), sorted(want, key=key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        if not all(_close(a, b, i in tol_cols) for i, (a, b) in enumerate(zip(g, w))):
            return False
    return True


def _plain(v):
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    if hasattr(v, "__float__") and not isinstance(v, (int, float, bool)):
        return float(v)
    return v


def check_ask(work, result, data):
    con = duckdb.connect()
    _views(con, os.path.join(data, "tables"))
    expected = {e["id"]: e for e in json.load(open(os.path.join(data, "expected.json")))}
    answers = {int(a["id"]): a["subs"] for a in result["answers"]}
    failed = []
    for op in result["ops"]:
        qid = int(op["id"])
        subs, want = answers.get(qid), expected[qid]["subs"]
        ok = subs is not None and len(subs) == len(want)
        for s, w in zip(subs or [], want):
            if not ok:
                break
            if "error" in s:
                ok = False
                break
            rows = [[_plain(v) for v in r] for r in con.execute(w["sql"]).fetchall()]
            ok = rows_match(s["rows"], rows, w["ordered"], w["tol_cols"])
        if not ok:
            failed.append(op["id"])
    return failed


def check_ingest(work, result, data):
    con = duckdb.connect()
    files = json.load(open(os.path.join(data, "ingest.json")))["files"]
    failed = []
    for op in result["ops"]:
        d = op["dir"]
        try:
            catalog = json.load(open(os.path.join(d, "catalog.json")))
            counts = {e["structured_metadata"]["table_name"]: e["structured_metadata"]["row_count"]
                      for e in catalog["catalog"]}
            ok = catalog["success"] and catalog["failed_files"] == []
            for f in files:
                t, rows = f["table"], f["rows"]
                pq = os.path.join(d, "parquet_files", f"{t}.parquet", "*.parquet")
                coll = os.path.join(d, "collections", f"data_source_{t}.parquet", "*.parquet")
                n = con.execute(f"SELECT count(*) FROM read_parquet('{pq}')").fetchone()[0]
                first = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{pq}')").fetchone()[0]
                # every row's order key appears in exactly one chunk, once
                cover = con.execute(f"""
                    WITH idx AS (SELECT unnest(row_indices) AS i FROM read_parquet('{coll}')),
                         src AS (SELECT "{first}" AS i FROM read_parquet('{pq}'))
                    SELECT (SELECT count(*) FROM idx), (SELECT count(DISTINCT i) FROM idx),
                           (SELECT count(*) FROM (SELECT i FROM src EXCEPT SELECT i FROM idx)),
                           (SELECT count(*) FROM (SELECT i FROM idx EXCEPT SELECT i FROM src))
                    """).fetchone()
                ok = ok and n == rows and counts.get(t) == rows and \
                    cover == (rows, rows, 0, 0)
        except (OSError, KeyError, ValueError, duckdb.Error) as e:
            print(f"[check] {op['id']}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            failed.append(op["id"])
    return failed


CHECKS = {"ingest": check_ingest, "ask": check_ask}
