#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py          # fast: no JVM
    python3 perfbench/selftest.py --live   # also runs each workload briefly

Checks that the same seed gives byte-identical inputs and question text,
that every question template's expected SQL agrees with an answer computed
by hand (plain Python over the rows) at sf0.001, that a wrong answer or an
error frame is counted as failed, and (--live) that a real run prints
exactly the metric names BENCHMARK.json lists.
"""
import datetime
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)


def digest(d):
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp):
    for w in ("ingest", "ask"):
        a, b, c = (os.path.join(tmp, f"{w}-{i}") for i in "abc")
        gen.generate(w, 5, a)
        gen.generate(w, 5, b)
        gen.generate(w, 6, c)
        assert digest(a) == digest(b), f"{w}: same seed, different bytes"
        assert digest(a) != digest(c), f"{w}: different seeds, same bytes"
    q1 = [q["text"] for q in gen.gen_questions(5, 20)]
    assert q1 == [q["text"] for q in gen.gen_questions(5, 20)]
    assert len(set(q1)) == len(q1), "a question repeats within a seed"


def _hand(spec, tables):
    """The spec's answer computed row by row, without SQL."""
    rows = tables[spec["tables"][0]]
    if len(spec["tables"]) == 2:
        a, b = spec["tables"]
        ka, kb = gen.JOIN_KEYS[(a, b)]
        index = {}
        for r in tables[b]:
            index.setdefault(r[kb], []).append(r)
        rows = [dict(x, **y) for x in rows for y in index.get(x[ka], [])]

    def keep(r):
        for col, op, v in spec["filters"]:
            x = r[col]
            if isinstance(v, tuple) and v[0] == "date":
                v = datetime.datetime.fromisoformat(v[1])
            if op == "BETWEEN":
                ok = v[0] <= x <= v[1]
            else:
                ok = {">": x > v, "<": x < v, ">=": x >= v, "<=": x <= v, "=": x == v}[op]
            if not ok:
                return False
        return True

    rows = [r for r in rows if keep(r)]
    if spec.get("select_star"):
        return [list(r.values()) for r in rows]

    def agg(rs):
        if spec["agg"] == "COUNT":
            return len(rs)
        vals = [r[spec["measure"]] for r in rs]
        return {"SUM": sum(vals), "AVG": sum(vals) / len(vals),
                "MAX": max(vals), "MIN": min(vals)}[spec["agg"]]

    if spec["group"] is None:
        return [[agg(rows)]]
    groups = {}
    for r in rows:
        groups.setdefault(r[spec["group"]], []).append(r)
    out = [[k, agg(v)] for k, v in groups.items()]
    if spec.get("topk"):
        out.sort(key=lambda kv: (-kv[1], kv[0]))
        out = out[:spec["topk"]]
    return out


def test_templates_match_hand_answers(tmp):
    sf_dir = os.path.join(tmp, "sf0001")
    tables = gen.make_tables(3, 0.001, gen.TPCH)
    tables.update(gen.lookup_tables(3))
    gen.write_tables(tables, sf_dir)
    con = duckdb.connect()
    check._views(con, sf_dir)
    pyrows = {n: t.to_pylist() for n, t in tables.items()}
    r = gen.rng_for(3, "selftest")
    specs = [gen.simple_spec(r, k) for k in range(gen.SIMPLE_KINDS) for _ in range(3)]
    specs += [gen.join_spec(r, k) for k in range(gen.JOIN_KINDS) for _ in range(3)]
    specs += gen.ground_specs(3, r)[:5]
    for spec in specs:
        shape = gen.answer_shape(spec)
        got = [[check._plain(v) for v in row] for row in con.execute(shape["sql"]).fetchall()]
        want = _hand(spec, pyrows)
        assert check.rows_match(got, want, shape["ordered"], shape["tol_cols"]), \
            f"{spec['text']}: SQL {got[:3]} vs hand {want[:3]}"


def test_wrong_answer_fails(tmp):
    data = os.path.join(tmp, "ask")
    gen.gen_ask(4, data, rounds=2)
    expected = json.load(open(os.path.join(data, "expected.json")))
    con = duckdb.connect()
    check._views(con, os.path.join(data, "tables"))
    answers = [{"id": e["id"], "subs": [
        {"rows": [[check._plain(v) for v in row] for row in con.execute(s["sql"]).fetchall()]}
        for s in e["subs"]]} for e in expected]
    result = {"ops": [{"id": str(e["id"])} for e in expected], "answers": answers}
    assert check.check_ask(tmp, result, data) == [], "a correct answer was counted as failed"
    sub = answers[0]["subs"][0]
    sub["rows"] = sub["rows"][1:] or [[-1]]
    answers[1]["subs"][-1]["error"] = "AnalysisException"
    assert check.check_ask(tmp, result, data) == ["0", "1"], \
        "a wrong answer or an error frame was not counted as failed"
    assert not check.rows_match([[1.0]], [[1.0 + 1e-6]], False, [0])
    assert check.rows_match([[1.0]], [[1.0 + 1e-12]], False, [0])
    assert not check.rows_match([[1.0]], [[1.0 + 1e-12]], False, [])


def test_live_metric_names():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "1", "--seconds", "6", "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, check=True).stdout
            res = json.loads(out.strip().splitlines()[-1])
            names = sorted(res["metrics"])
            assert names == sorted(m["name"] for m in bench[key]), f"{w}/{trace}: {names}"
            assert res["correct"] and res["failed"] == 0, f"{w}/{trace}: {res}"


def main():
    work = os.path.join(ROOT, ".bench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        test_same_seed_same_bytes(tmp)
        test_templates_match_hand_answers(tmp)
        test_wrong_answer_fails(tmp)
        if "--live" in sys.argv:
            test_live_metric_names()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest: ok")


if __name__ == "__main__":
    main()
