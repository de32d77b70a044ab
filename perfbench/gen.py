"""Seeded, deterministic inputs for the benchmark's two workloads.

Everything here is a pure function of (workload, seed): the same seed writes
byte-identical files and the same question text. Nothing is read from
outside the output directory.

* tables   -- TPC-H-like star schema plus `events`, `documents` and
             `embeddings`, in the column layout the engine's operator
             faces expect (traced runs probe the heaviest of them)
* ingest   -- one batch of input files in five formats (CSV, TSV, JSON,
             Parquet, xlsx written here as minimal OOXML), sliced from the
             generated tables; one file is above 65,536 rows so the
             two-level chunking path runs
* ask      -- lookup files ingested during set-up, and questions in four
             classes (simple, join, multi, ground) with the DuckDB SQL of
             their expected answers, written by this module independently
             of the engine's SQL generator
"""
import json
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1 (TPC-H ratios; events scale like orders).
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
ALL_TABLES = TPCH + ["events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "valve", "pin"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = ("a the key agg row scan slow fast table value part hash merge "
             "batch spark line sort window order data column join small "
             "customer query group filter stream big index vector token "
             "shard cache plan build probe").split()

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 788_918_400 * 1_000_000      # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200 * 1_000_000    # 2024-01-01


def rng_for(seed, name):
    """An independent stream per (seed, purpose), stable across Python runs."""
    h = sum((i + 1) * ord(ch) for i, ch in enumerate(name))
    return np.random.default_rng([int(seed), h])


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def make_tables(seed, sf, names=ALL_TABLES):
    """Generate the named tables at scale factor `sf` as pyarrow tables."""
    n = {k: max(10, int(v * sf)) for k, v in BASE_ROWS.items()}
    n["documents"] = n["embeddings"] = max(100, int(50_000 * sf))
    out = {}
    if "region" in names:
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if "nation" in names:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if "customer" in names:
        r, k = rng_for(seed, "customer"), n["customer"]
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "c_acctbal": money(r, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)].tolist()})
    if "supplier" in names:
        r, k = rng_for(seed, "supplier"), n["supplier"]
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "s_acctbal": money(r, -999.99, 9999.99, k)})
    if "part" in names:
        r, k = rng_for(seed, "part"), n["part"]
        words = np.array(PART_WORDS)[r.integers(0, 8, k)]
        nouns = np.array(PART_NOUNS)[r.integers(0, 8, k)]
        out["part"] = pa.table({
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(words, nouns)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, k)].tolist(),
            "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2)})
    if "orders" in names:
        r, k = rng_for(seed, "orders"), n["orders"]
        days = r.integers(0, 2400, k)
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)].tolist(),
            "o_totalprice": money(r, 1000.0, 500000.0, k),
            "o_orderdate": pa.array(EPOCH_1995 + days * DAY_US, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)].tolist()})
    if "lineitem" in names:
        r, k = rng_for(seed, "lineitem"), n["lineitem"]
        qty = r.integers(1, 51, k).astype(np.float64)
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, k), 2),
            "l_discount": np.round(r.integers(0, 11, k) * 0.01, 2),
            "l_tax": np.round(r.integers(0, 9, k) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)].tolist(),
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)].tolist(),
            "l_shipdate": pa.array(EPOCH_1995 + r.integers(1, 2500, k) * DAY_US,
                                   pa.timestamp("us"))})
    if "events" in names:
        r, k = rng_for(seed, "events"), n["events"]
        ts = np.sort(r.integers(0, 30 * DAY_US, k))
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(EPOCH_2024 + ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 150, k), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)].tolist(),
            "value": money(r, 0.01, 490.0, k),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})
    if "documents" in names:
        r, k = rng_for(seed, "documents"), n["documents"]
        texts = []
        for i in range(k):
            if i % 10 == 9:   # every tenth document near-duplicates its neighbour
                words = texts[i - 1].split()
                words[r.integers(0, len(words))] = DOC_WORDS[r.integers(0, len(DOC_WORDS))]
                texts.append(" ".join(words))
            else:
                texts.append(" ".join(np.array(DOC_WORDS)[
                    r.integers(0, len(DOC_WORDS), r.integers(10, 90))]))
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), k)].tolist(),
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if "embeddings" in names:
        r, k = rng_for(seed, "embeddings"), n["embeddings"]
        v = r.normal(0.0, 1.0, (k, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        out["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, k), pa.int32())})
    return out


def write_tables(tables, sf_dir):
    """Write each table as <sf_dir>/<name>.parquet; return rows and bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        write_parquet(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# ---------------------------------------------------------------- file writers

def _cell(v):
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    return str(v)


def write_delimited(table, path, sep):
    cols = table.column_names
    rows = zip(*[table.column(c).to_pylist() for c in cols])
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(sep.join(cols) + "\n")
        for row in rows:
            f.write(sep.join(_cell(v) for v in row) + "\n")


def write_json_array(table, path):
    """A JSON array with one object per line (the engine reads JSON files
    whole, so the line-per-record layout must still be one document)."""
    cols = table.column_names
    rows = list(zip(*[table.column(c).to_pylist() for c in cols]))
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("[\n")
        for i, row in enumerate(rows):
            obj = {c: (float(v) if isinstance(v, float) else v)
                   for c, v in zip(cols, row)}
            f.write(json.dumps(obj, separators=(",", ":")))
            f.write(",\n" if i + 1 < len(rows) else "\n")
        f.write("]\n")


def _col_letter(i):
    s = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        s = chr(65 + rem) + s
    return s


def write_xlsx(table, path, sheet="data"):
    """Minimal OOXML workbook: one sheet, inline strings, numeric cells.
    Zip entries carry a fixed timestamp so the bytes depend only on data."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    rows = ['<row r="1">' + "".join(
        f'<c r="{_col_letter(j)}1" t="inlineStr"><is><t>{escape(c)}</t></is></c>'
        for j, c in enumerate(cols)) + "</row>"]
    for i in range(table.num_rows):
        cells = []
        for j in range(len(cols)):
            v, ref = data[j][i], f"{_col_letter(j)}{i + 2}"
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                cells.append(f'<c r="{ref}"><v>{_cell(v)}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>')
        rows.append(f'<row r="{i + 2}">' + "".join(cells) + "</row>")
    ns = "http://schemas.openxmlformats.org"
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Types xmlns="{ns}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{ns}/spreadsheetml/2006/main" xmlns:r="{ns}/officeDocument/2006/relationships">'
            f'<sheets><sheet name="{escape(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{ns}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{ns}/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{ns}/spreadsheetml/2006/main"><sheetData>'
            + "".join(rows) + "</sheetData></worksheet>",
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)


# ---------------------------------------------------------------- ingest

INGEST_SF = 0.02   # source tables the batch is sliced from


def loans_table(seed, k=1000):
    """A loan-sized sheet (1,000 rows x 16 columns), like the reference's
    workbook."""
    r = rng_for(seed, "loans")
    types = np.array(["home", "auto", "personal", "business", "student"])
    return pa.table({
        "loan_id": np.arange(k, dtype=np.int64),
        "applicant_income": r.integers(20_000, 200_000, k),
        "coapplicant_income": r.integers(0, 80_000, k),
        "credit_score": r.integers(300, 851, k),
        "loan_amount": r.integers(1_000, 500_000, k),
        "loan_term": np.array([12, 24, 36, 60, 120, 360])[r.integers(0, 6, k)],
        "interest_rate": np.round(r.uniform(2.0, 15.0, k), 2),
        "loan_type": types[r.integers(0, 5, k)].tolist(),
        "dependents": r.integers(0, 5, k),
        "employment_years": r.integers(0, 40, k),
        "debt_to_income": np.round(r.uniform(0.0, 0.6, k), 3),
        "property_value": r.integers(0, 900_000, k),
        "existing_loans": r.integers(0, 6, k),
        "region_code": [f"R{v}" for v in r.integers(1, 10, k)],
        "approved": np.array(["yes", "no"])[r.integers(0, 2, k)].tolist(),
        "risk_grade": np.array(list("ABCDE"))[r.integers(0, 5, k)].tolist()})


def ingest_batch(seed):
    """(file name, pyarrow table, format) for one seeded batch."""
    t = make_tables(seed, INGEST_SF, ["customer", "orders", "lineitem", "events"])
    r = rng_for(seed, "ingest-slices")

    def slice_of(name, rows, cols=None):
        tab = t[name]
        start = int(r.integers(0, tab.num_rows - rows + 1))
        tab = tab.slice(start, rows)
        return tab.select(cols) if cols else tab

    # narrow, so the one file above 65,536 rows does not dominate the batch
    li = slice_of("lineitem", 66_000, ["l_quantity"])
    # the first column is each table's row id, which the chunker orders by
    li = li.add_column(0, "line_id", pa.array(np.arange(li.num_rows), pa.int64()))
    return [
        ("lineitem_slice.csv", li, "csv"),
        ("orders_slice.tsv", slice_of("orders", 4_000), "tsv"),
        ("events_slice.json", slice_of("events", 2_000), "json"),
        ("customer_slice.parquet", slice_of("customer", 2_000), "parquet"),
        ("loans.xlsx", loans_table(seed), "xlsx"),
    ]


def write_input(table, path, fmt):
    if fmt == "csv":
        write_delimited(table, path, ",")
    elif fmt == "tsv":
        write_delimited(table, path, "\t")
    elif fmt == "json":
        write_json_array(table, path)
    elif fmt == "parquet":
        write_parquet(table, path)
    elif fmt == "xlsx":
        write_xlsx(table, path)
    else:
        raise ValueError(fmt)


def _plain(table):
    """Timestamps as ISO text, so every format carries the same values."""
    cols = {}
    for name in table.column_names:
        c = table.column(name)
        if pa.types.is_timestamp(c.type):
            c = pa.array([v.strftime("%Y-%m-%d %H:%M:%S") for v in c.to_pylist()])
        cols[name] = c
    return pa.table(cols)


def gen_ingest(seed, out):
    in_dir = os.path.join(out, "inputs")
    os.makedirs(in_dir, exist_ok=True)
    files, sizes = [], {}
    for name, table, fmt in ingest_batch(seed):
        path = os.path.join(in_dir, name)
        write_input(_plain(table) if fmt != "parquet" else table, path, fmt)
        files.append({"path": path, "table": name.rsplit(".", 1)[0] +
                      ("_data" if fmt == "xlsx" else ""),
                      "format": fmt, "rows": table.num_rows,
                      "bytes": os.path.getsize(path)})
        sizes[fmt] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return {"files": files, "sizes": sizes}


# ---------------------------------------------------------------- ask

ASK_SF = 0.01
COLOR_WORDS = ["AMBER", "CORAL", "INDIGO", "JASMINE", "KHAKI", "MAGENTA",
               "OCHRE", "PLUM", "SCARLET", "TEAL"]
SITE_WORDS = ["BERGEN", "DUBLIN", "HAVANA", "LISBON", "MADRAS", "NAIROBI",
              "QUEBEC", "TOLEDO"]


def lookup_tables(seed):
    """Small lookup tables ingested during `ask` set-up. Each fits in well
    under ten 1,000-character chunks, so semantic retrieval returns all of
    it and grounding depends only on the engine."""
    r = rng_for(seed, "lookups")
    colors = [f"{w}_{i}" for w in COLOR_WORDS for i in range(1, 11)]
    r.shuffle(colors)
    sites = [f"{w}_{i}" for w in SITE_WORDS for i in range(1, 11)]
    r.shuffle(sites)
    return {
        "colors": pa.table({
            "color_id": np.arange(100, dtype=np.int64),
            "color_name": colors,
            "hue": r.integers(0, 360, 100),
            "family": np.array(["warm", "cool", "neutral"])[r.integers(0, 3, 100)].tolist()}),
        "depots": pa.table({
            "depot_id": np.arange(80, dtype=np.int64),
            "site_name": sites,
            "capacity": r.integers(10, 5000, 80),
            "zone": np.array(["north", "south", "east", "west"])[r.integers(0, 4, 80)].tolist()}),
    }




def osa(a, b):
    """Optimal-string-alignment distance (adjacent transposition = 1 edit)."""
    d = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(len(a) + 1):
        d[i][0] = i
    for j in range(len(b) + 1):
        d[0][j] = j
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[len(a)][len(b)]


def typo_of(value, others, structure, r):
    """A lowercase one-edit misspelling of `value` whose nearest value is
    `value` alone and which is not one edit from a table or column name."""
    word, _, num = value.partition("_")
    low = word.lower()
    spots = [i for i in range(len(low) - 1) if low[i] != low[i + 1]]
    r.shuffle(spots)
    for i in spots:
        t = low[:i] + low[i + 1] + low[i] + low[i + 2:] + "_" + num
        if any(osa(t, s) <= 1 for s in structure):
            continue
        if all(osa(t, o.lower()) > 1 for o in others if o != value):
            return t
    return None


# Question specs. A spec names the tables, the join, the aggregate, the
# measure, the group key, the filters and an optional top-k; the question
# text, the expected SQL and the pure-Python reference answer (selftest.py)
# are all rendered from it.
JOIN_KEYS = {("orders", "customer"): ("o_custkey", "c_custkey"),
             ("lineitem", "orders"): ("l_orderkey", "o_orderkey"),
             ("supplier", "nation"): ("s_nationkey", "n_nationkey"),
             ("lineitem", "part"): ("l_partkey", "p_partkey")}


def _date(r):
    return f"{int(r.integers(1995, 2001))}-{int(r.integers(1, 13)):02d}-01"


def simple_spec(r, kind):
    if kind == 0:
        t = int(r.integers(1, 100)) * 5000
        return dict(text=f"how many orders with totalprice over {t}",
                    tables=["orders"], agg="COUNT", measure=None, group=None,
                    filters=[("o_totalprice", ">", t)])
    if kind == 1:
        t = int(r.integers(0, 9000))
        return dict(text=f"average acctbal per mktsegment for customer with acctbal over {t}",
                    tables=["customer"], agg="AVG", measure="c_acctbal",
                    group="c_mktsegment", filters=[("c_acctbal", ">", t)])
    if kind == 2:
        d = _date(r)
        return dict(text=f"total quantity per returnflag for lineitem with shipdate after {d}",
                    tables=["lineitem"], agg="SUM", measure="l_quantity",
                    group="l_returnflag", filters=[("l_shipdate", ">", ("date", d))])
    if kind == 3:
        q = int(r.integers(1, 50))
        return dict(text=f"max extendedprice per linestatus for lineitem with quantity over {q}",
                    tables=["lineitem"], agg="MAX", measure="l_extendedprice",
                    group="l_linestatus", filters=[("l_quantity", ">", q)])
    if kind == 4:
        q = int(r.integers(1, 50))
        return dict(text=f"count lineitem per returnflag with quantity at most {q}",
                    tables=["lineitem"], agg="COUNT", measure=None,
                    group="l_returnflag", filters=[("l_quantity", "<=", q)])
    if kind == 5:
        k = int(r.integers(3, 11))
        t = int(r.integers(1, 50)) * 10000
        return dict(text=f"total totalprice per custkey for orders with totalprice over {t} top {k}",
                    tables=["orders"], agg="SUM", measure="o_totalprice",
                    group="o_custkey", filters=[("o_totalprice", ">", t)], topk=k)
    if kind == 6:
        a = int(r.integers(1, 40))
        b = a + int(r.integers(1, 11))
        return dict(text=f"minimum retailprice per size for part with size between {a} and {b}",
                    tables=["part"], agg="MIN", measure="p_retailprice",
                    group="p_size", filters=[("p_size", "BETWEEN", (a, b))])
    p = int(r.integers(900, 1000))
    return dict(text=f"how many part per type with retailprice over {p}",
                tables=["part"], agg="COUNT", measure=None, group="p_type",
                filters=[("p_retailprice", ">", p)])


def join_spec(r, kind):
    if kind == 0:
        t = int(r.integers(0, 9000))
        return dict(text=f"total totalprice per mktsegment for orders and customer with acctbal over {t}",
                    tables=["orders", "customer"], agg="SUM", measure="o_totalprice",
                    group="c_mktsegment", filters=[("c_acctbal", ">", t)])
    if kind == 1:
        t = int(r.integers(1, 100)) * 5000
        return dict(text=f"average quantity per returnflag for lineitem and orders with totalprice over {t}",
                    tables=["lineitem", "orders"], agg="AVG", measure="l_quantity",
                    group="l_returnflag", filters=[("o_totalprice", ">", t)])
    if kind == 2:
        t = int(r.integers(0, 9000))
        return dict(text=f"total acctbal per regionkey for supplier and nation with acctbal over {t}",
                    tables=["supplier", "nation"], agg="SUM", measure="s_acctbal",
                    group="n_regionkey", filters=[("s_acctbal", ">", t)])
    if kind == 3:
        s = int(r.integers(2, 50))
        return dict(text=f"how many lineitem per brand for lineitem and part with size under {s}",
                    tables=["lineitem", "part"], agg="COUNT", measure=None,
                    group="p_brand", filters=[("p_size", "<", s)])
    t = int(r.integers(0, 9000))
    return dict(text=f"average totalprice per orderpriority for orders and customer with acctbal under {t}",
                tables=["orders", "customer"], agg="AVG", measure="o_totalprice",
                group="o_orderpriority", filters=[("c_acctbal", "<", t)])


SIMPLE_KINDS, JOIN_KINDS = 8, 5


def _lit(v):
    if isinstance(v, tuple) and v[0] == "date":
        return f"DATE '{v[1]}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def spec_sql(spec):
    """The expected answer's DuckDB SQL, written from the spec."""
    tables = spec["tables"]
    frm = tables[0]
    if len(tables) == 2:
        a, b = tables
        ka, kb = JOIN_KEYS[(a, b)]
        frm = f"{a} JOIN {b} ON {a}.{ka} = {b}.{kb}"
    preds = []
    for col, op, v in spec["filters"]:
        if op == "BETWEEN":
            preds.append(f"{col} BETWEEN {v[0]} AND {v[1]}")
        else:
            preds.append(f"{col} {op} {_lit(v)}")
    where = (" WHERE " + " AND ".join(preds)) if preds else ""
    if spec.get("select_star"):
        return f"SELECT * FROM {frm}{where}"
    agg = "count(*)" if spec["agg"] == "COUNT" else f"{spec['agg']}({spec['measure']})"
    g = spec["group"]
    if g is None:
        return f"SELECT {agg} FROM {frm}{where}"
    order = f" ORDER BY {g}"
    if spec.get("topk"):
        order = f" ORDER BY 2 DESC, {g} ASC LIMIT {spec['topk']}"
    return f"SELECT {g}, {agg} FROM {frm}{where} GROUP BY {g}{order}"


def answer_shape(spec):
    """How to compare a result: tolerance on double SUM/AVG columns only,
    and row order only where a top-k fixes it."""
    tol = spec["agg"] in ("SUM", "AVG") and not spec.get("select_star")
    n_cols = 1 if spec["group"] is None else 2
    return {"sql": spec_sql(spec), "ordered": bool(spec.get("topk")),
            "tol_cols": [n_cols - 1] if tol else []}


def ground_specs(seed, r):
    """Every groundable (question, spec) for the lookup tables, shuffled."""
    look = lookup_tables(seed)
    structure = set()
    for name, t in look.items():
        structure |= {name, name.rstrip("s"), name + "s"}
        for c in t.column_names:
            structure |= {c} | set(c.split("_"))
    for name, t in make_tables(seed, 0.0001, TPCH).items():
        structure |= {name, name + "s"}
        for c in t.column_names:
            structure |= {c} | set(c.split("_"))
    out = []
    for name, col in (("colors", "color_name"), ("depots", "site_name")):
        t = look[name]
        strings = [v for c in t.column_names if pa.types.is_string(t.column(c).type)
                   for v in t.column(c).to_pylist()]
        for value in t.column(col).to_pylist():
            typo = typo_of(value, strings, structure, r)
            if typo:
                out.append(dict(text=f"{name} like {typo}", tables=[name],
                                agg=None, measure=None, group=None,
                                filters=[(col, "=", value)], select_star=True,
                                collection=name))
    r.shuffle(out)
    return out


CLASSES = ["simple", "join", "multi", "ground"]


def gen_questions(seed, rounds):
    """Warm-up questions, one per template (class "warm", untimed, so every
    timed question runs an already-compiled plan shape), then `rounds`
    rounds of four timed questions, one per class. Round i uses the same
    templates and class order for every seed, so runs with different seeds
    time the same mix; the seed draws the parameters, the typos and the
    data. No question text repeats within a seed."""
    r = rng_for(seed, "questions")
    seen, qs = set(), []
    grounds = {t: [g for g in ground_specs(seed, r) if g["collection"] == t]
               for t in ("colors", "depots")}

    def fresh(make, kind):
        for _ in range(1000):
            spec = make(r, kind)
            if spec["text"] not in seen:
                seen.add(spec["text"])
                return spec
        raise RuntimeError("question space exhausted")

    def add(cls, subs):
        qs.append({"id": len(qs), "cls": cls,
                   "text": "; ".join(s["text"] for s in subs),
                   "collection": subs[0].get("collection"),
                   "subs": subs})

    for k in range(SIMPLE_KINDS):
        add("warm", [fresh(simple_spec, k)])
    for k in range(JOIN_KINDS):
        add("warm", [fresh(join_spec, k)])
    for t in sorted(grounds):
        add("warm", [grounds[t].pop()])
    for i in range(rounds):
        for cls in CLASSES[i % 4:] + CLASSES[:i % 4]:
            if cls == "simple":
                add(cls, [fresh(simple_spec, i % SIMPLE_KINDS)])
            elif cls == "join":
                add(cls, [fresh(join_spec, i % JOIN_KINDS)])
            elif cls == "multi":
                add(cls, [fresh(simple_spec, (i + 3) % SIMPLE_KINDS),
                          fresh(join_spec, (i + 2) % JOIN_KINDS),
                          fresh(simple_spec, (i + 5) % SIMPLE_KINDS)])
            else:
                add(cls, [grounds[sorted(grounds)[i % 2]].pop()])
    return qs


def gen_ask(seed, out, rounds=30):
    sf_dir = os.path.join(out, "tables")
    sizes = write_tables(make_tables(seed, ASK_SF, TPCH), sf_dir)
    in_dir = os.path.join(out, "inputs")
    os.makedirs(in_dir, exist_ok=True)
    lookups = []
    for name, t in lookup_tables(seed).items():
        # ingested during set-up; the checker's copy sits with the tables
        path = os.path.join(in_dir, f"{name}.parquet")
        write_parquet(t, path)
        sizes.update(write_tables({name: t}, sf_dir))
        lookups.append(path)
    qs = gen_questions(seed, rounds)
    # the engine sees only the question text; expected answers stay here
    with open(os.path.join(out, "questions.json"), "w") as f:
        json.dump([{k: q[k] for k in ("id", "cls", "text", "collection")}
                   for q in qs], f, indent=0)
    expected = [{"id": q["id"], "cls": q["cls"],
                 "subs": [answer_shape(s) for s in q["subs"]]} for q in qs]
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=0)
    return {"sf_dir": sf_dir, "lookups": lookups, "tables": TPCH,
            "questions": len(qs), "sizes": sizes}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return their description."""
    os.makedirs(out, exist_ok=True)
    if workload == "ingest":
        spec = gen_ingest(seed, out)
    elif workload == "ask":
        spec = gen_ask(seed, out)
    else:
        raise ValueError(f"unknown workload {workload}")
    spec["workload"], spec["seed"] = workload, seed
    return spec
