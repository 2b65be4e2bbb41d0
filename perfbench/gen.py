"""Seeded input generator for the graft benchmark.

    python3 perfbench/gen.py --seed 7 --out .bench_build/inputs/seed-7

Writes, under the output directory:

  tables/<name>.parquet   the ten tables `graft.Tables.registerAll` reads
                          (a TPC-H-like star schema, an event stream, a
                          text corpus and an embedding table), small
                          enough that every operator runs in well under a
                          second, shaped like the sf0.01 test data;
  services.xlsx           an excel_to_db-style workbook (one sheet,
                          header row, strings in a shared-strings part,
                          as Excel writes them);
  services.parquet        the same rows as a parquet file, for DuckDB;
  totals.json             the generator's own per-column totals of the
                          workbook, computed here in Python, used to
                          check the workbook load.

The same seed always gives byte-identical inputs. A finished directory
carries a `done` marker, so a second call with the same seed returns at
once (`ensure`). Standard library, numpy and pyarrow only.
"""

import argparse
import json
import os
import shutil
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. They are part of the benchmark's definition (README,
# "Inputs"); changing one changes every figure the benchmark reports.
WORKBOOK_ROWS = 20_000
DOCS = 500
NEAR_DUPS = 30     # documents that copy an original with two words replaced
EXACT_COPIES = 5   # documents that copy an original verbatim
EMBEDDINGS = 500
EMBED_DIM = 64
CUSTOMERS = 1_500
SUPPLIERS = 100
PARTS = 2_000
ORDERS = 15_000
LINES_PER_ORDER_MAX = 7
EVENTS = 10_000

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

TEAMS = [f"team_{c}{d}" for c in "abcdefgh" for d in range(5)]
REGIONS = ["us-east", "us-west", "eu-central", "eu-west", "ap-south",
           "ap-east", "sa-east", "af-south"]
TIERS = ["gold", "silver", "bronze"]
STATUSES = ["active", "degraded", "retired", "pending"]
NOTE_WORDS = ["alpha", "beta", "gamma", "delta", "omega", "core", "edge",
              "cache", "batch", "queue", "relay", "proxy"]

WORKBOOK_COLUMNS = ["service_id", "team", "region", "tier", "status",
                    "requests", "errors", "latency_ms", "cost", "note"]
NUMERIC = ("requests", "errors", "latency_ms", "cost")


def _rng(seed, stream):
    # One independent stream per table: adding a table never shifts the
    # rows of another.
    return np.random.default_rng([int(seed), stream])


# -- workbook ---------------------------------------------------------------

def workbook_rows(seed):
    r = _rng(seed, 1)
    n = WORKBOOK_ROWS
    ids = r.permutation(n)
    cols = {
        "service_id": [f"svc-{i:06d}" for i in ids],
        "team": [TEAMS[i] for i in r.integers(0, len(TEAMS), n)],
        "region": [REGIONS[i] for i in r.integers(0, len(REGIONS), n)],
        "tier": [TIERS[i] for i in r.choice(3, n, p=[0.2, 0.5, 0.3])],
        "status": [STATUSES[i] for i in r.choice(4, n, p=[0.7, 0.1, 0.15, 0.05])],
        "requests": r.integers(0, 200_000, n).astype(float).tolist(),
        "errors": r.integers(0, 500, n).astype(float).tolist(),
        "latency_ms": (r.integers(50, 250_000, n) / 100.0).tolist(),
        "cost": (r.integers(0, 5_000_000, n) / 100.0).tolist(),
        "note": [" ".join(NOTE_WORDS[j] for j in r.integers(0, len(NOTE_WORDS), 2))
                 for _ in range(n)],
    }
    # about 1 % of cost cells are empty (a NULL after the load); never in
    # the first rows the reader samples for type inference
    blank = r.random(n) < 0.01
    blank[:200] = False
    cols["cost"] = [None if b else v for b, v in zip(blank, cols["cost"])]
    return cols


def _col_letter(i):
    s = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        s = chr(65 + rem) + s
    return s


def write_xlsx(path, cols):
    names = WORKBOOK_COLUMNS
    letters = [_col_letter(i) for i in range(len(names))]
    sst, sst_index = [], {}

    def sidx(s):
        i = sst_index.get(s)
        if i is None:
            i = sst_index[s] = len(sst)
            sst.append(s)
        return i

    n = len(cols[names[0]])
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
           '<sheetData>']
    header = "".join(f'<c r="{letters[j]}1" t="s"><v>{sidx(h)}</v></c>'
                     for j, h in enumerate(names))
    out.append(f'<row r="1">{header}</row>')
    for i in range(n):
        rn = i + 2
        cells = []
        for j, c in enumerate(names):
            v = cols[c][i]
            if v is None:
                continue
            if c in NUMERIC:
                txt = repr(v)[:-2] if float(v).is_integer() else repr(v)
                cells.append(f'<c r="{letters[j]}{rn}"><v>{txt}</v></c>')
            else:
                cells.append(f'<c r="{letters[j]}{rn}" t="s"><v>{sidx(v)}</v></c>')
        out.append(f'<row r="{rn}">{"".join(cells)}</row>')
    out.append('</sheetData></worksheet>')
    sheet = "".join(out)
    shared = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
              '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
              f'count="{n * 6 + len(names)}" uniqueCount="{len(sst)}">' +
              "".join(f"<si><t>{escape(s)}</t></si>" for s in sst) + "</sst>")
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Services" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>',
        "xl/sharedStrings.xml": shared,
        "xl/worksheets/sheet1.xml": sheet,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            # fixed timestamps keep the file byte-identical per seed
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body)


def workbook_totals(cols):
    tot = {"rows": len(cols["service_id"]),
           "distinct_service_id": len(set(cols["service_id"]))}
    for c in NUMERIC:
        vals = [v for v in cols[c] if v is not None]
        tot[f"nonnull_{c}"] = len(vals)
        # integer-valued columns sum exactly; the others are summed in
        # cents so the total is exact too
        tot[f"sum_{c}"] = (sum(int(v) for v in vals) if c in ("requests", "errors")
                           else sum(round(v * 100) for v in vals) / 100.0)
    return tot


# -- tables -----------------------------------------------------------------

def _table(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path)


def write_tables(seed, d):
    ts_us = pa.timestamp("us")
    r = _rng(seed, 2)
    _table(f"{d}/region.parquet",
           {"r_regionkey": list(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _table(f"{d}/nation.parquet",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))
    segs = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
    _table(f"{d}/customer.parquet",
           {"c_custkey": np.arange(CUSTOMERS, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
            "c_nationkey": r.integers(0, 25, CUSTOMERS).astype(np.int32),
            "c_acctbal": r.integers(-99_999, 1_000_000, CUSTOMERS) / 100.0,
            "c_mktsegment": [segs[i] for i in r.integers(0, 5, CUSTOMERS)]},
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]))
    _table(f"{d}/supplier.parquet",
           {"s_suppkey": np.arange(SUPPLIERS, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
            "s_nationkey": r.integers(0, 25, SUPPLIERS).astype(np.int32),
            "s_acctbal": r.integers(-99_999, 1_000_000, SUPPLIERS) / 100.0},
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    adj = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    types = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
    _table(f"{d}/part.parquet",
           {"p_partkey": np.arange(PARTS, dtype=np.int64),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       zip(r.integers(0, 8, PARTS), r.integers(0, 8, PARTS))],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, PARTS)],
            "p_type": [types[i] for i in r.integers(0, 6, PARTS)],
            "p_size": r.integers(1, 51, PARTS).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(PARTS) % 1000) / 10.0},
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    day0 = np.datetime64("1995-01-01", "us")
    odays = r.integers(0, 2404, ORDERS)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _table(f"{d}/orders.parquet",
           {"o_orderkey": np.arange(ORDERS, dtype=np.int64),
            "o_custkey": r.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
            "o_orderstatus": [("O", "P", "F")[i] for i in r.integers(0, 3, ORDERS)],
            "o_totalprice": r.integers(100_000, 50_000_000, ORDERS) / 100.0,
            "o_orderdate": day0 + odays.astype("timedelta64[D]"),
            "o_orderpriority": [prios[i] for i in r.integers(0, 5, ORDERS)]},
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                      ("o_orderdate", ts_us), ("o_orderpriority", pa.string())]))

    nlines = r.integers(1, LINES_PER_ORDER_MAX + 1, ORDERS)
    okey = np.repeat(np.arange(ORDERS, dtype=np.int64), nlines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    n = len(okey)
    qty = r.integers(1, 51, n).astype(float)
    ship = odays[okey] + r.integers(1, 122, n)
    _table(f"{d}/lineitem.parquet",
           {"l_orderkey": okey,
            "l_partkey": r.integers(0, PARTS, n).astype(np.int64),
            "l_suppkey": r.integers(0, SUPPLIERS, n).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": r.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
            "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, n)],
            "l_shipdate": day0 + ship.astype("timedelta64[D]")},
           pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                      ("l_shipdate", ts_us)]))

    etypes = ["signup", "click", "error", "view", "purchase"]
    gaps = r.integers(1, 2 * 30 * 86400 * 1_000_000 // EVENTS, EVENTS)
    _table(f"{d}/events.parquet",
           {"event_id": np.arange(EVENTS, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": r.integers(0, CUSTOMERS, EVENTS).astype(np.int64),
            "event_type": [etypes[i] for i in r.integers(0, 5, EVENTS)],
            "value": r.integers(0, 50_000, EVENTS) / 100.0,
            "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, EVENTS)]},
           pa.schema([("event_id", pa.int64()), ("ts", ts_us), ("user_id", pa.int64()),
                      ("event_type", pa.string()), ("value", pa.float64()),
                      ("props", pa.string())]))

    # text corpus: uniform bags over a small shared vocabulary (so
    # near-duplicate search has real work), plus planted near-duplicates
    # (a copy with two words replaced by "dup") and exact copies. The seed
    # picks words and places, not amounts: the bag lengths are a fixed
    # multiset, the copies fixed counts, and every copy is of an original,
    # so the duplicate graph is stars and the dedup operators' connected-
    # components loop runs the same rounds for every seed (with chains of
    # copies its rounds, and d07's jobs, followed the seed's longest chain)
    rd = _rng(seed, 3)
    lengths = rd.permutation(10 + (np.arange(DOCS) * 91) // DOCS)
    copies = rd.choice(np.arange(21, DOCS), NEAR_DUPS + EXACT_COPIES, replace=False)
    near = set(copies[:NEAR_DUPS].tolist())
    exact = set(copies[NEAR_DUPS:].tolist())
    texts, originals = [], []
    for i in range(DOCS):
        if i in near or i in exact:
            words = texts[originals[rd.integers(0, len(originals))]].split(" ")
            if i in near:
                for j in rd.choice(len(words), 2, replace=False):
                    words[j] = "dup"
            texts.append(" ".join(words))
        else:
            originals.append(i)
            texts.append(" ".join(VOCAB[j] for j in rd.integers(0, len(VOCAB), lengths[i])))
    _table(f"{d}/documents.parquet",
           {"doc_id": np.arange(DOCS, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rd.choice(5, DOCS, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))

    # unit-length embeddings; one vector in twenty is a perturbed copy of
    # an earlier one (the semantic near-duplicates q55 looks for)
    re_ = _rng(seed, 4)
    v = re_.standard_normal((EMBEDDINGS, EMBED_DIM))
    for i in range(1, EMBEDDINGS):
        if re_.random() < 0.05:
            v[i] = v[re_.integers(0, i)] + 0.05 * re_.standard_normal(EMBED_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _table(f"{d}/embeddings.parquet",
           {"vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
            "embedding": [row.tolist() for row in v],
            "label": re_.integers(0, 10, EMBEDDINGS).astype(np.int32)},
           pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))


def generate(seed, out):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/tables")
    write_tables(seed, f"{tmp}/tables")
    cols = workbook_rows(seed)
    write_xlsx(f"{tmp}/services.xlsx", cols)
    schema = pa.schema([(c, pa.float64() if c in NUMERIC else pa.string())
                        for c in WORKBOOK_COLUMNS])
    pq.write_table(pa.table(cols, schema=schema), f"{tmp}/services.parquet")
    with open(f"{tmp}/totals.json", "w") as f:
        json.dump(workbook_totals(cols), f, indent=1, sort_keys=True)
    open(f"{tmp}/done", "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure(seed, out):
    """Generate the inputs for `seed` into `out` unless already there."""
    if not os.path.exists(os.path.join(out, "done")):
        generate(seed, out)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(ensure(a.seed, a.out))
