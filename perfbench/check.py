"""Output checker of the graft benchmark.

Every answer the program gives is compared with a computation made
apart from it:

  - each `repl` statement's rendered table (display commas removed) and
    each `|out=` CSV file, with DuckDB's answer to the same SQL over the
    workbook's parquet copy and the generated tables; doubles agree to a
    relative tolerance of REL_TOL, because the two engines sum in
    different orders;
  - the workbook load, with the generator's own totals (statement
    r01_totals must reproduce them);
  - each `curation` output, as a multiset, with its
    `SparkEntry.oracleSql` query run in DuckDB (columns sorted by name,
    values exact: the compare `tools/check_local.py` makes).

DuckDB answers are cached per (input files, SQL text) under
`<build>/oracle-cache`.

    python3 perfbench/check.py --self-test       # the checker must fail wrong answers
    python3 perfbench/check.py --rebuild-cache   # drop the cached DuckDB answers
"""

import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import re
import shutil
import sys

import duckdb

sys.dont_write_bytecode = True

REL_TOL = 1e-12
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def build_dir():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def read_script(path):
    out = []
    for line in open(path, encoding="utf-8"):
        line = line.strip()
        if line and not line.startswith("--"):
            sid, sql = line.split("\t", 1)
            out.append((sid, sql))
    return out


def split_export(line):
    """SqlRepl.splitExport: `<sql> |out=<path>`."""
    parts = line.split("|out=", 1)
    return (parts[0].strip(), parts[1].strip() if len(parts) == 2 else None)


# -- DuckDB oracle with a cache ---------------------------------------------

class Oracle:
    def __init__(self, inputs, cache_dir):
        self.inputs = inputs
        self.cache_dir = cache_dir
        h = hashlib.sha256()
        for p in sorted(glob.glob(f"{inputs}/tables/*.parquet")) + [f"{inputs}/services.parquet"]:
            h.update(os.path.basename(p).encode())
            with open(p, "rb") as f:
                h.update(f.read())
        self.fingerprint = h.hexdigest()
        self._con = None

    def con(self):
        if self._con is None:
            c = duckdb.connect()
            c.execute("SET threads TO 4")
            c.execute(f"SET temp_directory = '{self.cache_dir}/duckdb-tmp'")
            for t in TABLES:
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                          f"read_parquet('{self.inputs}/tables/{t}.parquet')")
            c.execute("CREATE VIEW excel_rows AS SELECT * FROM "
                      f"read_parquet('{self.inputs}/services.parquet')")
            self._con = c
        return self._con

    def answer(self, sql):
        """(column names, rows) of `sql`, from the cache when possible."""
        key = hashlib.sha256((self.fingerprint + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        rel = self.con().sql(sql)
        ans = (list(rel.columns), rel.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(ans, f)
        os.replace(path + ".tmp", path)
        return ans


# -- compare helpers --------------------------------------------------------

def parse_rendered(text):
    """TableFormat.renderRows output -> (header, rows of cell strings)."""
    lines = [l for l in text.strip("\n").split("\n") if l.startswith("|")]
    if not lines:
        raise ValueError("no table in output")
    cells = [[c.strip() for c in l[1:-1].split("|")] for l in lines]
    return cells[0], cells[1:]


def parse_csv(path):
    with open(path, encoding="utf-8") as f:
        lines = f.read().rstrip("\n").split("\n")
    return lines[0].split(","), [l.split(",") for l in lines[1:]]


def cell_matches(cell, want):
    cell = cell.replace(",", "")
    if want is None:
        return cell == "NULL"
    if isinstance(want, bool):
        return cell == str(want).lower()
    if isinstance(want, (int, float)):
        try:
            got = float(cell)
        except ValueError:
            return False
        if isinstance(want, int) and "." not in cell and "E" not in cell:
            return int(cell) == want
        return math.isclose(got, float(want), rel_tol=REL_TOL, abs_tol=REL_TOL)
    return cell == str(want)


def _sort_key(row):
    return tuple((0, "") if v is None else (1, str(v)) for v in row)


def compare_table(header, rows, want_cols, want_rows, ordered):
    """None if the program's (header, rows) agree with DuckDB's answer."""
    if [h.lower() for h in header] != [c.lower() for c in want_cols]:
        return f"columns {header} != {want_cols}"
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows != {len(want_rows)}"
    if not ordered:
        rows = sorted(rows, key=lambda r: tuple(_norm(c.replace(",", "")) for c in r))
        want_rows = sorted(want_rows, key=lambda r: tuple(_norm(v) for v in r))
    for i, (got, want) in enumerate(zip(rows, want_rows)):
        if len(got) != len(want) or not all(cell_matches(g, w) for g, w in zip(got, want)):
            return f"row {i}: {got} != {list(want)}"
    return None


def _norm(v):
    """Sort key shared by rendered cells and DuckDB values."""
    if v is None or v == "NULL":
        return "NULL"
    try:
        return format(float(v), ".9g")
    except (TypeError, ValueError):
        return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted((tuple(r[i] for i in order) for r in rows), key=_sort_key))


def compare_multiset(got_cols, got_rows, want_cols, want_rows):
    gc, gr = canon(got_cols, got_rows)
    wc, wr = canon(want_cols, want_rows)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None


def _ordered(sql):
    return re.search(r"\border\s+by\b", sql, re.I) is not None


def check_totals(header, rows, totals):
    """r01_totals against the generator's own totals."""
    if len(rows) != 1:
        return f"{len(rows)} rows"
    got = dict(zip(header, rows[0]))
    want = {"n": totals["rows"], "ids": totals["distinct_service_id"],
            "req": totals["sum_requests"], "err": totals["sum_errors"],
            "lat": totals["sum_latency_ms"], "cost": totals["sum_cost"],
            "n_cost": totals["nonnull_cost"]}
    def same(cell, v):  # integer totals exactly, the others to REL_TOL
        if isinstance(v, int):
            return float(cell.replace(",", "")) == v
        return cell_matches(cell, v)
    bad = [k for k, v in want.items() if k not in got or not same(got[k], v)]
    return f"totals differ on {bad}: {got} vs {want}" if bad else None


# -- the checks of one run --------------------------------------------------

def check_repl(out, inputs, script, oracle, failed):
    errors = []
    totals = json.load(open(f"{inputs}/totals.json"))
    load = open(f"{out}/repl/load.txt", encoding="utf-8").read()
    if "load" not in failed and (not load.startswith("Loaded ") or "excel_rows" not in load):
        errors.append(f"load: unexpected output {load[:200]!r}")
    for sid, line in script:
        if sid in failed:
            continue
        sql, export = split_export(line)
        want_cols, want_rows = oracle.answer(sql)
        try:
            header, rows = parse_rendered(open(f"{out}/repl/{sid}.txt", encoding="utf-8").read())
        except (OSError, ValueError) as e:
            errors.append(f"{sid}: {e}")
            continue
        err = compare_table(header, rows, want_cols, want_rows, _ordered(sql))
        if err:
            errors.append(f"{sid}: {err}")
        if sid == "r01_totals":
            err = check_totals(header, rows, totals)
            if err:
                errors.append(f"{sid}: {err}")
        if export:
            path = f"{out}/repl/{os.path.basename(export)}"
            try:
                ch, cr = parse_csv(path)
            except OSError as e:
                errors.append(f"{sid} csv: {e}")
                continue
            err = compare_table(ch, cr, want_cols, want_rows, _ordered(sql))
            if err:
                errors.append(f"{sid} csv: {err}")
    return errors


def check_curation(out, ops, oracle, failed):
    errors = []
    sqls = json.load(open(f"{out}/oracle_sql.json"))
    con = duckdb.connect()
    for op in ops:
        if op in failed:
            continue
        rel = con.sql(f"SELECT * FROM read_parquet('{out}/curation/{op}/*.parquet')")
        got_cols, got_rows = list(rel.columns), rel.fetchall()
        want_cols, want_rows = oracle.answer(sqls[op])
        err = compare_multiset(got_cols, got_rows, want_cols, want_rows)
        if err:
            errors.append(f"{op}: {err}")
    return errors


def check_run(out, inputs, script_path, workload, ops, failed):
    """List of problems with the outputs of one run (empty = correct)."""
    oracle = Oracle(inputs, os.path.join(build_dir(), "oracle-cache"))
    errors = []
    if workload in ("repl", "mixed"):
        errors += check_repl(out, inputs, read_script(script_path), oracle,
                             failed.get("repl", set()))
    if workload in ("curation", "mixed"):
        errors += check_curation(out, ops, oracle, failed.get("curation", set()))
    return errors


# -- self-test --------------------------------------------------------------

def _render_java(v):
    """What TableFormat.cell shows for a DuckDB value (enough for the test)."""
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return f"{v:,}"
    if isinstance(v, float):
        ip, _, frac = repr(v).partition(".")
        return f"{int(ip):,}.{frac}" if frac and "e" not in repr(v) else repr(v)
    return str(v)


def _table_text(cols, rows):
    body = [cols] + [[_render_java(v) for v in r] for r in rows]
    return "\n".join("| " + " | ".join(r) + " |" for r in body)


def self_test(seed=1):
    """Feed the checker right and wrong answers; exit 0 only if it
    accepts the right ones and refuses every wrong one."""
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    import gen
    import pyarrow as pa
    import pyarrow.parquet as pq
    work = os.path.join(build_dir(), "selftest")
    inputs = gen.ensure(seed, os.path.join(build_dir(), "inputs", f"seed-{seed}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    oracle = Oracle(inputs, os.path.join(work, "cache"))
    results = []

    def expect(name, err, should_fail):
        ok = (err is not None) == should_fail
        results.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {'refused' if err else 'accepted'}"
              f"{' (' + err + ')' if err else ''}")

    script = dict(read_script(os.path.join(here, "repl_script.sql")))
    for sid in ("r02_case", "r04_cte_rank", "p01_join"):
        sql, _ = split_export(script[sid])
        cols, rows = oracle.answer(sql)
        header, got = parse_rendered(_table_text(cols, rows))
        expect(f"{sid} right answer", compare_table(header, got, cols, rows, True), False)
        expect(f"{sid} one row dropped",
               compare_table(header, got[:-1], cols, rows, True), True)
        changed = [list(r) for r in got]
        j = next(i for i, c in enumerate(cols) if isinstance(rows[0][i], (int, float)))
        changed[0][j] = _render_java(rows[0][j] + 1)
        expect(f"{sid} one value changed",
               compare_table(header, changed, cols, rows, True), True)

    totals = json.load(open(f"{inputs}/totals.json"))
    cols, rows = oracle.answer(split_export(script["r01_totals"])[0])
    header, got = parse_rendered(_table_text(cols, rows))
    expect("r01_totals against generator totals", check_totals(header, got, totals), False)
    wrong = dict(totals, sum_requests=totals["sum_requests"] + 1)
    expect("r01_totals against wrong totals", check_totals(header, got, wrong), True)

    sql = ("SELECT doc_id, lang, n_chars, CAST(n_chars AS DOUBLE) / 7 AS x "
           "FROM documents WHERE doc_id % 3 = 0")
    cols, rows = oracle.answer(sql)
    for name, rs, should_fail in (
            ("multiset right answer", list(reversed(rows)), False),
            ("multiset one row dropped", rows[1:], True),
            ("multiset one value changed",
             [(rows[0][0], rows[0][1], rows[0][2] + 1, rows[0][3])] + rows[1:], True)):
        path = os.path.join(work, name.replace(" ", "_") + ".parquet")
        pq.write_table(pa.table({c: [r[i] for r in rs] for i, c in enumerate(cols)}), path)
        rel = duckdb.sql(f"SELECT * FROM read_parquet('{path}')")
        expect(name, compare_multiset(list(rel.columns), rel.fetchall(), cols, rows),
               should_fail)
    shutil.rmtree(work, ignore_errors=True)
    print(f"self-test: {sum(results)}/{len(results)} as expected")
    return all(results)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--rebuild-cache", action="store_true")
    a = ap.parse_args()
    if a.rebuild_cache:
        shutil.rmtree(os.path.join(build_dir(), "oracle-cache"), ignore_errors=True)
        print("oracle cache dropped; the next run of each input refills it")
    if a.self_test:
        sys.exit(0 if self_test() else 1)
    if not (a.self_test or a.rebuild_cache):
        ap.print_help()
        sys.exit(2)
