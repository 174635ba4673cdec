"""Correctness checks of one benchmark run, made in DuckDB apart from graft.

Each check returns a list of problems; an empty list means the run's
outputs are correct. They run after the JVM has exited, so they are
never inside the timed part.
"""
import glob
import gzip
import json
import os
import re
import subprocess
import sys

import duckdb

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$")


def _con(run_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{run_dir}/duckdb-tmp'")
    return con


def _canon_expr(cols):
    """'|'-joined canonical strings; timestamps to the second, as the extract renders them."""
    parts = []
    for name, typ in cols:
        if typ.startswith("TIMESTAMP"):
            parts.append(f"strftime(\"{name}\"::TIMESTAMP, '%Y-%m-%d %H:%M:%S')")
        else:
            parts.append(f"CAST(\"{name}\" AS VARCHAR)")
    return f"concat_ws('|', {', '.join(parts)})"


def _digest(con, rel, cols, md5=False):
    """Row count and order-independent digest: the sum over rows of a hash
    of each row's canonical string. With `md5` the hash is the first 48
    bits of md5, which the benchmark computes the same way over JDBC;
    otherwise DuckDB's own faster hash, for sides DuckDB reads alike."""
    h = (f"('0x' || substr(md5({_canon_expr(cols)}), 1, 12))::BIGINT" if md5
         else f"hash({_canon_expr(cols)})")
    n, d = con.sql(f"SELECT count(*)::BIGINT, coalesce(sum({h})::HUGEINT, 0) FROM {rel}").fetchone()
    return int(n), int(d)


def _json_rel(glob_path, cols):
    spec = ", ".join(f"'{n}': '{t}'" for n, t in cols)
    return (f"read_json('{glob_path}', format = 'newline_delimited', columns = {{{spec}}}, "
            f"timestampformat = '%Y-%m-%d %H:%M:%S', compression = 'gzip')")


def _parquet_rel(d):
    return f"read_parquet('{d}/*.parquet')"


def _check_extract_dir(d, cols, ts_cols, problems, name):
    schema = json.load(open(os.path.join(d, "schema.json")))
    if [f["name"] for f in schema] != [c for c, _ in cols]:
        problems.append(f"{name}: schema.json fields {[f['name'] for f in schema]}")
    if ts_cols:
        parts = sorted(glob.glob(os.path.join(d, "part-*.json.gz")))
        with gzip.open(parts[0], "rt") as f:
            row = json.loads(f.readline())
        for c in ts_cols:
            if not TS_RE.match(str(row.get(c, ""))):
                problems.append(f"{name}: timestamp {c} rendered as {row.get(c)!r}")


def check_elt(facts, data_dir, run_dir):
    con = _con(run_dir)
    problems = []
    rd = facts["round_dir"]
    ext = os.path.join(rd, "extract")
    wh = os.path.join(rd, "warehouse", "bench")
    for t in TPCH:
        src = f"read_parquet('{data_dir}/tpch/{t}.parquet')"
        cols = [(r[0], r[1]) for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        want = _digest(con, src, cols)
        got_x = _digest(con, _json_rel(f"{ext}/{t}/part-*.json.gz", cols), cols)
        got_w = _digest(con, _parquet_rel(f"{wh}/nightly/{t}"), cols)
        if not (want == got_x == got_w):
            problems.append(f"{t}: source {want} extract {got_x} warehouse {got_w}")
        _check_extract_dir(f"{ext}/{t}", cols, [c for c, ty in cols if ty.startswith("TIMESTAMP")],
                           problems, t)
    for s in json.load(open(os.path.join(rd, "state.json"))):
        if s.get("rows") is None or s.get("rows") != s.get("rowsLoaded"):
            problems.append(f"state {s.get('name')}: rows {s.get('rows')} loaded {s.get('rowsLoaded')}")
    for t in facts["derby_tables"]:
        cols = [(n, "VARCHAR" if ty.startswith("VARCHAR") else ty) for n, ty in t["columns"]]
        want = (t["rows"], int(t["digest"]))
        got_x = _digest(con, _json_rel(f"{ext}/{t['name']}/part-*.json.gz", cols), cols, md5=True)
        got_w = _digest(con, _parquet_rel(f"{wh}/derby/{t['name']}"), cols, md5=True)
        if not (want == got_x == got_w):
            problems.append(f"{t['name']}: jdbc {want} extract {got_x} warehouse {got_w}")
        _check_extract_dir(f"{ext}/{t['name']}", cols, [n for n, ty in cols if ty == "TIMESTAMP"],
                           problems, t["name"])
    if not facts["julienne_each_row_once"]:
        problems.append("skew_t: some Derby row satisfies other than exactly one julienne predicate")
    return problems


def check_stream(facts, data_dir, run_dir):
    con = _con(run_dir)
    problems = []
    manifest = json.load(open(os.path.join(data_dir, "stream", "manifest.json")))
    m = manifest[facts["round"]]
    hive = "hive_partitioning = true"
    pairs = set(con.sql(f"SELECT new_doc, matched_doc FROM read_parquet('{facts['dup_dir']}/**/*.parquet', {hive})").fetchall())
    flagged = {a for a, _ in pairs}
    indexed = {r[0] for r in con.sql(f"SELECT DISTINCT doc_id FROM read_parquet('{facts['index_dir']}/**/*.parquet', {hive})").fetchall()}
    ids = {r[0] for r in con.sql(f"SELECT DISTINCT doc_id FROM read_parquet('{facts['ids_dir']}/**/*.parquet', {hive})").fetchall()}
    index_rows = con.sql(f"SELECT count(*) FROM read_parquet('{facts['index_dir']}/**/*.parquet', {hive})").fetchone()[0]
    docs = set(m["fresh"]) | {c for c, _ in m["exact"]} | {c for c, _ in m["near"]}
    for copy, orig in m["exact"]:
        if (copy, orig) not in pairs:
            problems.append(f"exact copy {copy} of {orig} not flagged against it")
        if copy in indexed:
            problems.append(f"exact copy {copy} entered the index")
    if indexed & flagged:
        problems.append(f"{len(indexed & flagged)} documents both indexed and flagged")
    if (indexed | flagged) != docs:
        problems.append(f"{len(docs - indexed - flagged)} documents neither indexed nor flagged")
    if ids != indexed:
        problems.append("the id sidecar does not hold exactly the indexed documents")
    if index_rows != facts["index_rows_appended"]:
        problems.append(f"index has {index_rows} rows, batches appended {facts['index_rows_appended']}")
    return problems


def check_corpus(facts, data_dir, run_dir):
    """Each query's full output equals its oracle SQL in DuckDB, under the
    strict compare of the repository's `tools/check.py`: same column names,
    same types (integer widths aside), same sorted rows."""
    d = facts["results_dir"]
    missing = [q for q in json.load(open(os.path.join(d, "oracle_sql.json")))
               if not glob.glob(os.path.join(d, q, "*.parquet"))]
    if missing:
        return [f"{q}: no output" for q in missing]
    p = subprocess.run([sys.executable, os.path.join("tools", "check.py"),
                        os.path.join(data_dir, "tpch"), d],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode == 0:
        return []
    return [f"tools/check.py exited with code {p.returncode}"] + \
        [ln.strip() for ln in p.stdout.splitlines() if ln.strip() and " OK (" not in ln]


CHECKS = {"elt_nightly": check_elt, "stream_dedup": check_stream, "corpus_ops": check_corpus}
