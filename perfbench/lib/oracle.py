"""DuckDB oracle comparison for the embed_bulk sample.

The harness dumps each pipeline's output over the sample documents in
the flat shape of the repo's oracle queries (`graft.oracle.OracleSql`),
together with the SQL itself; here the SQL runs in DuckDB over the same
sample parquet, and each document's rows must match exactly (floats bit
for bit).
"""
import glob
import json
import os

import duckdb
import pandas as pd


def _rows_by_doc(df):
    cols = sorted(c for c in df.columns if c != "doc_id")
    out = {}
    for doc, part in df.groupby("doc_id"):
        out[int(doc)] = sorted(map(tuple, part[cols].itertuples(index=False, name=None)))
    return out


def _connect(docs_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')")
    return con


def _queries(check_dir):
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        return json.load(f)


def sparse_rows(corpus_dir, check_dir):
    """(rows the program produced, rows the oracle expects) for the
    sparse pipeline over the whole corpus."""
    con = _connect(corpus_dir)
    sql = _queries(check_dir)["q05_sparse_struct"]
    (want,), = con.execute(f"SELECT count(DISTINCT doc_id) FROM ({sql})").fetchall()
    with open(os.path.join(check_dir, "sparse_rows.txt")) as f:
        return int(f.read()), int(want)


def compare(sample_dir, check_dir):
    """Returns (matching doc ids, sampled doc ids, mismatch notes)."""
    con = _connect(sample_dir)
    docs = {int(d) for (d,) in con.execute("SELECT doc_id FROM documents").fetchall()}
    queries = _queries(check_dir)
    good = set(docs)
    notes = []
    for name, sql in sorted(queries.items()):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        spark = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True) if files \
            else pd.DataFrame()
        duck = con.execute(sql).fetchdf()
        if sorted(spark.columns) != sorted(duck.columns):
            notes.append(f"{name}: columns {sorted(spark.columns)} != {sorted(duck.columns)}")
            good.clear()
            continue
        s, d = _rows_by_doc(spark), _rows_by_doc(duck)
        bad = {doc for doc in docs if s.get(doc) != d.get(doc)}
        if bad:
            notes.append(f"{name}: {len(bad)} docs differ, e.g. {sorted(bad)[:3]}")
        good -= bad
    return good, docs, notes
