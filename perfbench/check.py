"""Output check of a run, done after the timed window.

Each query's output (written by the harness as parquet, in the form
that was timed) is checked two ways, with the column and float
normalization of `scripts/check.py` (columns sorted by name, integer
types widened to BIGINT and floats to DOUBLE, rows sorted by value,
NULL equal to NULL):

- a query timed in its registered form that has a DuckDB oracle
  (`graft.SparkEntry.oracleSql`) must equal the oracle's result;
- every query's result hash must equal the one pinned in
  `perfbench/expected_hashes.json`, so twin-swapped and oracle-less
  queries must give the same result in every run.
"""
import glob
import hashlib
import json
import os

import duckdb

HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_hashes.json")


def widen(t):
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"):
        return "BIGINT"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "DOUBLE"
    return t


def canonical(con, sql):
    """Query result as a frame with sorted columns and sorted rows."""
    df = con.sql(sql).df()
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(list(df.columns), na_position="last",
                            key=lambda c: c.astype(str) if c.dtype == object else c)
    return df.reset_index(drop=True)


def result_hash(df):
    """Order-free content hash; floats to 12 significant digits so a
    change of summation order does not change the hash."""
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                v = None if v != v else float(f"{v:.12g}")
            vals.append(v)
        h.update(json.dumps(vals, default=str).encode())
    return h.hexdigest()


def oracle_diff(con, out_glob, sql):
    """None when the Spark output equals the oracle's, else why not."""
    ad = {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM '{out_glob}'").fetchall()}
    bd = {r[0]: r[1] for r in con.sql(f"DESCRIBE {sql}").fetchall()}
    if sorted(ad) != sorted(bd):
        return f"columns {sorted(ad)} vs {sorted(bd)}"
    bad = [c for c in ad if widen(ad[c]) != widen(bd[c])]
    if bad:
        return f"dtypes differ in {bad}"
    a = canonical(con, f"SELECT * FROM '{out_glob}'")
    b = canonical(con, sql)
    if a.shape != b.shape:
        return f"shape {a.shape} vs {b.shape}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype == object or bv.dtype == object:
            same = av.astype(str) == bv.astype(str)
        else:
            same = (av.isna() & bv.isna()) | (av == bv)
        if not same.all():
            return f"column {c} differs at rows {(~same).to_numpy().nonzero()[0][:3].tolist()}"
    return None


def check(doc, lake, record=False):
    """Per query: (ok, detail). With `record`, pins the hashes seen."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(lake, "*.parquet"))):
        t = os.path.splitext(os.path.basename(path))[0]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    expected = json.load(open(HASHES)) if os.path.exists(HASHES) else {}
    twins = set(doc["twins"])
    results = {}
    for c in doc["checks"]:
        name = c["name"]
        if c["error"]:
            results[name] = (False, c["error"])
            continue
        files = glob.glob(os.path.join(c["path"], "*.parquet"))
        if not files:
            results[name] = (False, "no output")
            continue
        out_glob = os.path.join(c["path"], "*.parquet")
        detail = None
        sql = doc["oracle_sql"].get(name)
        if sql and name not in twins:
            detail = oracle_diff(con, out_glob, sql)
        digest = result_hash(canonical(con, f"SELECT * FROM '{out_glob}'"))
        if record:
            expected[name] = digest
        elif detail is None and expected.get(name) != digest:
            detail = f"result hash {digest[:12]} != pinned {str(expected.get(name))[:12]}"
        results[name] = (detail is None, detail or ("oracle" if sql and name not in twins else "hash"))
    if record:
        with open(HASHES, "w") as fh:
            json.dump(dict(sorted(expected.items())), fh, indent=1)
            fh.write("\n")
    return results
