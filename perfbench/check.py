"""Output checks: a face's rows against the repository's DuckDB oracle.

The comparison is ``scripts/check_local.py``'s: the oracle SQL runs in DuckDB
over views of the corpus tables; column names are compared sorted, then the
row count, then every row in order (values of columns sorted by name). The
Spark side arrives in the harness's canonical JSON (see ``Json.scala``);
``norm`` maps DuckDB's Python values onto the same encoding.
"""
import datetime
import decimal
import json
import math
import os
import re

import duckdb

from gen import TABLES

EPOCH = datetime.datetime(1970, 1, 1)


def norm(v):
    """A value in the canonical encoding, hashable for comparison."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return v
    if isinstance(v, decimal.Decimal):
        return norm(float(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            v = dict(zip(v["key"], v["value"]))  # MAP, as some DuckDB builds return it
            return tuple(sorted(((norm(k), norm(x)) for k, x in v.items()), key=repr))
        return tuple(norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def spark_rows(path):
    """(sorted column names, rows) from a harness check file."""
    with open(path) as f:
        doc = json.load(f)
    return doc["cols"], [tuple(norm(x) for x in r) for r in doc["rows"]]


def connect(corpus, tmp):
    """An in-memory DuckDB with a view per corpus table; spills go to `tmp`."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    return con


_CTE = re.compile(r"(\bWITH RECURSIVE\s+|,\s*|\n)(\w+) AS \(")


def materialized(sql):
    """`sql` with every CTE marked MATERIALIZED when it has a recursive CTE:
    DuckDB 1.0 otherwise inlines the other CTEs into each recursion step
    and re-evaluates them per step, which is exponentially slow on corpora
    past a few hundred documents. The answer is the same."""
    if "WITH RECURSIVE" not in sql:
        return sql
    return _CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def oracle_rows(con, sql):
    rel = con.sql(materialized(sql))
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, [tuple(norm(r[i]) for i in idx) for r in rel.fetchall()]


def compare(name, got, want):
    """None when `got` equals `want`, else the first difference."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"{name}: schema spark={gc} oracle={wc}"
    if len(gr) != len(wr):
        return f"{name}: rowcount spark={len(gr)} oracle={len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"{name}: row {i} differs: spark={a!r:.300} oracle={b!r:.300}"
    return None


def check_faces(corpus, out_dir, cache_dir):
    """Check every first-pass output in `out_dir/check` against its oracle.

    Oracle answers are cached per corpus in `cache_dir`, so each seed pays
    for them once. Returns ({face: error or None}, [faces with only a
    non-empty check])."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    results, rows_only = {}, []
    check_dir = os.path.join(out_dir, "check")
    for fn in sorted(os.listdir(check_dir)):
        name = fn[:-len(".json")]
        got = spark_rows(os.path.join(check_dir, fn))
        if name not in oracles:
            rows_only.append(name)
            results[name] = None if got[1] else f"{name}: empty result, no oracle"
            continue
        cached = os.path.join(cache_dir, fn)
        key = oracles[name]
        want = None
        if os.path.exists(cached):
            with open(cached) as f:
                doc = json.load(f)
            if doc["sql"] == key:
                want = doc["cols"], [tuple(norm(x) for x in r) for r in doc["rows"]]
        if want is None:
            con = con or connect(corpus, os.path.join(out_dir, "duckdb_tmp"))
            try:
                want = oracle_rows(con, key)
            except duckdb.Error as e:
                results[name] = f"{name}: oracle SQL error: {e}"
                continue
            tmp = cached + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"sql": key, "cols": want[0], "rows": want[1]}, f)
            os.replace(tmp, cached)
        results[name] = compare(name, got, want)
    return results, rows_only
