"""Output check: each key's dumped Spark output against DuckDB running
the engine's oracle SQL (`SparkEntry.oracleSql`) over the same input
tables, compared as sorted rows with strict column names and dtypes
(the rule of the engine's correctness gate). Oracle results are cached
per input directory and SQL text, so a seed pays for them once.
"""
import hashlib
import os
import re

import duckdb
import numpy as np
import pandas as pd

# the tables `gen.py` writes
TABLES = ["events", "documents", "embeddings", "orders"]


def _naive_utc(df):
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df


# DuckDB inlines a CTE at every reference, and inside a recursive CTE at
# every iteration: the engine's closure oracles then recompute their
# whole minhash chain per step. Materializing a CTE that is read more
# than once, or any CTE of a recursive query, computes the same rows in
# a fraction of the time.
_CTE = re.compile(r"(?<![\w.])(\w+)\s+AS\s+\((?=\s*(SELECT|WITH|VALUES)\b)", re.I)


def materialized(sql):
    recursive = re.search(r"\bWITH\s+RECURSIVE\b", sql, re.I) is not None

    def rewrite(m):
        uses = len(re.findall(r"(?<![\w.])%s\b" % re.escape(m.group(1)), sql[m.end():]))
        return m.group(1) + " AS MATERIALIZED (" if recursive or uses > 1 else m.group(0)
    return _CTE.sub(rewrite, sql)


def oracle(sql, data, subset, cache):
    key = hashlib.sha256((sql + repr(subset)).encode()).hexdigest()[:16]
    path = os.path.join(cache, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{os.path.join(cache, 'tmp')}'")
    for t in TABLES:
        p = os.path.join(data, t + ".parquet")
        if not os.path.exists(p):
            continue
        where = ""
        if t == "events" and subset:
            where = " WHERE user_id IN (%s)" % ",".join(str(s) for s in subset)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}'){where}")
    df = con.execute(materialized(sql)).fetchdf()
    con.close()
    os.makedirs(cache, exist_ok=True)
    df.to_pickle(path)
    return df


def rounding_unit(values):
    """10**-d for the fewest decimals d (0-9) that every value is
    rounded to, else None."""
    v = values.dropna().to_numpy(dtype=float)
    for d in range(10):
        x = v * 10.0 ** d
        if (np.abs(x - np.round(x)) <= np.maximum(1e-6, 8 * np.finfo(float).eps * np.abs(x))).all():
            return 10.0 ** -d
    return None


def same(spark, orc):
    """None when equal, "" when equal except for floating-point last
    places, else the first difference found. The oracles round doubles
    to 4-6 decimals and the engines sum in different orders, so a value
    within an ulp of a rounding boundary can round either way: a double
    column may differ by one unit of the place its values are rounded
    to, but by no more than 1e-4, or by 1e-12 of its magnitude."""
    if len(spark) != len(orc):
        return f"rows spark={len(spark)} oracle={len(orc)}"
    cols = sorted(spark.columns)
    if cols != sorted(orc.columns):
        return f"columns spark={cols} oracle={sorted(orc.columns)}"
    a = _naive_utc(spark[cols].copy())
    b = _naive_utc(orc[cols].copy())
    bad = [f"{c}: spark={a[c].dtype} oracle={b[c].dtype}" for c in cols if a[c].dtype != b[c].dtype]
    if bad:
        return "dtype " + "; ".join(bad)
    floats = [c for c in cols if a[c].dtype.kind == "f"]
    order = [c for c in cols if c not in floats] + floats
    a = a.sort_values(order).reset_index(drop=True)
    b = b.sort_values(order).reset_index(drop=True)
    if a.equals(b):
        return None
    neq = (a != b) & ~(a.isna() & b.isna())
    for c in floats:
        unit = rounding_unit(b[c])
        tol = np.maximum(1.01 * min(unit, 1e-4) if unit else 0.0, 1e-12 * b[c].abs())
        neq[c] &= ~((a[c] - b[c]).abs() <= tol)
    bad = [c for c in cols if neq[c].any()]
    return ("values differ in " + ",".join(bad)) if bad else ""


def compare(res, data, run_dir, subset, cache):
    """{key: {"ok", "why", "exact"}} for every key of the run. The warm-up pass
    wrote the checked output; every timed run of the key must hash to
    the same digest as that output. `subset` (series ids) restricts the
    check of per-series keys to those series."""
    dumps = {d["key"]: d for d in res["dumps"]}
    out = {}
    for key, sql in res["oracle"].items():
        digests = {s["digest"] for s in res["samples"] if s["key"] == key and s["ok"]}
        v = {"ok": False, "why": ""}
        if not dumps[key]["ok"]:
            v["why"] = "warm-up run failed: " + dumps[key]["error"]
        elif digests - {dumps[key]["digest"]}:
            v["why"] = f"timed runs hashed to {sorted(digests)}, the checked output to {dumps[key]['digest']}"
        elif sql is None:
            v["why"] = "no oracle SQL for this key"
        else:
            try:
                got = pd.read_parquet(os.path.join(run_dir, "dump", key))
                if subset and "series_id" in got.columns:
                    got = got[got["series_id"].isin({str(s) for s in subset})]
                why = same(got.reset_index(drop=True), oracle(sql, data, subset, cache))
                v.update(ok=not why, why=why or "", exact=why is None)
            except Exception as e:  # an oracle that cannot run is a failed check
                v["why"] = f"{type(e).__name__}: {e}"
        out[key] = v
    return out
