"""DuckDB side of the benchmark's output check.

Each check names a parquet dump of a Spark output and the DuckDB SQL that
must reproduce it over the benchmark's input. Two comparisons:

* ``ordered``: a query oracle over the query tables, with the canonical
  compare of ``tools/check_oracles.py`` — same column set, same row
  count, equal values row by row (NaN equals NaN, null equals null); a
  value-type difference with equal values is a warning, not a failure.
* ``multiset``: an etl_cli output over the etl input tables — same column
  set and the same multiset of rows (``EXCEPT ALL`` both ways), for
  outputs whose row order is free.

Query-oracle results depend only on the committed query tables, so they are
cached under the build directory (oracles that read Spark-side dumps are
never cached).
"""
import hashlib
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _connect(views):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _eq(x, y):
    if x is None and y is None:
        return True
    try:
        if x == y:
            return True
    except Exception:
        pass
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
        return True
    try:
        import pandas as pd
        if pd.isna(x) and pd.isna(y):
            return True
    except Exception:
        pass
    return False


def _ordered(con, check, cache_dir, data_key):
    spark_df = con.execute(f"SELECT * FROM read_parquet('{check['dir']}/*.parquet')").fetchdf()
    sql = check["sql"]
    if cache_dir and "read_parquet(" not in sql:
        key = hashlib.sha256((data_key + "\n" + sql).encode()).hexdigest()[:32]
        path = os.path.join(cache_dir, key + ".parquet")
        if not os.path.exists(path):
            os.makedirs(cache_dir, exist_ok=True)
            con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
            os.rename(path + ".tmp", path)
        duck_df = con.execute(f"SELECT * FROM read_parquet('{path}')").fetchdf()
    else:
        duck_df = con.execute(sql).fetchdf()
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        return f"schema: spark={sc} duckdb={dc}", None
    if len(spark_df) != len(duck_df):
        return f"rows: spark={len(spark_df)} duckdb={len(duck_df)}", None
    for c in sc:
        for i, (x, y) in enumerate(zip(spark_df[c], duck_df[c])):
            if not _eq(x, y):
                return f"value: col={c} row={i} spark={x!r} duckdb={y!r}", None
    warn = [c for c in sc
            if {type(v).__name__ for v in spark_df[c] if v is not None}
            != {type(v).__name__ for v in duck_df[c] if v is not None}]
    return None, (f"value types differ in {warn}" if warn else None)


def _multiset(con, check):
    con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM read_parquet('{check['dir']}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW d AS {check['sql']}")
    sc = sorted(r[0] for r in con.execute("DESCRIBE s").fetchall())
    dc = sorted(r[0] for r in con.execute("DESCRIBE d").fetchall())
    if sc != dc:
        return f"schema: spark={sc} duckdb={dc}"
    cols = ", ".join(f'"{c}"' for c in sc)
    ns = con.execute("SELECT count(*) FROM s").fetchone()[0]
    nd = con.execute("SELECT count(*) FROM d").fetchone()[0]
    extra = con.execute(f"SELECT {cols} FROM s EXCEPT ALL SELECT {cols} FROM d LIMIT 1").fetchall()
    missing = con.execute(f"SELECT {cols} FROM d EXCEPT ALL SELECT {cols} FROM s LIMIT 1").fetchall()
    if ns != nd or extra or missing:
        return (f"rows: spark={ns} duckdb={nd}; a spark-only row={extra[:1]!r}; "
                f"a duckdb-only row={missing[:1]!r} (columns {sc})")
    return None


def run_checks(checks, base_dir, etl_dir, cache_dir, data_key):
    """Returns {op: failure cause}, and {op: warning} for type-only diffs."""
    cons = {}
    failures, warnings = {}, {}
    for check in checks:
        kind = check["kind"]
        if kind not in cons:
            if kind == "ordered":
                cons[kind] = _connect({t: f"{base_dir}/{t}.parquet" for t in TABLES})
            else:
                cons[kind] = _connect({t: f"{etl_dir}/{t}/*.parquet" for t in sorted(os.listdir(etl_dir))
                                       if os.path.isdir(os.path.join(etl_dir, t))})
        con = cons[kind]
        try:
            if kind == "ordered":
                cause, warn = _ordered(con, check, cache_dir, data_key)
                if warn:
                    warnings[check["op"]] = warn
            else:
                cause = _multiset(con, check)
        except Exception as e:  # a failing oracle is a failed check, with its cause
            cause = f"{type(e).__name__}: {str(e)[:300]}"
        if cause:
            failures[check["op"]] = cause
    for con in cons.values():
        con.close()
    return failures, warnings
