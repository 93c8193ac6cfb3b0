"""Output check: compare the driver's parquet outputs against DuckDB
running each key's oracle SQL on the same generated inputs.

The normalisation and the comparison rules are those of
tools/check_correctness.py: columns sorted by name, rows sorted by their
string form, dtype kinds equal, floats equal bit for bit (NaN = NaN),
everything else equal as strings.
"""
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def connect(input_dir: str, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{tmp_dir}'")
    for name in ("events", "documents", "embeddings"):
        path = os.path.join(input_dir, f"{name}.parquet")
        if os.path.isdir(path):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        elif os.path.exists(path):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(got: pd.DataFrame, want: pd.DataFrame):
    """None if equal, else the first difference found."""
    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"

    def kind(s):
        k = s.dtype.kind
        return "i" if k in "iu" else k
    bad = [(c, str(got[c].dtype), str(want[c].dtype))
           for c in got.columns if kind(got[c]) != kind(want[c])]
    if bad:
        return f"dtype kinds differ {bad}"
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            av, bv = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
            if not eq.all():
                return f"col {c}: {np.sum(~eq)} diffs, maxabs {np.nanmax(np.abs(av - bv)):.3e}"
        elif not a.astype(str).equals(b.astype(str)):
            i = (a.astype(str) != b.astype(str)).idxmax()
            return f"col {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


def oracle_result(con, sql: str, inputs_id: str, cache_dir) -> pd.DataFrame:
    """DuckDB's answer to `sql`. Unless `cache_dir` is None, answers are
    kept there, keyed by the inputs' fingerprints, the DuckDB version and
    the SQL text: the connected-components oracles take about a minute
    each at sf0.1, and the fixed-input workloads ask the same question on
    every run."""
    if cache_dir is None:
        return con.sql(sql).df()
    h = hashlib.sha256(f"{inputs_id}|{duckdb.__version__}|{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"{h}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    want = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    want.to_pickle(f"{path}.tmp{os.getpid()}")
    os.replace(f"{path}.tmp{os.getpid()}", path)
    return want


def check_oracles(con, check_dir: str, oracle: dict, inputs_id: str, cache_dir) -> dict:
    """key -> failure message, for every oracle key that does not match."""
    failures = {}
    for key in sorted(oracle):
        files = glob.glob(os.path.join(check_dir, key, "*.parquet"))
        if not files:
            failures[key] = "no output"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{key}/*.parquet')").df()
            want = oracle_result(con, oracle[key], inputs_id, cache_dir)
        except Exception as e:  # an oracle that cannot run is a failed check
            failures[key] = f"{type(e).__name__}: {e}"
            continue
        diff = compare(got, want)
        if diff:
            failures[key] = diff
    return failures


def check_write(con, check_dir: str):
    """The landed layout must equal the input with the update batch merged
    in by event_id, and every row must sit in the partition of its day.
    Returns None or the failure."""
    cols = "event_id, ts, user_id, event_type, value, props"
    landed = f"read_parquet('{check_dir}/landed/*/*.parquet', hive_partitioning = true)"
    updates = f"read_parquet('{check_dir}/updates/*.parquet')"
    q = f"""
      WITH upd AS (SELECT {cols} FROM {updates}),
      want AS (SELECT {cols} FROM events WHERE event_id NOT IN (SELECT event_id FROM upd)
               UNION ALL SELECT * FROM upd),
      got AS (SELECT {cols} FROM {landed})
      SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM want),
             (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)),
             (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),
             (SELECT count(*) FROM {landed} WHERE CAST(day AS DATE) <> CAST(ts AS DATE)),
             (SELECT count(*) FROM upd)"""
    try:
        n_got, n_want, extra, missing, misplaced, n_upd = con.sql(q).fetchone()
    except Exception as e:
        return f"{type(e).__name__}: {e}"
    if n_upd == 0:
        return "empty update batch"
    if (n_got, extra, missing, misplaced) != (n_want, 0, 0, 0):
        return (f"landed {n_got} rows, want {n_want}; {extra} unexpected, "
                f"{missing} missing, {misplaced} in the wrong day")
    return None
