"""Output checks that never call the code under test: DuckDB recomputes
what each op should have produced from the files the op left behind.

Each check returns None when it passes, else a one-line reason.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads TO 2")
    return con


def _files(paths):
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def clv(check):
    """RFM-T features equal an independent recomputation over the staging
    files the op saw; the scored population is exactly the returning
    customers; every score is finite; the clipping flags agree with clv."""
    con = _con()
    d = check["dir"]
    con.execute(f"CREATE VIEW staging AS SELECT * FROM read_parquet({_files(check['staging'])})")
    con.execute(f"CREATE VIEW features AS SELECT * FROM read_parquet('{d}/features/*.parquet')")
    con.execute(f"CREATE VIEW predicted AS SELECT * FROM read_parquet('{d}/predicted/*.parquet')")
    con.execute(f"""CREATE TABLE expected AS SELECT CustomerID AS customer_id,
        date_diff('day', MIN(order_timestamp)::DATE, MAX(order_timestamp)::DATE) AS recency,
        date_diff('day', MIN(order_timestamp)::DATE, DATE '{check['as_of']}') AS t,
        COUNT(DISTINCT order_timestamp::DATE) - 1 AS frequency,
        AVG(TotalPurchase) AS monetary_value,
        MIN(order_timestamp)::DATE AS first_purchase,
        MAX(order_timestamp)::DATE AS last_purchase
      FROM staging GROUP BY CustomerID""")
    bad = con.execute("""SELECT COUNT(*) FROM expected e FULL OUTER JOIN features f
        ON e.customer_id = f.customer_id
      WHERE e.customer_id IS NULL OR f.customer_id IS NULL
        OR e.recency <> f.recency OR e.t <> f.t OR e.frequency <> f.frequency
        OR e.first_purchase <> f.first_purchase OR e.last_purchase <> f.last_purchase
        OR abs(e.monetary_value - f.monetary_value) > 1e-9 * greatest(1, abs(e.monetary_value))
    """).fetchone()[0]
    if bad:
        return f"{bad} feature rows differ from the independent RFM-T"
    bad = con.execute("""SELECT COUNT(*) FROM
        (SELECT customer_id FROM expected WHERE frequency > 0 AND monetary_value > 0) r
        FULL OUTER JOIN predicted p ON r.customer_id = p.customer_id
      WHERE r.customer_id IS NULL OR p.customer_id IS NULL""").fetchone()[0]
    if bad:
        return f"scored population differs from the returning customers in {bad} ids"
    n_dup = con.execute("SELECT COUNT(*) - COUNT(DISTINCT customer_id) FROM predicted").fetchone()[0]
    if n_dup:
        return f"{n_dup} duplicate scored customers"
    bad = con.execute("""SELECT COUNT(*) FROM predicted WHERE
        predicted_purchases IS NULL OR NOT isfinite(predicted_purchases)
        OR predicted_avg_value IS NULL OR NOT isfinite(predicted_avg_value)
        OR clv IS NULL OR NOT isfinite(clv)""").fetchone()[0]
    if bad:
        return f"{bad} non-finite scores"
    bad = con.execute("""SELECT COUNT(*) FROM predicted WHERE clv < 0
        OR negatif_clv_flag NOT IN (0, 1) OR (negatif_clv_flag = 1 AND clv <> 0)
        OR outliners_flag <> CASE WHEN clv > 1000000 THEN 1 ELSE 0 END""").fetchone()[0]
    if bad:
        return f"{bad} rows whose clipping flags disagree with clv"
    return None


def same_scores(plain, traced):
    """The traced run's scored snapshot equals runDaily's on the same inputs."""
    con = _con()
    a, b = f"read_parquet('{plain}/predicted/*.parquet')", f"read_parquet('{traced}/predicted/*.parquet')"
    n = con.execute(f"""SELECT (SELECT COUNT(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}))
        + (SELECT COUNT(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))""").fetchone()[0]
    return None if n == 0 else f"traced scored snapshot differs from runDaily's in {n} rows"


def _norm(df):
    """Column-sorted, row-sorted frame with dates as strings."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        nonnull = df[c].dropna()
        if str(df[c].dtype).startswith("datetime") or (
                df[c].dtype == object and len(nonnull) and hasattr(nonnull.iloc[0], "isoformat")):
            s = pd.to_datetime(df[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle(check, data_dir):
    """A query result matches its DuckDB oracle SQL on the same tables:
    same columns, same rows, floats within 1e-9."""
    if check.get("sql") is None:
        return "no oracle SQL"
    files = glob.glob(os.path.join(check["dir"], "*.parquet"))
    if not files:
        return "no result files"
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    con = _con()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    exp = con.execute(check["sql"]).fetchdf()
    if len(got) == 0 and len(exp) == 0:
        return None
    g, e = _norm(got), _norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows vs oracle {len(e)}"
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f" or ev.dtype.kind == "f":
            ok = np.allclose(gv.astype(float).fillna(-1e308), ev.astype(float).fillna(-1e308),
                             rtol=0, atol=1e-9)
        else:
            ok = (gv.astype(str).fillna("NULL") == ev.astype(str).fillna("NULL")).all()
        if not ok:
            return f"column {c} differs from the oracle"
    return None


def run_all(raw, data_dir):
    """{op index: reason} for every op whose output check failed."""
    failed = {}
    plain = {}
    for c in raw.get("checks", []):
        try:
            reason = clv(c) if c["kind"] == "clv" else oracle(c, data_dir)
        except Exception as e:  # a check that cannot run is a failed check
            reason = f"check error: {type(e).__name__}: {e}"
        if reason:
            failed[c["op"]] = reason
        elif c["kind"] == "clv" and not c["traced"]:
            plain[(c["data_pass"], c["day"])] = c["dir"]
    for c in raw.get("checks", []):
        key = (c.get("data_pass"), c.get("day"))
        if c["kind"] == "clv" and c["traced"] and c["op"] not in failed and key in plain:
            reason = same_scores(plain[key], c["dir"])
            if reason:
                failed[c["op"]] = reason
    return failed
