"""Independent correctness checks, computed with DuckDB from the generated
inputs and compared with what the program wrote."""

from __future__ import annotations

import duckdb
import pandas as pd

# approx_count_distinct's default relative standard deviation is 0.05. A
# pass compares ~1600 HLL values, so the bound is five standard deviations
# (a false alarm about once in a million values), and at least 2 for the
# small counts where one register collision is already 5%.
HLL_RSD = 0.05
HLL_SIGMAS = 5


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def stream_expected(in_dir: str, customer: str, watermark_s: int, window_s: int, slide_s: int) -> pd.DataFrame:
    """Finalized windows of the reference pipeline, recomputed from the files.

    Batch k runs with watermark W_k = max(ts of files before k) - watermark,
    and drops rows at or behind it. Duplicate ids are exact copies, so the
    survivor does not matter. Append mode emits a window once the final
    watermark has passed its end.
    """
    w_us, win_us, slide_us = watermark_s * 10**6, window_s * 10**6, slide_s * 10**6
    n_win = win_us // slide_us
    sql = f"""
    WITH ev AS (
        SELECT *, epoch_us(ts) AS us,
               CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INTEGER) AS k
        FROM read_parquet('{in_dir}/*.parquet', filename = true)
    ),
    fmax AS (SELECT k, max(us) AS mx FROM ev GROUP BY k),
    wm AS (
        SELECT f.k, (SELECT max(g.mx) FROM fmax g WHERE g.k < f.k) - {w_us} AS w FROM fmax f
    ),
    kept AS (SELECT ev.* FROM ev JOIN wm USING (k) WHERE wm.w IS NULL OR ev.us > wm.w),
    dedup AS (SELECT DISTINCT ON (event_id) * FROM kept ORDER BY event_id),
    enr AS (
        SELECT d.event_id, d.user_id, d.us,
               coalesce(lower(trim(d.event_type)), 'unknown') AS event_type_norm,
               coalesce(d.value, 0.0) AS v, c.c_mktsegment AS segment
        FROM dedup d LEFT JOIN read_parquet('{customer}') c ON d.user_id = c.c_custkey
    ),
    win AS (
        SELECT enr.*, (us // {slide_us}) * {slide_us} - i * {slide_us} AS ws
        FROM enr, range({n_win}) t(i)
    ),
    final_wm AS (SELECT max(us) - {w_us} AS w FROM ev)
    SELECT ws AS window_start_us, event_type_norm, segment,
           CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           count(DISTINCT event_id) AS unique_events,
           count(DISTINCT user_id) AS unique_users,
           max(us) AS max_ts_us,
           count(*) AS n_events
    FROM win
    WHERE ws + {win_us} <= (SELECT w FROM final_wm)
    GROUP BY ALL
    """
    return _con().execute(sql).df()


def read_lake(lake: str) -> pd.DataFrame:
    sql = f"""
    SELECT epoch_us(window_start) AS window_start_us, event_type_norm,
           nullif(segment, '__HIVE_DEFAULT_PARTITION__') AS segment,
           total_value, unique_events, unique_users,
           epoch_us(max_ts) AS max_ts_us, n_events
    FROM read_parquet('{lake}/*/*.parquet', hive_partitioning = true,
                      hive_types = {{'segment': VARCHAR}})
    """
    return _con().execute(sql).df()


def compare_windows(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Mismatch notes (empty when the lake is right)."""
    keys = ["window_start_us", "event_type_norm", "segment"]
    notes = []
    if len(actual) != len(expected):
        notes.append(f"rows: lake={len(actual)} expected={len(expected)}")
    a = actual.fillna({"segment": "<null>"}).set_index(keys)
    e = expected.fillna({"segment": "<null>"}).set_index(keys)
    if a.index.has_duplicates:
        notes.append("duplicate window rows in the lake")
        return notes
    missing = e.index.difference(a.index)
    extra = a.index.difference(e.index)
    if len(missing) or len(extra):
        notes.append(f"windows missing={len(missing)} extra={len(extra)}")
    both = e.index.intersection(a.index)
    a, e = a.loc[both], e.loc[both]
    for col in ("n_events", "total_value", "max_ts_us"):
        bad = int((a[col].astype("float64") != e[col].astype("float64")).sum())
        if bad:
            notes.append(f"{col}: {bad} windows differ")
    for col in ("unique_events", "unique_users"):
        exact = e[col].astype("float64")
        err = (a[col].astype("float64") - exact).abs()
        over = err > (HLL_SIGMAS * HLL_RSD * exact).clip(lower=2.0)
        if over.any():
            i = err[over].idxmax()
            notes.append(f"{col}: {int(over.sum())} windows outside HLL error (worst {a.loc[i, col]} vs {exact.loc[i]})")
    return notes


def daily_compare(sf_dir: str, lake: str, dates: list[str], oracle_sql: str, compare_frames) -> dict[str, list[str]]:
    """Per run date, mismatch notes between the written partition and the
    daily_segment_metrics oracle SQL on the generated table."""
    con = _con()
    for t in ("events", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = con.execute(f"SELECT * FROM ({oracle_sql}) WHERE CAST(event_date AS VARCHAR) IN "
                         f"(SELECT unnest(?))", [dates]).df()
    lake_df = con.execute(
        f"SELECT * FROM read_parquet('{lake}/*/*.parquet', hive_partitioning = true,"
        f" hive_types = {{'event_date': DATE}})"
    ).df()
    out = {}
    for d in dates:
        o = oracle[oracle["event_date"].astype(str) == d].reset_index(drop=True)
        a = lake_df[lake_df["event_date"].astype(str) == d].reset_index(drop=True)
        a = a[list(o.columns)] if set(o.columns) <= set(a.columns) else a
        res = compare_frames(f"daily {d}", a, o)
        out[d] = [] if res.ok else (res.notes or ["mismatch"])
    return out
