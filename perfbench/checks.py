"""Output checks for the benchmark, run after the timed region.

Pipeline outputs are compared with a DuckDB replay of the pipeline's
semantics on the same generated input (row count, an order-insensitive
content hash, a two-way EXCEPT ALL, and for sorted outputs the exact row
order). Operator outputs are compared with the query's DuckDB oracle SQL,
using the compare rules of the engine's correctness gate: columns sorted by
name, floats as float64, integers as nullable Int64, exact equality.
"""
import csv
import glob

import duckdb
import pandas as pd

# graft.schema.EventSchema: synonym maps and the ordinal severity encoding
STATUS_SYNONYMS = {
    "ok": "success", "pass": "success", "passed": "success",
    "success": "success", "succeeded": "success", "allowed": "success",
    "grant": "success", "failure": "failure", "failed": "failure",
    "error": "failure", "denied": "failure", "deny": "failure",
    "blocked": "failure", "unauthorized": "failure", "unknown": "unknown",
    "": "unknown",
}
SEVERITY_SYNONYMS = {
    "informational": "info", "information": "info", "info": "info",
    "notice": "low", "low": "low", "warn": "medium", "warning": "medium",
    "medium": "medium", "med": "medium", "high": "high", "severe": "high",
    "critical": "critical", "crit": "critical", "emergency": "critical",
    "unknown": "unknown", "": "unknown",
}
SEVERITY_SCORES = {"info": 0, "low": 1, "medium": 2, "high": 3, "critical": 4}

OUTPUT_COLUMNS = [
    "event_id", "ts", "user_id", "event_type", "status", "severity",
    "source_ip", "severity_score", "user_event_count_total",
    "user_daily_avg_events", "session_id", "session_event_count",
    "session_duration_seconds"]


def _canon(c):
    return (f"regexp_replace(regexp_replace(lower(trim({c})), "
            f"'[\\s\\-]+', '_', 'g'), '_+', '_', 'g')")


def _mapped(c, synonyms):
    cases = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in synonyms.items())
    return f"coalesce(CASE {c} {cases} END, {c})"


REPLAY_SQL = f"""
WITH filled AS (
  SELECT event_id, ingest, trim(ts_raw) AS ts_raw,
    trim(coalesce(user_raw, 'unknown')) AS user_raw,
    trim(coalesce(etype_raw, 'unknown')) AS etype_raw,
    trim(coalesce(status_raw, 'unknown')) AS status_raw,
    trim(coalesce(sev_raw, 'unknown')) AS sev_raw,
    trim(coalesce(ip_raw, '0.0.0.0')) AS ip_raw
  FROM raw_in WHERE event_id IS NOT NULL),
dedup AS (
  SELECT * FROM (SELECT *, row_number() OVER (
    PARTITION BY event_id ORDER BY ingest DESC) AS rn FROM filled) WHERE rn = 1),
parsed AS (
  SELECT *, try_strptime(ts_raw, '%Y-%m-%d %H:%M:%S') AS ts FROM dedup
  WHERE try_strptime(ts_raw, '%Y-%m-%d %H:%M:%S') IS NOT NULL),
canon AS (
  SELECT event_id, ingest, ts,
    {_canon('user_raw')} AS user_c,
    coalesce({_canon('etype_raw')}, 'unknown') AS event_type,
    coalesce({_canon('status_raw')}, 'unknown') AS status_c,
    coalesce({_canon('sev_raw')}, 'unknown') AS sev_c,
    ip_raw
  FROM parsed),
norm AS (
  SELECT event_id, ingest, ts,
    CASE WHEN user_c = '' THEN 'unknown' ELSE user_c END AS user_id,
    event_type,
    {_mapped('status_c', STATUS_SYNONYMS)} AS status,
    {_mapped('sev_c', SEVERITY_SYNONYMS)} AS severity,
    CASE WHEN ip_raw IS NULL OR ip_raw = '' THEN '0.0.0.0' ELSE ip_raw END AS source_ip
  FROM canon),
daily AS (
  SELECT user_id, CAST(count(ts) AS DOUBLE)
    / CAST(count(DISTINCT date_trunc('day', ts)) AS DOUBLE) AS user_daily_avg_events
  FROM norm GROUP BY user_id),
gaps AS (
  SELECT *, epoch(ts) - lag(epoch(ts)) OVER (
    PARTITION BY user_id ORDER BY ts, ingest) AS gap
  FROM norm),
sess AS (
  SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END) OVER (
    PARTITION BY user_id ORDER BY ts, ingest
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gaps),
stats AS (
  SELECT user_id, session_id, count(event_id) AS session_event_count,
    max(epoch(ts)) - min(epoch(ts)) AS session_duration_seconds
  FROM sess GROUP BY 1, 2)
SELECT CAST(s.event_id AS BIGINT) AS event_id, s.ts, s.user_id, s.event_type,
  s.status, s.severity, s.source_ip,
  CAST(CASE s.severity {" ".join(f"WHEN '{k}' THEN {v}" for k, v in SEVERITY_SCORES.items())}
       END AS DOUBLE) AS severity_score,
  count(s.event_id) OVER (PARTITION BY s.user_id) AS user_event_count_total,
  d.user_daily_avg_events, s.session_id, st.session_event_count,
  st.session_duration_seconds, s.ingest
FROM sess s
JOIN daily d ON s.user_id = d.user_id
JOIN stats st ON s.user_id = st.user_id AND s.session_id = st.session_id
"""

SPARK_OUTPUT_SQL = """
SELECT CAST(event_id AS BIGINT) AS event_id,
  CAST(strptime(left("timestamp", 19), '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts,
  user_id, event_type, status, severity, source_ip,
  CAST(severity_score AS DOUBLE) AS severity_score,
  CAST(user_event_count_total AS BIGINT) AS user_event_count_total,
  CAST(user_daily_avg_events AS DOUBLE) AS user_daily_avg_events,
  CAST(session_id AS BIGINT) AS session_id,
  CAST(session_event_count AS BIGINT) AS session_event_count,
  CAST(session_duration_seconds AS DOUBLE) AS session_duration_seconds
FROM read_csv({paths}, header = true, all_varchar = true)
"""


def _load_raw(con, path):
    """The generated CSV as `raw_in`, with each row's ingest order."""
    cols = ["event_id", "ts_raw", "user_raw", "etype_raw", "status_raw",
            "sev_raw", "ip_raw"]
    with open(path, newline="") as f:
        rows = list(csv.reader(f))[1:]
    df = pd.DataFrame(rows, columns=cols).replace("", None)
    df["event_id"] = pd.to_numeric(df["event_id"]).astype("Int64")
    df["ingest"] = range(len(df))
    con.register("raw_df", df)
    con.execute("CREATE OR REPLACE TABLE raw_in AS SELECT * FROM raw_df")


def check_pipeline(con, replays, check):
    """Compare one pipeline output directory with the replay."""
    key = check["input"]
    if key not in replays:
        _load_raw(con, key)
        name = f"want_{len(replays)}"
        con.execute(f"CREATE OR REPLACE TABLE {name} AS {REPLAY_SQL}")
        replays[key] = name
    want = replays[key]
    files = sorted(glob.glob(f"{check['output']}/part-*.csv"))
    if not files:
        return "no output file"
    con.execute("CREATE OR REPLACE TABLE got AS " + SPARK_OUTPUT_SQL.format(paths=files))
    cols = ", ".join(OUTPUT_COLUMNS)
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
    if n_got != n_want:
        return f"row count {n_got} != {n_want}"
    h_got = con.execute(f"SELECT sum(hash({cols})::HUGEINT) FROM got").fetchone()[0]
    h_want = con.execute(f"SELECT sum(hash({cols})::HUGEINT) FROM {want}").fetchone()[0]
    if h_got != h_want:
        diff = con.execute(f"""SELECT
            (SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM {want})) +
            (SELECT count(*) FROM (SELECT {cols} FROM {want} EXCEPT ALL SELECT {cols} FROM got))
            """).fetchone()[0]
        return f"content differs: {diff} rows"
    if check.get("sorted"):
        order = con.execute(
            f"SELECT event_id FROM {want} ORDER BY user_id, ts, ingest").fetchall()
        # a single-file scan keeps the file's row order
        got_order = con.execute("SELECT event_id FROM got").fetchall()
        if len(files) != 1 or got_order != order:
            return "output is not one file in (user_id, timestamp, ingest order) order"
    return None


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_localize(None)
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        out[c] = s
    return pd.DataFrame(out).reset_index(drop=True)


def check_oracle(con, views, check):
    """Compare one operator output with its oracle SQL."""
    tables = check["tables"]
    if tables not in views:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
        views.add(tables)
    files = sorted(glob.glob(f"{check['output']}/part-*.parquet"))
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    if check.get("sql") is None:
        return None if len(got) > 0 else "rows-only check: 0 rows"
    want = con.execute(check["sql"]).df()
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    for c in g.columns:
        eq = (g[c].isna() & w[c].isna()) | (g[c] == w[c])
        if not eq.fillna(False).all():
            i = int((~eq.fillna(False)).idxmax())
            return f"col {c} first diff @row {i}: got={g[c][i]!r} want={w[c][i]!r}"
    return None


def run_checks(checks):
    """Run every check; returns (attempted, failures)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    replays, views, failures = {}, set(), []
    for c in checks:
        try:
            err = (check_pipeline(con, replays, c) if c["kind"] == "pipeline"
                   else check_oracle(con, views, c))
        except Exception as e:  # a check that cannot run is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            failures.append({"output": c["output"], "error": err})
    con.close()
    return len(checks), failures
