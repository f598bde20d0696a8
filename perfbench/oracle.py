"""Independent expectation of the final table, computed by DuckDB
from the generated CSVs, and the order-insensitive comparison that
checks a Spark output against it.

The SQL is this benchmark's own copy of the golden-pipeline SQL in
``tests/test_golden_pipeline.py``, extended from block and mem to all
four metric files (cpu and llite added).  It encodes the FRESCO
semantics directly: per-timestamp device/core rollup, lag deltas per
(raw job id, node), the reset / 0.1 s / zero-jiffy drop rules, the
half-open job interval join, job-aligned one-minute buckets clamped
to the job end, the event pivot, the per-job host list and the
step-3 string finalizers.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from perfbench.gen import HEADERS, JIFFY_COLS

OUTPUT_COLUMNS = [
    "time", "submit_time", "start_time", "end_time", "timelimit",
    "nhosts", "ncores", "account", "queue", "host", "jid", "jobname",
    "exitcode", "host_list", "username",
    "value_cpuuser", "value_gpu", "value_memused",
    "value_memused_minus_diskcache", "value_nfs", "value_block",
]
SORT_KEYS = ["jid", "host", "time"]
RTOL = 1e-9

_RAW_STRINGS = {"jobID", "node", "timestamp", "device"}
_ACCT_COLS = ["jobID", "user", "account", "jobname", "queue", "nnodes",
              "ncpus", "walltime", "start", "end", "submit", "exit_status"]

_JID_F = ("regexp_replace(regexp_replace(jobID, 'jobID', 'JOB', 'g'), "
          "'job', 'JOB', 'g')")
_TS = "strptime(timestamp, '%m/%d/%Y %H:%M:%S')"
_DT = ("(epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0")
_W = "WINDOW w AS (PARTITION BY jobID, node ORDER BY ts)"
_CPU_SUM = " + ".join(f"d_{c}" for c in JIFFY_COLS)

EXPECTED_SQL = rf"""
WITH
block_roll AS (
  SELECT jobID, node, {_TS} AS ts, sum(rd_sectors + wr_sectors) AS total
  FROM raw_block GROUP BY jobID, node, ts
),
block_delta AS (
  SELECT jobID, node, ts, total - lag(total) OVER w AS d, {_DT} AS dt
  FROM block_roll {_W}
),
block_events AS (
  SELECT {_JID_F} AS jid_f, node AS host, ts, 'block' AS event,
         GREATEST(d * 512.0 / dt / 1073741824.0, 0.0) AS value
  FROM block_delta WHERE d IS NOT NULL AND d >= 0 AND dt >= 0.1
),
cpu_roll AS (
  SELECT jobID, node, {_TS} AS ts,
         {", ".join(f'sum("{c}") AS "{c}"' for c in JIFFY_COLS)}
  FROM raw_cpu WHERE device IS NOT NULL GROUP BY jobID, node, ts
),
cpu_delta AS (
  SELECT jobID, node, ts,
         {", ".join(f'"{c}" - lag("{c}") OVER w AS d_{c}' for c in JIFFY_COLS)}
  FROM cpu_roll {_W}
),
cpu_events AS (
  SELECT {_JID_F} AS jid_f, node AS host, ts, 'cpuuser' AS event,
         LEAST(GREATEST(d_user / ({_CPU_SUM}) * 100.0, 0.0), 100.0) AS value
  FROM cpu_delta WHERE ({_CPU_SUM}) > 0
),
llite_delta AS (
  SELECT jobID, node, ts,
         (read_bytes + write_bytes)
           - lag(read_bytes + write_bytes) OVER w AS d,
         {_DT} AS dt
  FROM (SELECT *, {_TS} AS ts FROM raw_llite) {_W}
),
llite_events AS (
  SELECT {_JID_F} AS jid_f, node AS host, ts, 'nfs' AS event,
         GREATEST(d / 1048576.0 / dt, 0.0) AS value
  FROM llite_delta WHERE d IS NOT NULL AND d >= 0 AND dt >= 0.1
),
mem_events AS (
  SELECT {_JID_F} AS jid_f, node AS host, {_TS} AS ts, e.event,
         CASE e.event
           WHEN 'memused' THEN GREATEST(MemUsed / 1073741824.0, 0.0)
           ELSE GREATEST((MemUsed - FilePages) / 1073741824.0, 0.0)
         END AS value
  FROM raw_mem,
       (SELECT 'memused' AS event UNION ALL
        SELECT 'memused_minus_diskcache') e
),
events AS (
  SELECT * FROM block_events UNION ALL SELECT * FROM cpu_events
  UNION ALL SELECT * FROM llite_events UNION ALL SELECT * FROM mem_events
),
acct AS (
  SELECT jobID, "user", account, jobname, queue, nnodes, ncpus, walltime,
         strptime(start, '%m/%d/%Y %H:%M:%S') AS jstart,
         strptime("end", '%m/%d/%Y %H:%M:%S') AS jend,
         strptime(submit, '%m/%d/%Y %H:%M:%S') AS jsubmit,
         exit_status,
         COALESCE(NULLIF(regexp_extract(jobID, '(\d+)$', 1), ''), jobID)
           AS jid
  FROM raw_acct
  WHERE strptime(start, '%m/%d/%Y %H:%M:%S')
        < strptime("end", '%m/%d/%Y %H:%M:%S')
),
joined AS (
  SELECT e.*, a.jid, a."user" AS username, a.account, a.jobname, a.queue,
         a.nnodes, a.ncpus, a.walltime, a.jstart, a.jend, a.jsubmit,
         a.exit_status
  FROM (SELECT *,
          COALESCE(NULLIF(regexp_extract(jid_f, '(\d+)$', 1), ''), jid_f)
            AS m_jid
        FROM events) e
  JOIN acct a ON e.m_jid = a.jid
   AND e.ts >= a.jstart AND e.ts < a.jend
),
bucketed AS (
  SELECT *,
    epoch_us(jstart)
      + ((epoch_us(ts) - epoch_us(jstart))
         - ((epoch_us(ts) - epoch_us(jstart)) % 60000000)) AS lo_us
  FROM joined
),
bucketed2 AS (
  SELECT *, LEAST(lo_us + 60000000, epoch_us(jend)) AS hi_us FROM bucketed
),
hl AS (
  SELECT jid, jstart, jend,
         string_agg(host, ',' ORDER BY host) AS host_list
  FROM (SELECT DISTINCT jid, jstart, jend, host FROM joined
        WHERE host IS NOT NULL AND host <> '')
  GROUP BY jid, jstart, jend
),
agg AS (
  SELECT jid, host, make_timestamp((lo_us + hi_us) // 2) AS time,
         jsubmit, jstart, jend, walltime, nnodes, ncpus, account, queue,
         jobname, exit_status, username, event,
         avg(value) AS avg_value
  FROM bucketed2
  GROUP BY ALL
)
SELECT agg.time AS time,
       jsubmit AS submit_time, agg.jstart AS start_time,
       agg.jend AS end_time,
       walltime AS timelimit, nnodes AS nhosts, ncpus AS ncores,
       account, queue,
       host || '_S' AS host,
       regexp_replace(regexp_replace(agg.jid, 'ID', ''), 'job', 'JOB')
         || '_S' AS jid,
       jobname, exit_status AS exitcode,
       hl.host_list || '_S' AS host_list,
       username || '_S' AS username,
       avg(CASE WHEN event = 'cpuuser' THEN avg_value END) AS value_cpuuser,
       CAST(NULL AS DOUBLE) AS value_gpu,
       avg(CASE WHEN event = 'memused' THEN avg_value END) AS value_memused,
       avg(CASE WHEN event = 'memused_minus_diskcache' THEN avg_value END)
         AS value_memused_minus_diskcache,
       avg(CASE WHEN event = 'nfs' THEN avg_value END) AS value_nfs,
       avg(CASE WHEN event = 'block' THEN avg_value END) AS value_block
FROM agg JOIN hl ON agg.jid = hl.jid
                AND agg.jstart = hl.jstart AND agg.jend = hl.jend
GROUP BY ALL
"""


def _read_csv_sql(glob: str, cols: list[str], numeric: dict) -> str:
    types = ", ".join(f"'{c}': '{numeric.get(c, 'VARCHAR')}'" for c in cols)
    return (f"SELECT * FROM read_csv('{glob}', header=true, "
            f"auto_detect=false, columns={{{types}}})")


def expected(raw_glob: str, acct_path: str) -> pd.DataFrame:
    """Final table for every CSV matching ``raw_glob`` (a pattern
    with one ``{metric}`` placeholder, e.g. ``root/*/{metric}*.csv``)
    joined to the accounting CSV at ``acct_path``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for m, header in HEADERS.items():
            cols = header.split(",")
            con.execute(f"CREATE VIEW raw_{m} AS "
                        + _read_csv_sql(raw_glob.format(metric=m), cols, {
                            c: "DOUBLE" for c in cols if c not in _RAW_STRINGS
                        }))
        con.execute("CREATE VIEW raw_acct AS "
                    + _read_csv_sql(acct_path, _ACCT_COLS, dict.fromkeys(
                        ("nnodes", "ncpus", "walltime"), "BIGINT")))
        return con.sql(EXPECTED_SQL).df()
    finally:
        con.close()


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[OUTPUT_COLUMNS].copy()
    for c in ("time", "submit_time", "start_time", "end_time"):
        df[c] = pd.to_datetime(df[c]).astype("datetime64[us]").astype("int64")
    return df.sort_values(SORT_KEYS, ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` as a set of rows: same row
    count, identical keys and strings and integers, doubles equal to
    a relative 1e-9 (the engines round in different orders), nulls in
    the same cells.  Otherwise a one-line reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    g, w = _canonical(got), _canonical(want)
    for c in OUTPUT_COLUMNS:
        if c.startswith("value_"):
            a = g[c].to_numpy(dtype="float64", na_value=np.nan)
            b = w[c].to_numpy(dtype="float64", na_value=np.nan)
            bad = ~np.isclose(a, b, rtol=RTOL, atol=0.0, equal_nan=True)
        else:
            a, b = g[c].to_numpy(), w[c].to_numpy()
            bad = np.array([x != y for x, y in zip(a, b)], dtype=bool)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return (f"column {c} differs in {int(bad.sum())} rows, first "
                    f"at {tuple(w.loc[i, SORT_KEYS])}: {a[i]!r} != {b[i]!r}")
    return None
