"""Output checks against an independent DuckDB computation.

* ``check_daily``: the final GDX table and the per-currency report the
  program produced, against a DuckDB last-write-wins merge and report
  over the same landed files.
* ``check_queries``: every sampled query with oracle SQL must match
  DuckDB on the same tables; the rest must return rows.

Each function returns a list of failure messages (empty when all pass).
"""

import glob
import json
import math
import os

import duckdb

RAW_COLUMNS = {"r030": "BIGINT", "txt": "VARCHAR", "rate": "DOUBLE",
               "cc": "VARCHAR", "exchangedate": "VARCHAR"}
KEEP = ("USD", "EUR")

# reportPerCurrency over `t`, as of `$as_of`; Sql.davg is a DECIMAL(38,6) sum
# over the row count
REPORT_SQL = """
WITH r AS (
  SELECT *, row_number() OVER (PARTITION BY cc ORDER BY exchangedate DESC) AS rn,
         count(*) OVER (PARTITION BY cc) AS cnt
  FROM t)
SELECT cc,
  max(CASE WHEN rn = 1 THEN rate END) AS last_rate,
  max(CASE WHEN rn = 1 THEN exchangedate END) AS last_date,
  max(CASE WHEN rn = 1 THEN rate END)
    - max(CASE WHEN rn = least(cnt, 31) THEN rate END) AS change_month,
  min(CASE WHEN exchangedate >= CAST($as_of AS DATE) - 365 THEN rate END) AS year_min,
  max(CASE WHEN exchangedate >= CAST($as_of AS DATE) - 365 THEN rate END) AS year_max,
  CAST(sum(CAST(rate AS DECIMAL(38, 6))) AS DOUBLE) / count(*) AS avg_all_time,
  count(*) AS days
FROM r GROUP BY cc ORDER BY cc
"""


def _columns(extra=None):
    cols = dict(RAW_COLUMNS, **(extra or {}))
    return "{" + ", ".join(f"'{k}': '{v}'" for k, v in cols.items()) + "}"


def _lww(con, landed):
    """Last-write-wins over `landed` (cc, txt, rate, exchangedate text,
    ingest_ts, seq): parse dates as transform does, keep USD/EUR, newest
    ingest_ts wins per (cc, date), a later load winning a tie."""
    con.execute(f"""
      CREATE OR REPLACE TABLE t AS
      SELECT cc, txt, rate, d AS exchangedate, rate * 100 AS rate_per_100, ingest_ts
      FROM (
        SELECT *, CAST(try_strptime(exchangedate, '%d.%m.%Y') AS DATE) AS d
        FROM ({landed}))
      WHERE cc IN {KEEP} AND d IS NOT NULL
      QUALIFY row_number() OVER (PARTITION BY cc, d ORDER BY ingest_ts DESC, seq DESC) = 1
    """)


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _read_ndjson(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _compare(name, got, want, cols):
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        for c in cols:
            if not _close(g.get(c), w.get(c)):
                return [f"{name}: row {i} column {c}: {g.get(c)!r} != {w.get(c)!r}"]
    return []


def _check_table_and_report(con, check_dir, as_of):
    fails = []
    got = sorted(_read_ndjson(os.path.join(check_dir, "table.ndjson")),
                 key=lambda r: (r["cc"], r["exchangedate"]))
    want = [dict(zip(("cc", "txt", "rate", "exchangedate", "rate_per_100", "ingest_ts"),
                     (r[0], r[1], r[2], r[3].isoformat(), r[4],
                      r[5].strftime("%Y-%m-%dT%H:%M:%S.000Z"))))
            for r in con.execute("SELECT * FROM t ORDER BY cc, exchangedate").fetchall()]
    fails += _compare("table", got, want,
                      ["cc", "txt", "rate", "exchangedate", "rate_per_100", "ingest_ts"])
    for g in got:
        if g["k"] % 1000 != {"USD": 840, "EUR": 978}[g["cc"]]:
            fails.append(f"table: key {g['k']} does not encode {g['cc']}")
            break
    rep_cols = ["cc", "last_rate", "last_date", "change_month", "year_min", "year_max",
                "avg_all_time", "days"]
    want_rep = [dict(zip(rep_cols, r)) for r in
                con.execute(REPORT_SQL, {"as_of": as_of}).fetchall()]
    for w in want_rep:
        w["last_date"] = w["last_date"].isoformat()
    fails += _compare("report", _read_ndjson(os.path.join(check_dir, "report.ndjson")),
                      want_rep, rep_cols)
    return fails


def check_daily(inputs, check_dir, loaded, as_of):
    """`loaded` payloads of the schedule were applied after the history."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    sched = [line.rstrip("\n").split("\t")
             for line in open(os.path.join(inputs, "schedule.tsv"), encoding="utf-8")][:loaded]
    con.execute("CREATE TABLE sched (file VARCHAR, ingest_ts TIMESTAMP, seq INTEGER)")
    con.executemany("INSERT INTO sched VALUES (?, ?, ?)",
                    [(os.path.join(inputs, "payloads", s[0]), s[2], i + 1)
                     for i, s in enumerate(sched)])
    hist = os.path.join(inputs, "history", "*.json")
    files = [os.path.join(inputs, "payloads", s[0]) for s in sched]
    landed = f"""
      SELECT cc, txt, rate, exchangedate, CAST(ingest_ts AS TIMESTAMP) AS ingest_ts, 0 AS seq
      FROM read_json('{hist}', format = 'newline_delimited',
                     columns = {_columns({"ingest_ts": "VARCHAR"})})
      UNION ALL
      SELECT p.cc, p.txt, p.rate, p.exchangedate, s.ingest_ts, s.seq
      FROM read_json({files!r}, format = 'array', filename = true,
                     columns = {_columns()}) p
      JOIN sched s ON p.filename = s.file"""
    _lww(con, landed)
    return _check_table_and_report(con, check_dir, as_of)


def check_queries(sf_dir, results_dir, sample, oracle_sql):
    """`sample`: query names; `oracle_sql`: name -> DuckDB SQL."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    fails = []
    for q in sample:
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        if not files:
            fails.append(f"{q}: no result written")
            continue
        got_t = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        if q not in oracle_sql:
            if got_t.num_rows == 0:
                fails.append(f"{q}: returned no rows")
            continue
        try:
            want_t = con.execute(oracle_sql[q]).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"{q}: oracle error {e}")
            continue
        cols = sorted(got_t.column_names)
        if cols != sorted(want_t.column_names):
            fails.append(f"{q}: columns {cols} != {sorted(want_t.column_names)}")
            continue
        got = got_t.select(cols).to_pylist()
        want = want_t.select(cols).to_pylist()
        fails += _compare(q, got, want, cols)
    return fails
