"""DuckDB oracle for the benchmark's outputs.

`compute` runs each gate's oracle SQL (the engine's own registry, dumped by
the build) over the generated tables and stores the result as parquet,
once per workload and seed. `Checker.check` compares one written Spark
output with its oracle by the rule of `tools/check.py`: the same column
names, the same rows after sorting, values equal or within 1e-9 relative.
`canon` and `approx_eq` are the ones `tools/check.py` uses.

`q_holt_forecast`'s SQL replays Holt's recurrence as a recursive CTE, which
takes minutes at these sizes; its oracle instead runs `q_holt_prep`'s SQL
(the dense per-series input) in DuckDB and folds the same quantile trim
and Holt recurrence in Python.
"""
import os
import sys

import duckdb

from gen import TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import approx_eq, canon  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def quantile_trim(ys, p_lo=0.2, p_hi=0.8):
    """HoltForecast.quantileTrim: keep values inside the type-7 quantiles."""
    if len(ys) < 5:
        return ys
    s = sorted(ys)

    def q(p):
        pos = p * (len(s) - 1)
        lo = int(pos)
        frac = pos - lo
        return s[lo] + (s[lo + 1] - s[lo]) * frac if lo + 1 < len(s) else s[lo]
    qlo, qhi = q(p_lo), q(p_hi)
    kept = [y for y in ys if qlo <= y <= qhi]
    return kept or ys


def holt_fit(ys, alpha=0.5, beta=0.3):
    if len(ys) == 1:
        return ys[0], 0.0
    level, trend = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        prev = level
        level = alpha * y + (1 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1 - beta) * trend
    return level, trend


def holt_forecast(con, prep_sql, horizon=6):
    dense = con.sql(f"SELECT series, y FROM ({prep_sql}) ORDER BY series, bucket").fetchall()
    rows, cur, ys = [], None, []

    def emit():
        kept = quantile_trim(ys)
        level, trend = holt_fit(kept)
        rows.extend((cur, h, level + h * trend, level, trend, len(kept))
                    for h in range(1, horizon + 1))
    for series, y in dense:
        if series != cur:
            if ys:
                emit()
            cur, ys = series, []
        ys.append(y)
    if ys:
        emit()
    return rows


def compute(data_dir, sql, gates, out_dir):
    """Write `<out_dir>/<gate>.parquet` for every gate not yet computed."""
    os.makedirs(out_dir, exist_ok=True)
    con = connect(data_dir)
    for g in gates:
        path = os.path.join(out_dir, f"{g}.parquet")
        if os.path.exists(path):
            continue
        tmp = path + ".tmp"
        if g == "q_holt_forecast":
            rows = holt_forecast(con, sql["q_holt_prep"])
            con.execute("CREATE OR REPLACE TEMP TABLE holt (series BIGINT, step INTEGER, "
                        "forecast DOUBLE, level DOUBLE, trend DOUBLE, n_obs INTEGER)")
            if rows:
                con.executemany("INSERT INTO holt VALUES (?, ?, ?, ?, ?, ?)", rows)
            con.execute(f"COPY holt TO '{tmp}' (FORMAT PARQUET)")
        else:
            con.execute(f"COPY ({sql[g]}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, path)
    con.close()


class Checker:
    """Compares written outputs with the oracle results of one workload."""

    def __init__(self, oracle_dir):
        self.oracle_dir = oracle_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute("SET TimeZone = 'UTC'")
        self.oracle = {}     # gate -> (columns, sorted rows)

    def _rows(self, path):
        """(sorted column names, rows sorted by check.py's rule)."""
        src = (os.path.join(path, "*.parquet") if os.path.isdir(path) else path)
        rel = self.con.sql(f"SELECT * FROM read_parquet('{src}')")
        cols = sorted(rel.columns)
        return cols, canon(rel.project(", ".join(f'"{c}"' for c in cols)).fetchall())

    def check(self, gate, out_path):
        """None when the output matches its oracle, else a short reason."""
        if gate not in self.oracle:
            self.oracle[gate] = self._rows(os.path.join(self.oracle_dir, f"{gate}.parquet"))
        cols, want = self.oracle[gate]
        try:
            got_cols, got = self._rows(out_path)
        except duckdb.Error as e:
            return f"unreadable output: {str(e)[:120]}"
        if got_cols != cols:
            return f"columns {got_cols} != oracle {cols}"
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        for i, (r1, r2) in enumerate(zip(got, want)):
            for c, x, y in zip(cols, r1, r2):
                if x != y and not approx_eq(x, y):
                    return f"row {i} col {c}: {str(x)[:40]} != oracle {str(y)[:40]}"
        return None
