"""Correctness references for the alert pipeline, run outside timed code.

- ``replay_batch`` is checked against a DuckDB SQL twin over the same
  parquet files (the pattern of ``operators.risk._alerts_oracle``).
- The streaming workloads are checked against the engine's batch path
  run over the exact files the stream consumed; that reference is
  written as parquet by Spark and compared here.

Comparison is by key ``(pid, series, seq, measure)`` with exact double
equality on ``measure_value`` and ``ref_value``.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

from psd_project_spark.config import DEFAULT_CONFIG, MEASURES
from psd_project_spark.functions.measures import grouped_measures_oracle_sql

KEY = ("pid", "series", "seq", "measure")


def _round_sql(expr: str, digits: int) -> str:
    """Spark's ``F.round`` on a double, in DuckDB: HALF_UP on the
    shortest decimal representation."""
    return (
        f"CAST(CAST(round(CAST(CAST({expr} AS STRING) AS DECIMAL(38,21)), {digits})"
        " AS STRING) AS DOUBLE)"
    )


def alerts_twin_sql(parquet_glob: str) -> str:
    """DuckDB twin of the batch replay: portfolio projection, 30-row
    count windows per series, six measures, population stats per series
    and the alert predicate."""
    n = DEFAULT_CONFIG.window_size
    d = DEFAULT_CONFIG.measure_round_digits
    k = max(n // DEFAULT_CONFIG.tail_fraction, 1)
    w = DEFAULT_CONFIG.weights
    portfolio = "0.0" + "".join(
        f" + r{i + 1} * CAST({wi!r} AS DOUBLE)" for i, wi in enumerate(w)
    )
    series = " UNION ALL ".join(
        f"SELECT pid, seq, {i} AS series, r{i + 1} AS value FROM s" for i in range(6)
    ) + " UNION ALL SELECT pid, seq, 6 AS series, portfolio AS value FROM s"
    tail = " + ".join(f"l[{i}]" for i in range(1, k + 1))
    measures = {
        "mean": "mean",
        "median": f"(l[{n // 2}] + l[{n // 2 + 1}]) / 2" if n % 2 == 0 else f"l[{(n + 1) // 2}]",
        "q10": f"l[{n // 10 + 1}]",
        "tail_mean": f"({tail}) / {k}",
        "sm1": f"mean - list_aggregate(list_transform(l, x -> abs(x - mean)), 'sum') / {2 * n}",
        "sm2": (
            f"mean - list_aggregate(list_transform(generate_series(1, {n}),"
            f" i -> (2 * i - {n + 1}) * l[i]), 'sum') / {n * n}"
        ),
    }
    m_cols = ",\n  ".join(f"{_round_sql(e, d)} AS {m}" for m, e in measures.items())
    unpivot = ", ".join(f"('{m}', {m})" for m in MEASURES)
    stats = grouped_measures_oracle_sql("long", ["series"], "value", digits=d)
    return f"""
WITH s AS (
  SELECT pid, seq, r1, r2, r3, r4, r5, r6, {portfolio} AS portfolio
  FROM read_parquet('{parquet_glob}')
), long AS ({series}),
win AS (
  SELECT pid, series, seq,
         list_sort(list(value) OVER (PARTITION BY pid, series ORDER BY seq
                   ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)) AS l
  FROM long
), wm AS (
  SELECT pid, series, seq, l, list_aggregate(l, 'sum') / {n} AS mean
  FROM win WHERE len(l) = {n}
), m AS (
  SELECT pid, series, seq,
  {m_cols}
  FROM wm
), stats_w AS ({stats}),
long_m AS (
  SELECT pid, series, seq, u.measure, u.value
  FROM m, LATERAL (VALUES {unpivot}) AS u(measure, value)
), stats_l AS (
  SELECT series, u.measure, u.ref_value
  FROM stats_w, LATERAL (VALUES {unpivot}) AS u(measure, ref_value)
)
SELECT l.pid, l.series, l.seq, l.measure, l.value AS measure_value, s.ref_value
FROM long_m l JOIN stats_l s ON l.series = s.series AND l.measure = s.measure
WHERE l.value < s.ref_value
  AND (s.ref_value - l.value) / (1.0 + s.ref_value) >= {DEFAULT_CONFIG.alert_threshold}
"""


@dataclass
class Check:
    ref_rows: int
    out_rows: int
    exact: int
    wrong: int
    missing: int
    extra: int


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = false")
    return con


def compare(con, ref_table: str, out_sql: str) -> Check:
    """Compare the alert rows of ``out_sql`` with ``ref_table``."""
    on = " AND ".join(f"o.{c} = r.{c}" for c in KEY)
    same = "o.measure_value = r.measure_value AND o.ref_value = r.ref_value"
    con.execute(f"CREATE OR REPLACE TEMP TABLE out_rows AS {out_sql}")
    ref_rows, out_rows, exact, keyed = con.execute(
        f"""
SELECT
  (SELECT count(*) FROM {ref_table}),
  (SELECT count(*) FROM out_rows),
  (SELECT count(*) FROM {ref_table} r
     WHERE EXISTS (SELECT 1 FROM out_rows o WHERE {on} AND {same})),
  (SELECT count(*) FROM {ref_table} r
     WHERE EXISTS (SELECT 1 FROM out_rows o WHERE {on}))
"""
    ).fetchone()
    con.execute("DROP TABLE out_rows")
    return Check(
        ref_rows=ref_rows,
        out_rows=out_rows,
        exact=exact,
        wrong=keyed - exact,
        missing=ref_rows - keyed,
        # output rows beyond one per reference key: spurious or duplicate
        extra=out_rows - keyed,
    )
