"""Output checks of the engine benchmark.

- `oracle`: every query result the JVM wrote is compared with DuckDB
  running the query's reference SQL (`graft.SparkEntry.oracleSql`) over
  the same parquet inputs, the way tools/check_parity.py compares them:
  same column names, same row count, and equal values row by row with
  columns taken in name order.
- `refresh_expectation` / `ingest_base`: the ingest workload's
  read-after-write aggregate and final base table against what the
  generator predicts for last-writer-wins upserts of its batches.
"""
import datetime
import glob
import os
import sys

import duckdb
import pandas as pd

import gen

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_parity import norm, values_equal  # noqa: E402

EPOCH = datetime.datetime(1970, 1, 1)


def oracle(data_dir, results_dir):
    """Returns one failure string per query whose result differs. Each
    result is the parquet directory `results_dir/<query>` beside the
    query's reference SQL in `results_dir/<query>.sql`; the comparison is
    tools/check_parity.py's."""
    failures = []
    sqls = sorted(glob.glob(os.path.join(results_dir, "*.sql")))
    if not sqls:
        return failures
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in gen.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for sql_path in sqls:
        name = os.path.basename(sql_path)[:-4]
        with open(sql_path) as f:
            sql = f.read()
        try:
            files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
            got = norm(pd.concat([pd.read_parquet(f) for f in files]))
            want = norm(con.execute(sql).df())
        except Exception as e:  # an unreadable result or a failing oracle
            failures.append(f"{name}: {e}")
            continue
        if list(got.columns) != list(want.columns):
            failures.append(f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}")
            continue
        if len(got) != len(want):
            failures.append(f"{name}: {len(got)} rows != oracle {len(want)}")
            continue
        for c in got.columns:
            bad = [(r, x, y) for r, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist()))
                   if not values_equal(x, y)]
            if bad:
                r, x, y = bad[0]
                failures.append(f"{name}: column {c} differs from oracle in {len(bad)} rows,"
                                f" first row {r}: {x!r} != {y!r}")
                break
    return failures


def _cents(value):
    return int(round(value * 100))


def refresh_expectation(base):
    """`event_type:count:sum(round(value*100))` per event type, in type
    order: what the read-after-write query must return for `base`."""
    agg = {}
    for row, _ in base.values():
        n, c = agg.get(row[3], (0, 0))
        agg[row[3]] = (n + 1, c + _cents(row[4]))
    return ";".join(f"{k}:{n}:{c}" for k, (n, c) in sorted(agg.items()))


def ingest_base(base_dir, predicted):
    """Compares the upserted base with the predicted final table."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT event_id, epoch_us(ts), user_id, event_type, value, props, batch_ts "
            f"FROM read_parquet('{base_dir}/*/*.parquet', hive_partitioning = true) "
            "ORDER BY event_id").fetchall()
    except Exception as e:
        return [f"ingest: base unreadable: {e}"]
    want = []
    for key in sorted(predicted):
        row, batch = predicted[key]
        ts_us = (row[1] - EPOCH) // datetime.timedelta(microseconds=1)
        want.append((row[0], ts_us, row[2], row[3], row[4], row[5], batch))
    if len(rows) != len(want):
        return [f"ingest: base holds {len(rows)} rows, generator predicts {len(want)}"]
    for got, exp in zip(rows, want):
        if tuple(got) != exp:
            return [f"ingest: base row {got} != predicted {exp}"]
    return []
