#!/usr/bin/env python3
"""Writes the two four-row `events` fixtures under src/test/resources that pin
how `Tables.testTable` reads `events.ts`:

    events_micros/events.parquet  ts as parquet TIMESTAMP(MICROS)  (duckdb)
    events_nanos/events.parquet   ts as parquet TIMESTAMP(NANOS)   (pyarrow)

DuckDB 1.0 writes a TIMESTAMP_NS column as MICROS, so the NANOS file is
written with pyarrow. duckdb reads both back to check the physical type, and
the exact epochs (pyarrow reads the NANOS epochs back: duckdb 1.0 reads them
truncated to microseconds). Row 2 ends in ...456999 ns: integer division gives
...456 µs, double division rounds up to ...457 µs. Every epoch but row 4's
is above 2^53 ns.

    python3 tools/events_fixtures.py
"""
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RES = os.path.join(ROOT, "src", "test", "resources")

NANOS = [1704067200123456789, 1704067200123456999, 1735689599999999000, 86400000000001]
COLS = {
    "event_id": pa.array([1, 2, 3, 4], pa.int64()),
    "user_id": pa.array([11, 12, 13, 14], pa.int64()),
    "event_type": pa.array(["click", "view", "buy", "click"], pa.string()),
    "value": pa.array([1.5, 2.5, None, 4.0], pa.float64()),
    "props": pa.array(["{}", "{}", None, '{"k":1}'], pa.string()),
}


def table(ts):
    cols = dict(COLS)
    return pa.table({"event_id": cols.pop("event_id"), "ts": ts, **cols})


def main():
    con = duckdb.connect()
    micros = os.path.join(RES, "events_micros", "events.parquet")
    nanos = os.path.join(RES, "events_nanos", "events.parquet")
    for p in (micros, nanos):
        os.makedirs(os.path.dirname(p), exist_ok=True)
    ts_us = pa.array([n // 1000 for n in NANOS], pa.timestamp("us"))
    con.register("micros_src", table(ts_us))
    con.sql(f"COPY (SELECT * FROM micros_src ORDER BY event_id) TO '{micros}' (FORMAT PARQUET)")
    pq.write_table(table(pa.array(NANOS, pa.timestamp("ns"))), nanos, version="2.6")
    for p, unit, scale in ((micros, "MICROS", 1000), (nanos, "NANOS", 1)):
        (logical,) = con.sql(
            f"SELECT logical_type FROM parquet_schema('{p}') WHERE name = 'ts'").fetchone()
        assert f"{unit}=" in logical and f"{unit}=<null>" not in logical, (p, logical)
        got = pq.read_table(p, columns=["ts"]).column("ts").cast(pa.int64()).to_pylist()
        want = [n // scale for n in NANOS]
        assert got == want, (p, got, want)
        print(p, unit, got)


if __name__ == "__main__":
    main()
