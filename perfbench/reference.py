"""DuckDB reference results over the same generated files.

Each function reads the inputs a workload generated and returns what the
package's outputs must equal. DuckDB never sees anything the package wrote,
except in :func:`bronze_shape`, which reads the interactive workload's
Bronze table to learn its row count and columns.
"""

from __future__ import annotations

import glob
import os

import duckdb

BUCKET_SQL = """CASE WHEN delay_min IS NULL THEN 'Unknown'
                     WHEN delay_min <= 0 THEN 'On Time'
                     WHEN delay_min <= 30 THEN 'Minor'
                     WHEN delay_min <= 60 THEN 'Moderate'
                     ELSE 'Severe' END"""


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def flights(flights_dir: str, routes_path: str) -> dict:
    """Silver row count, DQ violation counts and the Gold rows of the batch
    medallion op."""
    con = _con()
    con.execute(f"""
        CREATE VIEW raw AS SELECT * FROM read_csv('{flights_dir}/*.csv',
            header = true, all_varchar = true)""")
    con.execute("""
        CREATE TABLE silver AS
        SELECT FlightNo, Status, CAST(DelayMinutes AS INTEGER) AS DelayMinutes,
               CAST(ActualArrival AS TIMESTAMP) AS ActualArrival,
               date_diff('second', CAST(ScheduledArrival AS TIMESTAMP),
                         CAST(ActualArrival AS TIMESTAMP)) // 60 AS delay_min
        FROM raw WHERE Status <> 'Cancelled'""")
    con.execute(f"""
        CREATE VIEW routes AS SELECT * FROM read_csv('{routes_path}',
            header = true, all_varchar = true)""")
    silver_rows = con.execute("SELECT count(*) FROM silver").fetchone()[0]
    dq = con.execute("""
        SELECT count(*) FILTER (WHERE ActualArrival IS NULL),
               count(*) FILTER (WHERE DelayMinutes IS NULL OR DelayMinutes < -60
                                OR DelayMinutes > 600),
               count(*) FILTER (WHERE Status IS NULL
                                OR Status NOT IN ('On Time', 'Delayed'))
        FROM silver""").fetchone()
    gold = con.execute(f"""
        SELECT r.Origin AS RouteOrigin, {BUCKET_SQL} AS delay_bucket,
               count(*) AS flights, sum(delay_min) AS delay_sum,
               max(delay_min) AS delay_max
        FROM silver s JOIN routes r USING (FlightNo)
        GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    con.close()
    return {
        "silver_rows": silver_rows,
        "dq": {"arrival_not_null": dq[0], "delay_in_range": dq[1],
               "status_accepted": dq[2]},
        "gold": [tuple(r) for r in gold],
    }


def sensors(files: list[str]) -> dict:
    """Bronze row count, distinct key count and Gold rows over the given
    landed JSON batches."""
    con = _con()
    flist = ", ".join(f"'{f}'" for f in files)
    con.execute(f"""
        CREATE VIEW bronze AS SELECT * FROM read_json([{flist}], format = 'newline_delimited',
            columns = {{sensor_id: 'VARCHAR', temperature: 'DOUBLE', humidity: 'DOUBLE',
                       pressure: 'DOUBLE', "timestamp": 'TIMESTAMP', location: 'VARCHAR'}})""")
    rows, keys = con.execute(
        "SELECT count(*), count(DISTINCT (sensor_id, \"timestamp\")) FROM bronze").fetchone()
    gold = con.execute("""
        WITH s AS (
            SELECT sensor_id, humidity, (temperature - 32) * 5 / 9 AS temp_c,
                   hour("timestamp") AS hour FROM bronze)
        SELECT sensor_id, hour, count(*) AS readings, min(temp_c), max(temp_c),
               avg(temp_c), min(humidity), max(humidity), avg(humidity),
               sum(CASE WHEN temp_c < -20 OR temp_c > 50 THEN 1 ELSE 0 END) AS anomalies,
               sum(CASE WHEN temp_c < -20 OR temp_c > 50 THEN 1 ELSE 0 END) > 3
        FROM s GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    con.close()
    return {"rows": rows, "keys": keys, "gold": [tuple(r) for r in gold]}


def funnel(corpus_dir: str, oracle_sql: str) -> list[tuple]:
    """The curation funnel oracle over a ``documents`` view of the
    generated parquet."""
    con = _con()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus_dir}/*.parquet')")
    rows = con.execute(oracle_sql).fetchall()
    con.close()
    return [tuple(r) for r in rows]


def bronze_shape(data_path: str) -> tuple[int, list[str]]:
    """Row count and sorted column names of a partitioned Bronze table."""
    files = glob.glob(os.path.join(data_path, "**", "*.parquet"), recursive=True)
    con = _con()
    flist = ", ".join(f"'{f}'" for f in files)
    rel = con.execute(f"SELECT * FROM read_parquet([{flist}], hive_partitioning = true) LIMIT 0")
    cols = sorted(d[0] for d in rel.description)
    n = con.execute(
        f"SELECT count(*) FROM read_parquet([{flist}], hive_partitioning = true)").fetchone()[0]
    con.close()
    return n, cols
