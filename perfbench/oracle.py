"""Independent DuckDB oracle for the weather tables.

Built from the generated batches alone, with the reference's rule: for
each key (UTC hour, latitude, longitude, source) the row of the latest
``load_ds`` wins, and within one batch the later array position wins.
``date`` and ``hour`` are the local calendar date and hour.

Rows are compared as tuples of plain values, with timestamps and dates as
strings, so neither engine's Python conversions matter.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from payloads import Batch

ROW_SQL = """
WITH staged AS (
    SELECT local_time - to_minutes(offset_min) AS ts,
           CAST(local_time AS DATE) AS date,
           CAST(hour(local_time) AS INTEGER) AS hour,
           latitude, longitude, timezone, temperature_c, load_ds, pos
    FROM batches
    WHERE load_ds <= CAST(? AS DATE)
), latest AS (
    SELECT * FROM staged
    QUALIFY row_number() OVER (
        PARTITION BY ts, latitude, longitude ORDER BY load_ds DESC, pos DESC) = 1
)
"""

# one row per date: the aggregate every read returns
AGG_COLUMNS = "CAST(date AS VARCHAR) AS date, count(*) AS n, count(temperature_c) AS n_temp, " \
    "sum(CAST(round(temperature_c * 10) AS BIGINT)) AS t10, sum(hour) AS hours, " \
    "CAST(max(load_ds) AS VARCHAR) AS max_load_ds"


class WeatherOracle:
    def __init__(self, batches: list[Batch]):
        rows = [
            (b.location.latitude, b.location.longitude, b.location.timezone,
             b.location.offset_min, b.ds, pos, t, temp)
            for b in batches
            for pos, (t, temp) in enumerate(zip(b.times, b.temps))
        ]
        frame = pd.DataFrame(rows, columns=[
            "latitude", "longitude", "timezone", "offset_min", "load_ds", "pos",
            "local_time", "temperature_c"])
        frame["load_ds"] = pd.to_datetime(frame["load_ds"]).dt.date
        frame["local_time"] = pd.to_datetime(frame["local_time"])
        frame["temperature_c"] = frame["temperature_c"].astype("float64")
        self.con = duckdb.connect()
        self.con.register("batches_df", frame)
        self.con.execute("CREATE TABLE batches AS SELECT * FROM batches_df")
        self.con.unregister("batches_df")

    def close(self) -> None:
        self.con.close()

    def table(self, as_of: str) -> list[tuple]:
        """Every L2 row as it stands after the ``as_of`` load, sorted."""
        sql = ROW_SQL + """
            SELECT strftime(ts, '%Y-%m-%d %H:%M:%S'), CAST(date AS VARCHAR), hour,
                   latitude, longitude, timezone, temperature_c,
                   CAST(load_ds AS VARCHAR), 'open-meteo'
            FROM latest ORDER BY ALL"""
        return [tuple(r) for r in self.con.execute(sql, [as_of]).fetchall()]

    def daily(self, as_of: str, latitude: float, longitude: float,
              first_date: str | None = None, last_date: str | None = None) -> list[tuple]:
        """Per-date aggregate of one location's L2 rows as of ``as_of``,
        optionally restricted to ``first_date <= date <= last_date``."""
        sql = ROW_SQL + f"""
            SELECT {AGG_COLUMNS} FROM latest
            WHERE latitude = ? AND longitude = ?
              AND (? IS NULL OR date >= CAST(? AS DATE))
              AND (? IS NULL OR date <= CAST(? AS DATE))
            GROUP BY date ORDER BY date"""
        params = [as_of, latitude, longitude, first_date, first_date, last_date, last_date]
        return [tuple(r) for r in self.con.execute(sql, params).fetchall()]
