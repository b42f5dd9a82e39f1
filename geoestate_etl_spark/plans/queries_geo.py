"""Synthetic-coordinate helpers for the geospatial registry query
(``queries_suites.q_geo_distance_radius``).

The testdata has no coordinate columns, so the query derives
deterministic synthetic lat/lon from integer keys with exact integer
arithmetic — the identical formula appears in the DuckDB oracle
(:func:`_coords_cte`), so the geo operators themselves (haversine,
bbox, grid bucketing, radius join) are what's being verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MOSCOW = (55.75, 37.62)

#: synthetic coords: exact integer arithmetic, same in the SQL oracle
_LAT_SQL = "((k * 7919) % 14000) / 100.0 - 70.0"
_LON_SQL = "((k * 104729) % 34000) / 100.0 - 170.0"


def _with_coords(df: DataFrame, key: str, lat: str = "lat", lon: str = "lon") -> DataFrame:
    k = F.col(key)
    return df.withColumn(lat, ((k * 7919) % 14000) / 100.0 - 70.0).withColumn(
        lon, ((k * 104729) % 34000) / 100.0 - 170.0
    )


def _coords_cte(table: str, key: str, lat: str = "lat", lon: str = "lon") -> str:
    return (
        f"SELECT *, {_LAT_SQL.replace('k', key)} AS {lat}, "
        f"{_LON_SQL.replace('k', key)} AS {lon} FROM {table}"
    )


_HAVERSINE = (
    "2 * 6371.0 * asin(sqrt("
    "pow(sin((radians({la2}) - radians({la1})) / 2), 2) + "
    "cos(radians({la1})) * cos(radians({la2})) * "
    "pow(sin((radians({lo2}) - radians({lo1})) / 2), 2)))"
)
