"""The fixed dashboard query set, once through the package and once as DuckDB
SQL over the expected state.

Every workload runs the same five queries; later changes refer to them by
these names. Each Spark query is forced to completion with `collect()`.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from buskafkasparkstreaming_spark.cdc.manifest_table import ManifestUpsertTable
from buskafkasparkstreaming_spark.functions import epoch_millis_to_ts, haversine_km
from buskafkasparkstreaming_spark.operators.windows_fn import sessionize, topk_per_group

from inputs import COLS

NAMES = (
    "q_point_lookup",
    "q_latest_per_vehicle",
    "q_route_speed",
    "q_time_slice",
    "q_vehicle_trips",
)
#: trips split where a vehicle reports nothing for longer than this
TRIP_GAP_S = 75
#: q_vehicle_trips sums floating-point distances; Spark and DuckDB may add
#: them in another order, so `km` compares within this relative tolerance
KM_REL_TOL = 1e-9


@dataclass(frozen=True)
class Params:
    keys: tuple[int, ...]  # q_point_lookup
    lo: int  # q_time_slice, inclusive event_time bounds
    hi: int


def run_spark(spark, table, p: Params, tracer) -> tuple[dict[str, list[tuple]], dict[str, float]]:
    """Run the query set against a committed table; return answers and the
    wall seconds of each query."""
    answers, secs = {}, {}
    manifest = isinstance(table, ManifestUpsertTable)

    def base() -> DataFrame:
        return table.read().select(*COLS)

    def point() -> DataFrame:
        if manifest:
            return table.read_keys(list(p.keys)).select(*COLS)
        return base().filter(F.col("record_id").isin(list(p.keys)))

    def latest() -> DataFrame:
        top = topk_per_group(base(), ["id"], [F.col("event_time").desc()], 1)
        return top.select(*COLS)

    def route_speed() -> DataFrame:
        base().createOrReplaceTempView("bus_status")
        return spark.sql(
            "SELECT routeId, count(*) AS n, max(kph) AS max_kph, sum(kph) AS sum_kph "
            "FROM bus_status GROUP BY routeId"
        )

    def time_slice() -> DataFrame:
        if manifest:
            return table.read_where("event_time", p.lo, p.hi).select(*COLS)
        return base().filter(F.col("event_time").between(p.lo, p.hi))

    def trips() -> DataFrame:
        pings = base().withColumn("ts", epoch_millis_to_ts("event_time"))
        s = sessionize(pings, "id", "ts", TRIP_GAP_S)
        w = Window.partitionBy("id", "session_id").orderBy("event_time")
        leg = haversine_km(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon"))
        return (
            s.withColumn("km", leg)
            .groupBy("id", "session_id")
            .agg(
                F.count("*").alias("pings"),
                F.min("event_time").alias("start_ms"),
                F.max("event_time").alias("end_ms"),
                F.sum("km").alias("km"),
            )
        )

    for name, build in zip(NAMES, (point, latest, route_speed, time_slice, trips)):
        t = time.perf_counter()
        with tracer.span(f"query.{name}"):
            rows = build().collect()
        secs[name] = time.perf_counter() - t
        answers[name] = [tuple(r) for r in rows]
    return answers, secs


_HAVERSINE = """2 * 6371.0088 * asin(sqrt(
    pow(sin(radians(lat - plat) / 2), 2)
    + cos(radians(plat)) * cos(radians(lat)) * pow(sin(radians(lon - plon) / 2), 2)))"""

_COLS = ", ".join(f'"{c}"' for c in COLS)


def oracle_sql(p: Params) -> dict[str, str]:
    """The same five answers as DuckDB SQL over a relation `exp`."""
    keys = ", ".join(str(k) for k in p.keys)
    return {
        "q_point_lookup": f"SELECT {_COLS} FROM exp WHERE record_id IN ({keys})",
        "q_latest_per_vehicle": f"""
            SELECT {_COLS} FROM (
              SELECT *, row_number() OVER (PARTITION BY id ORDER BY event_time DESC) AS rn
              FROM exp) WHERE rn = 1""",
        "q_route_speed": """
            SELECT "routeId", count(*), max(kph), sum(kph) FROM exp GROUP BY "routeId" """,
        "q_time_slice": f"SELECT {_COLS} FROM exp WHERE event_time BETWEEN {p.lo} AND {p.hi}",
        "q_vehicle_trips": f"""
            WITH b AS (
              SELECT *, CASE WHEN lag(event_time) OVER w IS NULL
                               OR event_time - lag(event_time) OVER w > {TRIP_GAP_S * 1000}
                             THEN 1 ELSE 0 END AS brk
              FROM exp WINDOW w AS (PARTITION BY id ORDER BY event_time)),
            s AS (
              SELECT *, sum(brk) OVER (PARTITION BY id ORDER BY event_time
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM b),
            l AS (
              SELECT *, lag(lat) OVER w2 AS plat, lag(lon) OVER w2 AS plon
              FROM s WINDOW w2 AS (PARTITION BY id, session_id ORDER BY event_time))
            SELECT id, session_id, count(*), min(event_time), max(event_time),
                   sum({_HAVERSINE})
            FROM l GROUP BY id, session_id""",
    }


def run_oracle(con, p: Params) -> dict[str, list[tuple]]:
    """DuckDB answers over the relation `exp` registered on `con`."""
    return {name: con.execute(sql).fetchall() for name, sql in oracle_sql(p).items()}
