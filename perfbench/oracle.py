"""DuckDB oracle over the generated CSV tree.

Computed once per seed, before any timed window. Every expected result
is independent of Spark: DuckDB reads the same CSV files and answers
each query family in plain SQL, with the engine's pinned semantics
(ascending key tie-breaks, the noon rule, the hour > 23 date repair,
scheduled departure = actual − DepDelay). Averages are given
unrounded: how a mean that sits on a rounding tie comes out depends
on the engine's summation order, so ``check`` compares them within
the rounding step.
"""

from __future__ import annotations

import duckdb

_CSV_COLUMNS = (
    "{'FlightDate': 'DATE', 'UniqueCarrier': 'VARCHAR', 'FlightNum': 'INTEGER', "
    "'Origin': 'VARCHAR', 'Dest': 'VARCHAR', 'DepTime': 'VARCHAR', "
    "'DepDelay': 'DOUBLE', 'ArrDelay': 'DOUBLE'}"
)

_POPULARITY = """
    WITH c AS (SELECT Origin, Dest FROM ontime
               WHERE Origin IS NOT NULL AND Dest IS NOT NULL)
    SELECT airport, COUNT(*) AS flights
    FROM (SELECT Origin AS airport FROM c UNION ALL SELECT Dest FROM c)
    GROUP BY airport
"""


# The families whose outputs are exact (counts and keys): compared by
# value hash. The averaging families are checked by ``check.top_k_ok``.
BATCH_SQL = {
    "g1q1": f"SELECT * FROM ({_POPULARITY}) ORDER BY flights DESC, airport LIMIT 10",
    "g3q1": f"""
        SELECT airport, flights,
               row_number() OVER (ORDER BY flights DESC, airport) AS rank
        FROM ({_POPULARITY})
    """,
    "airports": """
        SELECT DISTINCT airport FROM (
          SELECT Origin AS airport FROM ontime UNION ALL SELECT Dest FROM ontime)
        WHERE airport IS NOT NULL
    """,
}

# The averaging families: (group keys, averaged column, output column,
# how many leading keys form the top-k partition).
AVG_FAMILIES = {
    "g1q2": (["UniqueCarrier"], "ArrDelay", "avg_arr_delay", 0),
    "g2q1": (["Origin", "UniqueCarrier"], "DepDelay", "avg_dep_delay", 1),
    "g2q2": (["Origin", "Dest"], "DepDelay", "avg_dep_delay", 1),
    "g2q3": (["Origin", "Dest", "UniqueCarrier"], "ArrDelay", "avg_arr_delay", 2),
}


def _means_sql(keys: list[str], value: str) -> str:
    cols = ", ".join(keys)
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in keys + [value])
    return f"SELECT {cols}, AVG({value}) FROM ontime WHERE {notnull} GROUP BY {cols}"


_LEGS = """
    CREATE TABLE legs AS
    WITH c AS (
      SELECT *, CAST(substr(DepTime, 1, 2) AS INTEGER) AS hh,
                CAST(substr(DepTime, 3, 2) AS INTEGER) AS mm
      FROM ontime
      WHERE year(FlightDate) = 2008
        AND Origin IS NOT NULL AND Dest IS NOT NULL AND FlightDate IS NOT NULL
        AND UniqueCarrier IS NOT NULL AND FlightNum IS NOT NULL
        AND DepTime IS NOT NULL AND DepDelay IS NOT NULL AND ArrDelay IS NOT NULL
        AND regexp_full_match(DepTime, '[0-9]{4}')
    ), d AS (
      SELECT *, CAST(CASE WHEN hh > 23 THEN FlightDate + 1 ELSE FlightDate END
                     AS TIMESTAMP)
                + to_hours(CASE WHEN hh > 23 THEN hh - 24 ELSE hh END)
                + to_minutes(mm)
                - to_minutes(CAST(trunc(DepDelay) AS BIGINT)) AS sched_dep
      FROM c
    )
    SELECT Origin, Dest, FlightDate, UniqueCarrier, FlightNum, ArrDelay,
           hour(sched_dep) * 3600 + minute(sched_dep) * 60
             + second(sched_dep) AS sched_sec,
           strftime(sched_dep, '%H:%M %d/%m/%Y') AS sched_dep_fmt
    FROM d
"""

_REQUESTS = """
    CREATE TABLE requests AS
    WITH a AS ({airports})
    SELECT o.airport AS origin, s.airport AS stop, d.airport AS dest,
           CAST(t.generate_series AS DATE) AS request_date
    FROM a o, a s, a d,
         generate_series(DATE '{start}', DATE '{end}', INTERVAL 1 DAY) t
    WHERE s.airport <> o.airport AND s.airport <> d.airport
      AND o.airport IN ({origins})
"""

LEG_COLUMNS = [
    "origin", "stop", "dest", "request_date", "arr_delay", "carrier",
    "flight_num", "leg_origin", "leg_dest", "leg_date", "sched_sec",
    "sched_dep_fmt",
]
_LEG_ON = {
    1: "l.Origin = r.origin AND l.Dest = r.stop "
       "AND l.FlightDate = r.request_date AND l.sched_sec < 43200",
    2: "l.Origin = r.stop AND l.Dest = r.dest "
       "AND l.FlightDate = r.request_date + 2 AND l.sched_sec > 43200",
}


def _leg_sql(leg: int) -> str:
    return f"""
        SELECT {", ".join(LEG_COLUMNS)} FROM (
          SELECT r.*, l.ArrDelay AS arr_delay, l.UniqueCarrier AS carrier,
                 l.FlightNum AS flight_num, l.Origin AS leg_origin,
                 l.Dest AS leg_dest, l.FlightDate AS leg_date,
                 l.sched_sec, l.sched_dep_fmt,
                 row_number() OVER (
                   PARTITION BY r.origin, r.stop, r.dest, r.request_date
                   ORDER BY l.ArrDelay, l.UniqueCarrier, l.FlightNum) AS rn
          FROM requests r JOIN legs l ON {_LEG_ON[leg]})
        WHERE rn = 1
    """


class Oracle:
    """Expected results for one generated CSV tree."""

    def __init__(self, csv_root: str):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE ontime AS SELECT * FROM read_csv("
            f"'{csv_root}/**/*.csv', header = true, auto_detect = false, "
            f"columns = {_CSV_COLUMNS})"
        )

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def batch(self) -> dict[str, tuple[list[str], list[tuple]]]:
        return {name: self.rows(sql) for name, sql in BATCH_SQL.items()}

    def means(self) -> dict[str, dict[tuple, float]]:
        """Unrounded group means of every averaging family, keyed by
        the group-key tuple."""
        out = {}
        for name, (keys, value, _, _) in AVG_FAMILIES.items():
            rows = self.con.execute(_means_sql(keys, value)).fetchall()
            out[name] = {tuple(r[:-1]): r[-1] for r in rows}
        return out

    def count(self) -> int:
        return self.con.execute("SELECT COUNT(*) FROM ontime").fetchone()[0]

    def toms(self, origins: list[str], start: str, end: str) -> dict[int, list[tuple]]:
        """Both legs' answers (columns ``LEG_COLUMNS``) for the
        requests from ``origins`` dated ``start``..``end``; also leaves
        the ``requests`` and ``legs`` tables behind for
        ``requests_count`` and ``misses``."""
        self.con.execute(_LEGS)
        quoted = ", ".join(f"'{o}'" for o in origins)
        self.con.execute(
            _REQUESTS.format(
                airports=BATCH_SQL["airports"], origins=quoted, start=start, end=end
            )
        )
        return {leg: self.rows(_leg_sql(leg))[1] for leg in (1, 2)}

    def requests_count(self) -> int:
        return self.con.execute("SELECT COUNT(*) FROM requests").fetchone()[0]

    def legs_count(self) -> int:
        return self.con.execute("SELECT COUNT(*) FROM legs").fetchone()[0]

    def misses(self, leg: int, n: int, seed: int) -> list[tuple]:
        """Up to ``n`` request keys that have no answer on ``leg``."""
        return self.con.execute(
            f"""
            SELECT origin, stop, dest, request_date FROM requests
            EXCEPT
            SELECT origin, stop, dest, request_date FROM ({_leg_sql(leg)})
            ORDER BY ALL LIMIT {n} OFFSET {seed % 997}
            """
        ).fetchall()

    def serving_rows(self, path: str) -> tuple[list[str], list[tuple]]:
        """Every row of a partitioned serving table the engine wrote."""
        return self.rows(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
            "hive_partitioning = true, hive_types_autocast = false)"
        )

    def close(self) -> None:
        self.con.close()
