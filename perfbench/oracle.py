"""Independent answers for every request shape, computed by DuckDB straight
from the generated rows (never from anything the package wrote).

The derived-log expressions restate ``workload.reference_star`` in SQL:
Spark's ``CAST(double AS BIGINT)`` truncates, so DuckDB spells it
``trunc``; integer ``/`` is float division on both sides.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

from clickhouse_learning_spark.functions.metrics import HLL_LG_K

# HLL estimates may differ from the exact count by three standard errors
# of the sketch (1.04 / sqrt(2^lg_k), 1.6% at lg_k = 12)
HLL_TOLERANCE = 3 * 1.04 / math.sqrt(2**HLL_LG_K)

EVENTS = """
SELECT e.event_id, e.ts, CAST(e.ts AS DATE) AS day,
       date_trunc('hour', e.ts) AS hour, e.user_id AS uid, e.event_type,
       e.value, coalesce(c.c_mktsegment, 'UNKNOWN') AS segment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
"""
USER_DIM = """
SELECT c_custkey AS uid, c_mktsegment AS platform,
       CASE WHEN c_custkey % 11 < 5 THEN 'male'
            WHEN c_custkey % 11 < 10 THEN 'female' ELSE 'unknown' END AS gender
FROM customer
"""
# build_action_001 / build_action_002 (the item-price join does not
# touch the columns the benchmark reads)
ACTIONS = """
WITH b AS (
  SELECT day, uid, event_id, CAST(floor(value) AS BIGINT) AS fv, value FROM ev
), a AS (
  SELECT day, uid,
         fv % 100 + 1 AS show_cnt,
         CASE WHEN uid % 13 = 0 OR fv % 100 + 1 >= 80
              THEN event_id % (fv % 100 + 2) ELSE 0 END AS click_cnt,
         CAST(floor(value * 1000) AS BIGINT) % 29001 + 1000 AS show_time,
         CASE WHEN uid % 13 = 0 THEN fv % 61 + 40 ELSE fv % 61 END AS act_a,
         event_id % 11 AS act_d
  FROM b
), a2 AS (
  SELECT *, CASE WHEN act_a >= 50 THEN CAST(floor(act_a / 2) AS BIGINT) ELSE 0 END
            AS act_b FROM a
)
SELECT a2.*, CASE WHEN act_b >= 20 THEN CAST(floor(act_b / 3) AS BIGINT) ELSE 0 END
             AS act_c, coalesce(u.gender, 'unknown') AS gender,
       coalesce(u.platform, '') AS platform
FROM a2 LEFT JOIN user_dim u USING (uid)
"""


class Oracle:
    """DuckDB over one event log plus the customer table."""

    def __init__(self, events: pa.Table, customer: pa.Table):
        self.con = duckdb.connect()
        self.con.register("events", events)
        self.con.register("customer", customer)
        self.con.execute(f"CREATE TEMP VIEW ev AS {EVENTS}")
        self.con.execute(f"CREATE TEMP VIEW user_dim AS {USER_DIM}")
        self.con.execute(f"CREATE TEMP VIEW act AS {ACTIONS}")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str, *args) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql, list(args)).fetchall()]

    # -- the mainpage rollup (both workloads) --------------------------------
    def rollup(self, by: str, day=None) -> list[tuple]:
        where = "WHERE day = ?" if day is not None else ""
        keys = ", ".join(["day", by]) if by != "day" else "day"
        return self.rows(
            f"""SELECT {keys},
                count(DISTINCT uid) FILTER (WHERE event_type = 'view'),
                count(*) FILTER (WHERE event_type = 'click'),
                sum(CAST(trunc(value * 1000) AS BIGINT)),
                median(CAST(trunc(value * 1000) AS BIGINT)),
                count(*)
            FROM ev {where} GROUP BY {keys}""",
            *([day] if day is not None else []),
        )

    # -- dashboard ---------------------------------------------------------------
    def funnel_dashboard(self, day) -> list[tuple]:
        return self.rows(
            """WITH u AS (
                 SELECT uid, bool_or(show_cnt > 0) s, bool_or(click_cnt > 0) c,
                        bool_or(act_a > 0) a, bool_or(act_b > 0) b,
                        bool_or(act_c > 0) cc, bool_or(act_d > 0) d
                 FROM act WHERE day = ? GROUP BY uid)
               SELECT ?::DATE, count(*) FILTER (s), count(*) FILTER (s AND c),
                      count(*) FILTER (s AND c AND a),
                      count(*) FILTER (s AND c AND a AND b),
                      count(*) FILTER (s AND c AND a AND b AND cc),
                      count(*) FILTER (s AND c AND a AND b AND cc AND d)
               FROM u""",
            day, day,
        )

    def sql_dashboard(self, by: str, day) -> list[tuple]:
        return self.rows(
            f"""SELECT {by}, sum(show_cnt), sum(click_cnt)
                FROM act WHERE day = ? GROUP BY {by}""",
            day,
        )

    def raw_dashboard(self, attr: str, day) -> list[tuple]:
        return self.rows(
            f"""SELECT {attr}, count(DISTINCT uid), sum(show_cnt)
                FROM act WHERE day = ? GROUP BY {attr}""",
            day,
        )

    # -- live --------------------------------------------------------------------
    def funnel_live(self, day) -> list[tuple]:
        return self.rows(
            """WITH u AS (
                 SELECT uid, bool_or(event_type = 'view') v,
                        bool_or(event_type = 'click') c,
                        bool_or(event_type = 'signup') s,
                        bool_or(event_type = 'purchase') p
                 FROM ev WHERE day = ? GROUP BY uid)
               SELECT ?::DATE, count(*) FILTER (v), count(*) FILTER (v AND c),
                      count(*) FILTER (v AND c AND s),
                      count(*) FILTER (v AND c AND s AND p)
               FROM u""",
            day, day,
        )

    def sql_live(self, by: str, day) -> list[tuple]:
        return self.rows(
            f"""SELECT {by}, count(*) FILTER (WHERE event_type = 'click'), count(*)
                FROM ev WHERE day = ? GROUP BY {by}""",
            day,
        )

    def raw_live(self, attr: str, day) -> list[tuple]:
        return self.rows(
            f"""SELECT coalesce(u.{attr}, ''), count(DISTINCT ev.uid), count(*)
                FROM ev LEFT JOIN user_dim u USING (uid) WHERE day = ?
                GROUP BY 1""",
            day,
        )


def compare(got: list[tuple], want: list[tuple], n_keys: int,
            approx: tuple[int, ...] = ()) -> str | None:
    """None when ``got`` matches ``want`` row for row (matched on the first
    ``n_keys`` columns); else a description of the first mismatch. Columns
    in ``approx`` are HLL estimates checked against ``HLL_TOLERANCE``;
    every other value must be equal (floats to the last bit of a double
    median, which both sides compute as the mean of two integers)."""
    g = {r[:n_keys]: r[n_keys:] for r in got}
    w = {r[:n_keys]: r[n_keys:] for r in want}
    if len(g) != len(got) or g.keys() != w.keys():
        return f"keys differ: got {sorted(map(str, g))[:5]} want {sorted(map(str, w))[:5]}"
    for k, wv in w.items():
        for i, (a, b) in enumerate(zip(g[k], wv)):
            col = n_keys + i
            if col in approx:
                if abs(a - b) > HLL_TOLERANCE * max(b, 1):
                    return f"{k} col {col}: HLL {a} vs exact {b}"
            elif isinstance(b, float) or isinstance(a, float):
                if float(a) != float(b):
                    return f"{k} col {col}: {a} != {b}"
            elif a != b:
                return f"{k} col {col}: {a} != {b}"
    return None
