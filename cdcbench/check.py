"""Correctness checks made apart from Spark, and the checker's self-test.

* the committed table against the plain-Python fold of the spool
  (`inputs.fold_file`): row count, key set and every row;
* every query answer against DuckDB over that expected state: integers and
  strings exactly, the float `km` sums of q_vehicle_trips within
  `queries.KM_REL_TOL`;
* conservation: lines = upserts + deletes + corrupt, quarantine rows =
  corrupt lines injected, table rows = live keys.

Run `python3 cdcbench/check.py` for the self-test: it feeds the checker a
deliberately altered table and a deliberately wrong answer and exits non-zero
unless both are caught. The benchmark also runs it at the start of every run.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402

from inputs import COLS  # noqa: E402
from queries import KM_REL_TOL, Params, run_oracle  # noqa: E402

ARROW_SCHEMA = pa.schema(
    [
        ("record_id", pa.int32()), ("id", pa.int32()), ("routeId", pa.int32()),
        ("directionId", pa.string()), ("predictable", pa.int16()),
        ("secsSinceReport", pa.int32()), ("kph", pa.int32()), ("heading", pa.int32()),
        ("lat", pa.float64()), ("lon", pa.float64()), ("leadingVehicleId", pa.int32()),
        ("event_time", pa.int64()),
    ]
)


def expected_relation(state: dict[int, dict]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the expected table registered as `exp`."""
    con = duckdb.connect()
    rows = list(state.values())
    tbl = pa.table({c: [r[c] for r in rows] for c in COLS}, schema=ARROW_SCHEMA)
    con.register("exp", tbl)
    return con


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, round(v, 6) if isinstance(v, float) else v) for v in row)


def _same(a, b, float_tol: bool) -> bool:
    if float_tol and isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=KM_REL_TOL, abs_tol=KM_REL_TOL)
    return a == b


def diff_rows(name: str, got: list[tuple], want: list[tuple], float_tol: bool = False) -> list[str]:
    """Human-readable differences between two row multisets (empty: equal).
    Floats compare exactly unless `float_tol`."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    errs = []
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_same(a, b, float_tol) for a, b in zip(g, w)):
            errs.append(f"{name}: got {g}, expected {w}")
            if len(errs) >= 3:
                break
    return errs


def check_table(rows: list[tuple], state: dict[int, dict]) -> list[str]:
    """The committed table (rows in COLS order) against the fold."""
    got_keys = [r[0] for r in rows]
    errs = []
    if len(got_keys) != len(set(got_keys)):
        errs.append(f"table: {len(got_keys) - len(set(got_keys))} duplicate keys")
    if set(got_keys) != set(state):
        missing, extra = set(state) - set(got_keys), set(got_keys) - set(state)
        errs.append(
            f"table: key set differs ({len(missing)} missing e.g. {sorted(missing)[:5]}, "
            f"{len(extra)} extra e.g. {sorted(extra)[:5]})"
        )
    want = [tuple(r[c] for c in COLS) for r in state.values()]
    return errs + diff_rows("table", rows, want)


def check_answers(answers: dict[str, list[tuple]], oracle: dict[str, list[tuple]]) -> list[str]:
    errs = []
    for name, want in oracle.items():
        errs += diff_rows(name, answers[name], want, float_tol=(name == "q_vehicle_trips"))
    return errs


def check_conservation(counts: dict, routed: dict, quarantined: int, table_rows: int, live: int) -> list[str]:
    """`counts`: the fold's line counts; `routed`: what the package's
    parse + route_ops made of the same spool."""
    errs = []
    if counts["lines"] != routed["upserts"] + routed["deletes"] + routed["corrupt"]:
        errs.append(f"lines {counts['lines']} != routed {routed}")
    for k in ("upserts", "deletes", "corrupt"):
        if routed[k] != counts[k]:
            errs.append(f"routed {k} {routed[k]} != generated {counts[k]}")
    if quarantined != counts["corrupt"]:
        errs.append(f"quarantine rows {quarantined} != corrupt lines {counts['corrupt']}")
    if table_rows != live:
        errs.append(f"table rows {table_rows} != live keys {live}")
    return errs


def self_test() -> None:
    """The checker must reject an altered table and a wrong answer."""
    state = {
        k: {
            "record_id": k, "id": 1000 + k % 3, "routeId": 7, "directionId": "7_0",
            "predictable": 1, "secsSinceReport": 3, "kph": 10 + k, "heading": 90,
            "lat": 43.6 + k / 1000, "lon": -79.4, "leadingVehicleId": None,
            "event_time": 1_704_067_200_000 + 30_000 * k,
        }
        for k in range(1, 13)
    }
    rows = [tuple(r[c] for c in COLS) for r in state.values()]
    if check_table(rows, state):
        raise SystemExit("self-test: the checker rejects a correct table")
    altered = list(rows)
    altered[4] = altered[4][:6] + (altered[4][6] + 1,) + altered[4][7:]
    if not check_table(altered, state):
        raise SystemExit("self-test: an altered table passed the checker")
    if not check_table(rows[:-1], state):
        raise SystemExit("self-test: a table missing a row passed the checker")
    p = Params(keys=(2, 5, 99), lo=1_704_067_200_000, hi=1_704_067_200_000 + 90_000)
    oracle = run_oracle(expected_relation(state), p)
    if check_answers(oracle, oracle):
        raise SystemExit("self-test: the checker rejects correct answers")
    wrong = dict(oracle)
    (rid, n, mx, sm), = oracle["q_route_speed"]
    wrong["q_route_speed"] = [(rid, n, mx, sm + 1)]
    if not check_answers(wrong, oracle):
        raise SystemExit("self-test: a wrong q_route_speed answer passed the checker")
    trips = oracle["q_vehicle_trips"]
    wrong = dict(oracle, q_vehicle_trips=[t[:-1] + ((t[-1] or 0) * 1.001 + 0.01,) for t in trips])
    if not check_answers(wrong, oracle):
        raise SystemExit("self-test: a wrong q_vehicle_trips distance passed the checker")


if __name__ == "__main__":
    self_test()
    print("check self-test: altered table and wrong answers were rejected")
