"""Seeded input generation and the plain-Python fold that predicts the table.

Everything here is independent of Spark: the generator writes Debezium
envelope JSONL spools (through the package's own `poll_to_spool` for RestBus
ticks, and `envelopes_to_jsonl` for connector snapshots and backlogs), and
`fold_file` replays those spool files line by line with `json.loads` to get
the table the keyed precombine upsert must commit.

Rows follow `schemas.BUS_STATUS_SCHEMA`: key `record_id`, precombine
`event_time` (epoch millis), partition `routeId`. A key never changes its
`routeId`, and no key gets two rows with the same `event_time` in one file:
the merge has no tiebreak inside a batch, so such a winner would be
arbitrary.
"""

from __future__ import annotations

import json
import os
import random
import time

from buskafkasparkstreaming_spark.cdc.envelope import envelopes_to_jsonl
from buskafkasparkstreaming_spark.sources.http_poller import poll_to_spool

#: column order of schemas.BUS_STATUS_SCHEMA; every comparison uses it
COLS = (
    "record_id", "id", "routeId", "directionId", "predictable",
    "secsSinceReport", "kph", "heading", "lat", "lon", "leadingVehicleId",
    "event_time",
)
#: tick cadence of the RestBus poll (nifi-project.xml:1477: 30 s)
TICK_MS = 30_000
#: first tick of every generated history: 2024-01-01T00:00:00Z
T0_MS = 1_704_067_200_000
#: the rows of one history slot h live in [T0 + h*TICK, T0 + (h+1)*TICK):
#: one slot per key, so a vehicle's live rows never share an event_time
SLOT_MS = TICK_MS - 1


class Fleet:
    """Vehicles on routes, moving between polls (a RestBus agency feed)."""

    def __init__(self, rng: random.Random, vehicles: int, routes: int) -> None:
        self.rng = rng
        route_ids = sorted(rng.sample(range(1, 600), routes))
        self.vehicles = []
        for i in range(vehicles):
            route = route_ids[i % routes]
            self.vehicles.append(
                {
                    "id": 1000 + i,
                    "routeId": route,
                    "directionId": f"{route}_{rng.randint(0, 1)}",
                    "lat": round(rng.uniform(43.58, 43.80), 6),
                    "lon": round(rng.uniform(-79.60, -79.20), 6),
                }
            )

    def move(self, v: dict) -> dict:
        """One RestBus `items` entry: the vehicle after one poll interval."""
        rng = self.rng
        v["lat"] = round(v["lat"] + rng.uniform(-0.003, 0.003), 6)
        v["lon"] = round(v["lon"] + rng.uniform(-0.003, 0.003), 6)
        return {
            "id": v["id"],
            "routeId": v["routeId"],
            "directionId": v["directionId"],
            "predictable": rng.random() < 0.95,
            "secsSinceReport": rng.randint(0, 29),
            "kph": rng.randint(0, 60),
            "heading": rng.randint(0, 359),
            "lat": v["lat"],
            "lon": v["lon"],
            "leadingVehicleId": rng.choice((None, v["id"] + 1)),
        }

    def tick_body(self, present: float = 0.92) -> dict:
        """One poll response; a vehicle is missing from a tick now and then,
        which splits its trips."""
        return {
            "items": [self.move(v) for v in self.vehicles if self.rng.random() < present]
        }


class Spool:
    """A spool directory the file source drains. Files are published
    atomically (hidden temp name, then rename) with strictly ascending
    mtimes, because the file source orders micro-batches by mtime."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.files: list[str] = []
        self._mtime_ns = time.time_ns() - 3_600 * 10**9
        os.makedirs(path, exist_ok=True)

    def _published(self, paths: list[str]) -> list[str]:
        for p in paths:
            self._mtime_ns = max(self._mtime_ns + 10**9, time.time_ns() - 3_600 * 10**9)
            os.utime(p, ns=(self._mtime_ns, self._mtime_ns))
        self.files.extend(paths)
        return paths

    def publish_ticks(
        self, fleet: Fleet, first_tick: int, n_ticks: int, start_record_id: int
    ) -> list[str]:
        """Publish `n_ticks` polls through `poll_to_spool` with an injected
        fetcher and clock. Every ping gets the next AUTO_INCREMENT
        record_id, so the traffic is inserts only."""
        bodies = iter([fleet.tick_body() for _ in range(n_ticks)])
        clock = iter([T0_MS + (first_tick + i) * TICK_MS for i in range(n_ticks)])
        return self._published(
            list(
                poll_to_spool(
                    self.path,
                    fetch=lambda url: next(bodies),
                    interval_s=0.0,
                    max_polls=n_ticks,
                    start_record_id=start_record_id,
                    clock_ms=lambda: next(clock),
                )
            )
        )

    def publish_envelopes(self, name: str, envelopes: list[dict]) -> str:
        tmp, final = os.path.join(self.path, f"._{name}"), os.path.join(self.path, name)
        envelopes_to_jsonl(envelopes, tmp)
        os.rename(tmp, final)
        return self._published([final])[0]

    def publish_lines(self, name: str, lines: list[str]) -> str:
        tmp, final = os.path.join(self.path, f"._{name}"), os.path.join(self.path, name)
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("".join(line + "\n" for line in lines))
        os.rename(tmp, final)
        return self._published([final])[0]


def _row(rec: int, v: dict, item: dict, event_time: int) -> dict:
    return {
        "record_id": rec,
        "id": v["id"],
        "routeId": v["routeId"],
        "directionId": v["directionId"],
        "predictable": 1 if item["predictable"] else 0,
        "secsSinceReport": item["secsSinceReport"],
        "kph": item["kph"],
        "heading": item["heading"],
        "lat": item["lat"],
        "lon": item["lon"],
        "leadingVehicleId": item["leadingVehicleId"],
        "event_time": event_time,
    }


_SOURCE = {"connector": "mysql", "name": "dbserver1", "db": "demo", "table": "bus_status"}


def _envelope(op: str, row: dict, snapshot: str | None = None) -> dict:
    before, after = (row, None) if op == "d" else (None, row)
    return {
        "payload": {
            "before": before,
            "after": after,
            "source": {**_SOURCE, "snapshot": snapshot or "false", "ts_ms": row["event_time"]},
            "op": op,
            "ts_ms": row["event_time"],
        }
    }


def _corrupt_line(rng: random.Random, row: dict) -> str:
    """A line `json.loads` and Spark's PERMISSIVE from_json both reject."""
    good = json.dumps(_envelope("u", row))
    return rng.choice((good[: len(good) // 2], "<html>502 Bad Gateway</html>"))


class History:
    """A connector snapshot of past pings (one key per vehicle and history
    slot) plus a seeded backlog of changes against it."""

    def __init__(self, rng: random.Random, fleet: Fleet, slots: int) -> None:
        self.rng = rng
        self.fleet = fleet
        self.slots = slots
        self.state: dict[int, dict] = {}  # the generator's view of the table
        self.deleted: dict[int, dict] = {}  # last image of each deleted key
        self.slot_of: dict[int, int] = {}
        self.next_id = 1

    def _new_row(self, v: dict, slot: int) -> dict:
        rec = self.next_id
        self.next_id += 1
        self.slot_of[rec] = slot
        et = T0_MS + slot * TICK_MS + self.rng.randint(0, 9_999)
        return _row(rec, v, self.fleet.move(v), et)

    def snapshot(self) -> list[dict]:
        """The connector's initial snapshot: op='r' for every key."""
        envs = []
        for h in range(self.slots):
            for v in self.fleet.vehicles:
                row = self._new_row(v, h)
                self.state[row["record_id"]] = row
                envs.append(_envelope("r", row, snapshot="true"))
        return envs

    def backlog(self, n_changes: int, n_corrupt: int, new_slot: int) -> list[str]:
        """One file of the replayed backlog; each key appears at most once.

        The mix: updates (a few with an event_time equal to the stored one,
        which the incoming row must win), lower-event_time stragglers (which
        must lose, except on a deleted key, which they re-insert), deletes
        (a few stale, which must lose), re-inserts after a delete, and new
        inserts in a fresh history slot.
        """
        rng = self.rng
        live = list(self.state)
        dead = list(self.deleted)
        n_reinsert = min(len(dead), n_changes // 25)
        n_insert = n_changes // 12
        n_existing = n_changes - n_reinsert - n_insert
        envs = []
        for rec in rng.sample(live, min(n_existing, len(live))):
            cur = self.state[rec]
            lo = T0_MS + self.slot_of[rec] * TICK_MS
            r = rng.random()
            if r < 0.08:  # delete with the stored pre-image: ties, so it wins
                envs.append(_envelope("d", cur))
                self.deleted[rec] = cur
                del self.state[rec]
            elif r < 0.09 and cur["event_time"] > lo:  # stale delete: loses
                envs.append(_envelope("d", {**cur, "event_time": cur["event_time"] - 1}))
            elif r < 0.21 and cur["event_time"] > lo:  # straggler: loses
                old = {**cur, "kph": rng.randint(0, 60), "event_time": rng.randint(lo, cur["event_time"] - 1)}
                envs.append(_envelope("u", old))
            else:  # update; a tie when the slot is full or by chance
                room = lo + SLOT_MS - cur["event_time"]
                step = 0 if room == 0 or r > 0.97 else rng.randint(1, min(room, 5_000))
                v = self._vehicle(cur["id"])
                new = _row(rec, v, self.fleet.move(v), cur["event_time"] + step)
                envs.append(_envelope("u", new))
                self.state[rec] = new
        for rec in rng.sample(dead, n_reinsert):
            old = self.deleted.pop(rec)
            if rng.random() < 0.5:  # late straggler for a deleted key
                et = rng.randint(T0_MS + self.slot_of[rec] * TICK_MS, old["event_time"])
                row = {**old, "event_time": et}
                envs.append(_envelope("u", row))
            else:
                row = {**old, "event_time": old["event_time"] + 1, "kph": rng.randint(0, 60)}
                envs.append(_envelope("c", row))
            self.state[rec] = row
        for v in rng.sample(self.fleet.vehicles, min(n_insert, len(self.fleet.vehicles))):
            row = self._new_row(v, new_slot)
            envs.append(_envelope("c", row))
            self.state[row["record_id"]] = row
        lines = [json.dumps(e) for e in envs]
        template = next(iter(self.state.values()))
        lines += [_corrupt_line(rng, template) for _ in range(n_corrupt)]
        rng.shuffle(lines)
        return lines

    def _vehicle(self, vid: int) -> dict:
        return self.fleet.vehicles[vid - 1000]


# -- the independent fold ------------------------------------------------------


class FoldError(RuntimeError):
    """The generator broke its own contract (a same-key same-event_time
    pair inside one file)."""


def fold_file(state: dict[int, dict], path: str) -> dict:
    """Apply one spool file (= one micro-batch) to `state` in place, with
    the upsert's semantics, and return the file's line counts.

    Within the batch the highest event_time per key wins. Against the
    stored row the incoming winner wins when its event_time is greater or
    equal. A winning delete removes the key; the table keeps no tombstone,
    so a later, lower straggler re-inserts it. Lines `json.loads` rejects
    are corrupt and go to quarantine.
    """
    counts = {"lines": 0, "upserts": 0, "deletes": 0, "corrupt": 0}
    batch: dict[int, tuple[int, bool, dict]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            counts["lines"] += 1
            try:
                payload = json.loads(line)["payload"]
            except (json.JSONDecodeError, KeyError, TypeError):
                counts["corrupt"] += 1
                continue
            is_delete = payload["op"] == "d"
            counts["deletes" if is_delete else "upserts"] += 1
            row = payload["before"] if is_delete else payload["after"]
            key, et = row["record_id"], row["event_time"]
            prev = batch.get(key)
            if prev is not None and prev[0] == et:
                raise FoldError(f"{path}: key {key} twice at event_time {et}")
            if prev is None or et > prev[0]:
                batch[key] = (et, is_delete, row)
    for key, (et, is_delete, row) in batch.items():
        cur = state.get(key)
        if cur is not None and cur["event_time"] > et:
            continue
        if is_delete:
            state.pop(key, None)
        else:
            state[key] = {c: row.get(c) for c in COLS}
    return counts
