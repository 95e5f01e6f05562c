"""HTTP poll source — the engine's NiFi InvokeHTTP replacement (S1).

Reference behavior (nifi-project.xml:1505/:1357/:1361/:1477): GET the
RestBus vehicles endpoint every 30 s, emit the JSON body downstream.
Spark has no built-in HTTP source, so the engine models it as a driver-side
poller that synthesizes Debezium-style envelopes ('c' ops — matching what
NiFi→MySQL→Debezium produced for these inserts, SURVEY §3 entry point C)
and appends them to a JSONL spool directory consumed by the streaming
file source (sources.files.stream_envelope_jsonl). The poll is inherently
single-node (one URL); scale comes from the *downstream* Spark pipeline,
exactly as in the reference.

The fetcher is injected so tests use a deterministic fake (no network, and
the container has no HTTP client guarantees); a requests-based fetcher is
gated behind an import-try.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Callable, Iterator

DEFAULT_URL = "http://restbus.info/api/agencies/ttc/routes/510/vehicles"


def _requests_fetcher(url: str, connect_timeout: float = 5.0, read_timeout: float = 15.0):
    """Live fetcher with the reference's timeouts (nifi-project.xml:1367-1372:
    connect 5 s, read 15 s). Import-gated — optional dependency."""
    import requests  # noqa: PLC0415 — optional, absent in CI container

    resp = requests.get(url, timeout=(connect_timeout, read_timeout))
    resp.raise_for_status()
    return resp.json()


def vehicles_to_envelopes(
    body: dict,
    next_record_id: int,
    event_time_ms: int,
) -> list[dict]:
    """RestBus response → Debezium-style 'c' envelopes (FIXTURES.md F5).

    `record_id` / `event_time` are assigned at ingest, mirroring MySQL's
    AUTO_INCREMENT and DEFAULT NOW() (reference 01-setup-ec-vm.md:321,332).
    """
    out = []
    for i, v in enumerate(body.get("items", body.get("vehicles", []))):
        after = {
            "record_id": next_record_id + i,
            "id": v.get("id"),
            "routeId": v.get("routeId"),
            "directionId": v.get("directionId"),
            "predictable": 1 if v.get("predictable", True) else 0,
            "secsSinceReport": v.get("secsSinceReport"),
            "kph": v.get("kph"),
            "heading": v.get("heading"),
            "lat": v.get("lat"),
            "lon": v.get("lon"),
            "leadingVehicleId": v.get("leadingVehicleId"),
            "event_time": event_time_ms,
        }
        out.append(
            {"payload": {"before": None, "after": after, "op": "c", "ts_ms": event_time_ms}}
        )
    return out


def _spool_max_record_id(spool_dir: str) -> int:
    """Highest `record_id` in any published spool file (0 for an empty
    spool). Lines that are not envelope JSON carry no id and are skipped —
    the pipeline quarantines them."""
    top = 0
    for name in os.listdir(spool_dir):
        if name.startswith(".") or not name.endswith(".jsonl"):
            continue
        with open(os.path.join(spool_dir, name), encoding="utf-8") as fh:
            for line in fh:
                try:
                    payload = json.loads(line)["payload"]
                    images = (payload.get("after"), payload.get("before"))
                except (ValueError, KeyError, TypeError, AttributeError):
                    continue
                for img in images:
                    if isinstance(img, dict) and isinstance(img.get("record_id"), int):
                        top = max(top, img["record_id"])
    return top


def poll_to_spool(
    spool_dir: str,
    fetch: Callable[[str], dict] | None = None,
    url: str = DEFAULT_URL,
    interval_s: float = 30.0,
    max_polls: int | None = None,
    start_record_id: int | None = None,
    clock_ms: Callable[[], int] | None = None,
) -> Iterator[str]:
    """Poll loop: every `interval_s` (reference: 30 s, nifi-project.xml:1477)
    fetch → envelope-synthesize → atomically publish one JSONL file into the
    spool. Yields each published path (so tests can drive it poll-by-poll
    with max_polls and a fake clock).

    Without `start_record_id`, ids continue after the highest `record_id`
    already in the spool, so a restarted poller never reuses a key (the
    spool is the durable AUTO_INCREMENT counter); an explicit value wins."""
    fetch = fetch or _requests_fetcher
    clock_ms = clock_ms or (lambda: int(time.time() * 1000))
    os.makedirs(spool_dir, exist_ok=True)
    rid = start_record_id if start_record_id is not None else _spool_max_record_id(spool_dir) + 1
    n = 0
    while max_polls is None or n < max_polls:
        body = fetch(url)
        now = clock_ms()
        envs = vehicles_to_envelopes(body, rid, now)
        rid += len(envs)
        fname = f"poll-{now}-{uuid.uuid4().hex[:8]}.jsonl"
        tmp = os.path.join(spool_dir, f"._{fname}")
        with open(tmp, "w", encoding="utf-8") as fh:
            for e in envs:
                fh.write(json.dumps(e) + "\n")
        os.rename(tmp, os.path.join(spool_dir, fname))  # atomic publish
        yield os.path.join(spool_dir, fname)
        n += 1
        if max_polls is None or n < max_polls:
            time.sleep(interval_s)
