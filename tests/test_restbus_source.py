"""The custom Python DataSource over the RestBus poll spool (S1/S4
boundary): batch scan, streaming offsets, restart resume, and the
composition with the http_poller that publishes the spool. The source
emits raw `value` lines; every test parses them with `parse_envelopes`."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from buskafkasparkstreaming_spark.cdc.envelope import parse_envelopes, route_ops
from buskafkasparkstreaming_spark.sources import restbus_source
from buskafkasparkstreaming_spark.sources.http_poller import poll_to_spool


def _fake_fetch(n_vehicles=3, route=510):
    def fetch(url):
        return {
            "items": [
                {
                    "id": 1000 + i,
                    "routeId": route,
                    "directionId": "510_1_510A",
                    "lat": 43.64 + i * 0.001,
                    "lon": -79.40 - i * 0.001,
                    "secsSinceReport": 5 + i,
                    "predictable": True,
                    "heading": 90,
                    "kph": 20 + i,
                    "leadingVehicleId": None,
                }
                for i in range(n_vehicles)
            ]
        }

    return fetch


def _publish(spool, polls=2, n_vehicles=3, start_ms=1_700_000_000_000):
    clock = iter(range(start_ms, start_ms + 60_000 * polls, 30_000))
    list(
        poll_to_spool(
            spool,
            fetch=_fake_fetch(n_vehicles),
            interval_s=0.0,
            max_polls=polls,
            clock_ms=lambda: next(clock),
        )
    )


def test_batch_read_parses_spool(spark, tmp_path):
    spool = str(tmp_path / "spool")
    _publish(spool, polls=2, n_vehicles=3)
    restbus_source.register(spark)
    raw = spark.read.format("restbus_spool").option("path", spool).load()
    assert raw.columns == ["value"]
    df = parse_envelopes(raw)
    assert df.count() == 6
    r = df.orderBy("record_id").first()
    assert r["record_id"] == 1 and r["routeId"] == 510 and r["_op"] == "c"
    assert abs(r["lat"] - 43.64) < 1e-9
    # per-file partition parallelism: one partition per poll file
    assert df.rdd.getNumPartitions() == 2


def test_batch_read_empty_spool(spark, tmp_path):
    spool = str(tmp_path / "empty")
    os.makedirs(spool)
    restbus_source.register(spark)
    df = parse_envelopes(
        spark.read.format("restbus_spool").option("path", spool).load()
    )
    assert df.count() == 0


def test_stream_resumes_from_committed_offset(spark, tmp_path):
    """Two drains against one checkpoint: the second must read ONLY the
    file published after the first drain (offset log, not re-listing)."""
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _publish(spool, polls=2, n_vehicles=2)
    restbus_source.register(spark)

    def drain():
        q = (
            parse_envelopes(
                spark.readStream.format("restbus_spool").option("path", spool).load()
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = spark.read.parquet(out)
    assert first.count() == 4
    # third poll lands after the first drain
    time.sleep(0.05)
    _publish(spool, polls=1, n_vehicles=2, start_ms=1_700_000_100_000)
    drain()
    again = spark.read.parquet(out)
    assert again.count() == 6  # 4 old + 2 new, none reprocessed
    assert again.filter(F.col("event_time") >= 1_700_000_100_000).count() == 2


def test_malformed_line_routes_to_corrupt(spark, tmp_path):
    """A broken line is a row, not a silent skip: parsed and routed, it
    lands in the corrupt split beside the good envelope's upsert."""
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    good = {
        "payload": {
            "before": None,
            "after": {"record_id": 7, "id": 1, "routeId": 510,
                      "event_time": 123},
            "op": "c",
            "ts_ms": 123,
        }
    }
    with open(os.path.join(spool, "poll-0000000000001-x.jsonl"), "w") as fh:
        fh.write(json.dumps(good) + "\n")
        fh.write("this is not json {\n")
    restbus_source.register(spark)
    raw = spark.read.format("restbus_spool").option("path", spool).load()
    upserts, deletes, corrupt = route_ops(parse_envelopes(raw))
    assert [r["record_id"] for r in upserts.collect()] == [7]
    assert deletes.count() == 0
    assert [r["_corrupt"] for r in corrupt.collect()] == ["this is not json {"]


def test_datasource_to_upsert_pipeline(spark, tmp_path):
    """S1→S7 through the custom source: stream the spool via the Python
    DataSource, latest-state upsert per vehicle id (precombine
    event_time) — the reference's whole pipeline with the DataSource as
    the ingest boundary. Second poll's rows must supersede the first."""
    from pyspark.sql import functions as F

    from buskafkasparkstreaming_spark.cdc.upsert import UpsertTable

    spool = str(tmp_path / "spool")
    _publish(spool, polls=2, n_vehicles=3)  # poll 2 re-reports ids 1000-1002
    restbus_source.register(spark)
    table = UpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="id",
        precombine_col="event_time",
        partition_col="routeId",
    )
    stream = parse_envelopes(
        spark.readStream.format("restbus_spool").option("path", spool).load()
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _bid: table.merge(df)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = {r["id"]: r["event_time"] for r in table.read().collect()}
    assert len(state) == 3  # one row per vehicle, not per poll
    assert all(v == 1_700_000_030_000 for v in state.values()), state


def test_restarted_poller_resumes_record_ids(tmp_path):
    """A restarted poller continues after the spool's highest record_id
    instead of reusing keys the keyed upsert would overwrite; an
    explicit start_record_id still wins."""
    spool = str(tmp_path / "spool")
    _publish(spool, polls=1, n_vehicles=2, start_ms=1_700_000_000_000)
    _publish(spool, polls=1, n_vehicles=2, start_ms=1_700_000_030_000)

    def ids():
        out = []
        for name in sorted(os.listdir(spool)):
            with open(os.path.join(spool, name), encoding="utf-8") as fh:
                out += [json.loads(line)["payload"]["after"]["record_id"] for line in fh]
        return sorted(out)

    assert ids() == [1, 2, 3, 4]
    clock = iter([1_700_000_060_000])
    list(
        poll_to_spool(
            spool,
            fetch=_fake_fetch(1),
            interval_s=0.0,
            max_polls=1,
            start_record_id=1,
            clock_ms=lambda: next(clock),
        )
    )
    assert ids() == [1, 1, 2, 3, 4]
