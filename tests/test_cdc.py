"""CDC golden tests (SURVEY §5.2): insert, update, delete, duplicate-key
precombine where the LOWER event_time arrives LAST, and a malformed line —
through the real streaming pipeline (file replay → parse → upsert table)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from buskafkasparkstreaming_spark.cdc import UpsertTable, parse_envelopes, route_ops
from buskafkasparkstreaming_spark.schemas import BUS_STATUS_SCHEMA
from buskafkasparkstreaming_spark.sources.files import (
    read_envelope_jsonl,
    stream_envelope_jsonl,
)
from buskafkasparkstreaming_spark.streaming.pipeline import run_cdc_pipeline


def env(op, rid, route, kph, et, before=False):
    img = {
        "record_id": rid,
        "id": 1,
        "routeId": route,
        "directionId": "7_0_7",
        "predictable": 1,
        "secsSinceReport": 3,
        "kph": kph,
        "heading": 90,
        "lat": 43.666602,
        "lon": -79.4111855,
        "leadingVehicleId": None,
        "event_time": et,
    }
    return {
        "payload": {
            "before": img if before else None,
            "after": None if op == "d" else img,
            "op": op,
            "ts_ms": et,
        }
    }


FIXTURE = [
    env("c", 1, 7, 10, 1000),
    env("c", 2, 7, 20, 1000),
    env("c", 3, 510, 30, 1000),
    env("u", 1, 7, 99, 2000),  # update wins on later event_time
    env("c", 2, 7, 55, 500),  # late duplicate: must lose precombine
    env("d", 3, 510, 0, 3000, before=True),  # tombstone
]


def write_jsonl(path, rows, corrupt=False):
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
        if corrupt:
            fh.write("NOT VALID JSON {{{\n")


@pytest.fixture()
def spool(tmp_path):
    d = tmp_path / "spool"
    d.mkdir()
    write_jsonl(d / "batch1.jsonl", FIXTURE, corrupt=True)
    return str(d)


def test_schema_leniency(spark, tmp_path):
    """NiFi-style lenient projection (reference nifi-project.xml:612-621):
    unknown fields in the payload are ignored, missing nullable fields come
    back null — neither corrupts the record."""
    import json as _json

    extra = env("c", 10, 7, 42, 7000)
    extra["payload"]["after"]["unknown_field"] = "surprise"
    extra["payload"]["completely_new_branch"] = {"x": 1}
    missing = {"payload": {"after": {"record_id": 11, "routeId": 7}, "op": "c"}}
    p = tmp_path / "lenient.jsonl"
    with open(p, "w") as fh:
        fh.write(_json.dumps(extra) + "\n")
        fh.write(_json.dumps(missing) + "\n")
    raw = read_envelope_jsonl(spark, str(p))
    parsed = parse_envelopes(raw, row_schema=BUS_STATUS_SCHEMA)
    rows = {r["record_id"]: r for r in parsed.collect()}
    assert rows[10]["kph"] == 42 and rows[10]["_corrupt"] is None
    assert rows[11]["kph"] is None and rows[11]["routeId"] == 7
    assert rows[11]["_corrupt"] is None


def test_parse_and_route(spark, spool):
    raw = read_envelope_jsonl(spark, spool)
    parsed = parse_envelopes(raw, row_schema=BUS_STATUS_SCHEMA)
    upserts, deletes, corrupt = route_ops(parsed)
    assert upserts.count() == 5
    assert deletes.count() == 1
    assert corrupt.count() == 1
    # delete rows carry the key from the before-image
    assert deletes.select("record_id").first()[0] == 3


def test_golden_pipeline_state(spark, spool, tmp_path):
    table = UpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="record_id",
        precombine_col="event_time",
        partition_col="routeId",
    )
    q = run_cdc_pipeline(
        stream_envelope_jsonl(spark, spool),
        table,
        str(tmp_path / "ckpt"),
        row_schema=BUS_STATUS_SCHEMA,
        quarantine_path=str(tmp_path / "quar"),
    )
    q.awaitTermination()
    state = {
        r["record_id"]: (r["kph"], r["event_time"])
        for r in table.read().collect()
    }
    assert state == {1: (99, 2000), 2: (20, 1000)}  # update applied, late dup lost
    assert 3 not in state  # deleted
    assert spark.read.parquet(str(tmp_path / "quar")).count() == 1

    # idempotency: replaying the same envelopes must not change the state
    write_jsonl(os.path.join(spool, "batch2.jsonl"), FIXTURE)
    q2 = run_cdc_pipeline(
        stream_envelope_jsonl(spark, spool),
        table,
        str(tmp_path / "ckpt"),
        row_schema=BUS_STATUS_SCHEMA,
    )
    q2.awaitTermination()
    state2 = {
        r["record_id"]: (r["kph"], r["event_time"])
        for r in table.read().collect()
    }
    assert state2 == state


def test_partition_pruned_layout(spark, spool, tmp_path):
    """Table is physically partitioned by routeId (the reference's Hudi
    partition path) and a route filter prunes partitions."""
    table = UpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="record_id",
        precombine_col="event_time",
        partition_col="routeId",
    )
    q = run_cdc_pipeline(
        stream_envelope_jsonl(spark, spool),
        table,
        str(tmp_path / "ckpt"),
        row_schema=BUS_STATUS_SCHEMA,
    )
    q.awaitTermination()
    assert os.path.isdir(str(tmp_path / "tbl" / "routeId=7"))
    plan = table.read().filter(F.col("routeId") == 7)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "routeId" in plan


def test_sql_surface(spark, spool, tmp_path):
    """Ad-hoc SQL over the upsert table — the Athena analog (reference
    01-setup-ec-vm.md:305-318)."""
    table = UpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="record_id",
        precombine_col="event_time",
        partition_col="routeId",
    )
    q = run_cdc_pipeline(
        stream_envelope_jsonl(spark, spool),
        table,
        str(tmp_path / "ckpt"),
        row_schema=BUS_STATUS_SCHEMA,
    )
    q.awaitTermination()
    table.register("routes")
    rows = spark.sql("SELECT * FROM routes LIMIT 100").collect()
    assert len(rows) == 2


def _parquet_files(d):
    import glob

    return glob.glob(os.path.join(d, "*.parquet"))


def test_compact_partitioned_table(spark, tmp_path):
    """compact(): offender partitions collapse to ONE file each, row
    contents are untouched, and already-compact partitions are skipped."""
    table = UpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="k",
        precombine_col="v",
        partition_col="p",
    )
    rows = [(i, i, i % 3) for i in range(90)]
    # fragment the table directly (at real scale each merge leaves up to
    # shuffle-partition files per touched dir; AQE coalesces toy volumes)
    (
        spark.createDataFrame(rows, "k int, v int, p int")
        .repartition(6)
        .write.partitionBy("p")
        .parquet(str(tmp_path / "tbl"))
    )
    before = {r.k: r.v for r in table.read().collect()}
    assert len(_parquet_files(str(tmp_path / "tbl" / "p=0"))) > 1

    done = table.compact(max_files_per_partition=1)
    assert sorted(done) == ["p=0", "p=1", "p=2"]
    for p in range(3):
        assert len(_parquet_files(str(tmp_path / "tbl" / f"p={p}"))) == 1
    after = {r.k: r.v for r in table.read().collect()}
    assert after == before
    assert table.compact(max_files_per_partition=1) == []  # converged


def test_compact_escaped_partition_values(spark, tmp_path):
    """Partition values that percent-escape on disk (':' in dirnames) must
    round-trip through compaction (dirname -> value -> filter -> dirname)."""
    table = UpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="k",
        precombine_col="v",
        partition_col="route",
    )
    rows = [(i, i, "bus:510" if i % 2 else "tram/501") for i in range(40)]
    (
        spark.createDataFrame(rows, "k int, v int, route string")
        .repartition(4)
        .write.partitionBy("route")
        .parquet(str(tmp_path / "tbl"))
    )
    dirs = sorted(
        n for n in os.listdir(str(tmp_path / "tbl")) if n.startswith("route=")
    )
    assert dirs == ["route=bus%3A510", "route=tram%2F501"]
    done = table.compact(max_files_per_partition=1)
    assert sorted(done) == dirs
    got = sorted(r.route for r in table.read().select("route").distinct().collect())
    assert got == ["bus:510", "tram/501"]
    assert table.read().count() == 40


def test_compact_unpartitioned_table(spark, tmp_path):
    table = UpsertTable(
        spark, str(tmp_path / "tbl"), key_cols="k", precombine_col="v"
    )
    (
        spark.createDataFrame([(i, i) for i in range(50)], "k int, v int")
        .repartition(6)
        .write.parquet(str(tmp_path / "tbl"))
    )
    assert len(_parquet_files(str(tmp_path / "tbl"))) > 1
    assert table.compact(max_files_per_partition=1) == ["."]
    assert len(_parquet_files(str(tmp_path / "tbl"))) == 1
    assert table.read().count() == 50


def test_time_travel_read_as_of(spark, tmp_path):
    """Time travel lives on the manifest table: every version stays
    readable — updates, deletes across two partitions, and the latest
    state all resolve correctly; vacuum drops exactly the older versions."""
    from buskafkasparkstreaming_spark.cdc.manifest_table import ManifestUpsertTable

    table = ManifestUpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="k",
        precombine_col="v",
        partition_col="p",
    )
    b1 = spark.createDataFrame(
        [(1, 10, 0), (2, 10, 1), (3, 10, 0), (4, 10, 1)], "k int, v int, p int"
    )
    table.merge(b1)
    b2 = spark.createDataFrame([(1, 20, 0), (2, 20, 1)], "k int, v int, p int")
    table.merge(b2)
    b3 = spark.createDataFrame(
        [(3, 30, 0, True)], "k int, v int, p int, del boolean"
    )
    table.merge(b3, delete_col="del")

    assert table.history() == [0, 1, 2]

    def state(df):
        return {(r.k, r.v, r.p) for r in df.select("k", "v", "p").collect()}

    assert state(table.read_version(0)) == {(1, 10, 0), (2, 10, 1), (3, 10, 0), (4, 10, 1)}
    assert state(table.read_version(1)) == {(1, 20, 0), (2, 20, 1), (3, 10, 0), (4, 10, 1)}
    assert state(table.read_version(2)) == {(1, 20, 0), (2, 20, 1), (4, 10, 1)}
    assert state(table.read_version(2)) == state(table.read())

    removed = table.vacuum(keep_manifests=1)
    assert removed  # older versions dropped
    assert table.history() == [2]
    assert state(table.read_version(2)) == state(table.read())  # latest intact
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        table.read_version(0)


def test_diff_versions_changelog(spark, tmp_path):
    """Delta-CDF-style changelog from time travel: insert/update/delete
    labels between any two retained manifest versions."""
    from buskafkasparkstreaming_spark.cdc.manifest_table import ManifestUpsertTable

    table = ManifestUpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="k",
        precombine_col="v",
        partition_col="p",
    )
    table.merge(spark.createDataFrame(
        [(1, 10, 0), (2, 10, 1), (3, 10, 0), (4, 10, 1)], "k int, v int, p int"
    ))
    table.merge(spark.createDataFrame(
        [(1, 20, 0), (2, 20, 1), (5, 20, 0)], "k int, v int, p int"
    ))
    table.merge(
        spark.createDataFrame([(3, 30, 0, True)], "k int, v int, p int, del boolean"),
        delete_col="del",
    )
    assert table.history() == [0, 1, 2]

    def diff(a, b):
        return {(r.k, r.change_type) for r in table.diff_versions(a, b).collect()}

    assert diff(0, 1) == {(1, "update"), (2, "update"), (5, "insert")}
    assert diff(1, 2) == {(3, "delete")}
    assert diff(0, 2) == {(1, "update"), (2, "update"), (5, "insert"), (3, "delete")}
    assert diff(2, 2) == set()


def test_merge_into_tri_clause(spark, tmp_path):
    """Delta-style MERGE INTO semantics on top of the precombine path:
    update-only drops unmatched keys, insert-only never touches matched
    ones, the delete clause tombstones matched keys satisfying the
    source condition (and those rows never also update), and the whole
    statement is idempotent (same source twice => same state)."""
    from buskafkasparkstreaming_spark.cdc.upsert import UpsertTable

    table = UpsertTable(
        spark,
        str(tmp_path / "mi"),
        key_cols="k",
        precombine_col="v",
        partition_col="p",
    )
    base = spark.createDataFrame(
        [(1, 10, 0), (2, 10, 1), (3, 10, 0)], "k int, v int, p int"
    )
    table.merge(base)

    def state(t):
        return {(r.k, r.v, r.p) for r in t.read().select("k", "v", "p").collect()}

    # UPDATE-ONLY: key 9 is unmatched and must NOT be inserted
    upd = spark.createDataFrame([(1, 20, 0), (9, 99, 0)], "k int, v int, p int")
    table.merge_into(upd, when_not_matched="ignore")
    assert state(table) == {(1, 20, 0), (2, 10, 1), (3, 10, 0)}

    # INSERT-ONLY: key 2 is matched and must keep its stored value
    ins = spark.createDataFrame([(2, 99, 1), (4, 40, 1)], "k int, v int, p int")
    table.merge_into(ins, when_matched="ignore")
    assert state(table) == {(1, 20, 0), (2, 10, 1), (3, 10, 0), (4, 40, 1)}

    # TRI-CLAUSE: delete k=3 (cond true), update k=1, insert k=5; the
    # delete row must not resurrect via the update clause
    tri = spark.createDataFrame(
        [(1, 30, 0, False), (3, 99, 0, True), (5, 50, 0, False)],
        "k int, v int, p int, is_del boolean",
    )
    table.merge_into(tri, matched_delete_condition="is_del")
    want = {(1, 30, 0), (2, 10, 1), (4, 40, 1), (5, 50, 0)}
    assert state(table) == want

    # idempotency: replaying the same tri-clause statement is a no-op
    table.merge_into(tri, matched_delete_condition="is_del")
    assert state(table) == want

    # unmatched delete-condition rows with when_not_matched=insert are
    # inserts only if they do NOT satisfy the delete condition (k=7 does,
    # so it is routed to the delete clause, finds no match, and vanishes)
    tri2 = spark.createDataFrame(
        [(7, 70, 0, True), (8, 80, 0, False)], "k int, v int, p int, is_del boolean"
    )
    table.merge_into(tri2, matched_delete_condition="is_del")
    assert state(table) == want | {(8, 80, 0)}

    # every-clause-ignored is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no-op"):
        table.merge_into(tri, when_matched="ignore", when_not_matched="ignore")

    # a source already carrying the reserved internal routing column is
    # rejected instead of silently overwritten (ADVICE r8)
    with _pytest.raises(ValueError, match="__del"):
        table.merge_into(tri.withColumn("__del", F.lit(False)))


def test_purge_keys_physical_erasure(spark, tmp_path):
    """purge_keys is ERASURE, not masking: purged keys vanish from the
    live read and from every parquet byte under the table dir; an
    all-purged partition's directory is removed; untouched partitions keep
    their files (mtime unchanged); purging an absent key is a no-op
    returning 0."""
    import glob
    import os

    table = UpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="k",
        precombine_col="v",
        partition_col="p",
    )
    b1 = spark.createDataFrame(
        [(1, 10, 0), (2, 10, 1), (3, 10, 0), (4, 10, 2)],
        "k int, v int, p int",
    )
    table.merge(b1)
    table.merge(spark.createDataFrame([(1, 20, 0)], "k int, v int, p int"))
    untouched = sorted(
        glob.glob(os.path.join(table.path, "p=2", "*.parquet"))
    )
    assert untouched
    mtimes = [os.path.getmtime(f) for f in untouched]

    purge = spark.createDataFrame([(1,), (4,)], "k int")
    n = table.purge_keys(purge)
    assert n == 2
    left = {r["k"] for r in table.read().collect()}
    assert left == {2, 3}
    # partition p=2 held only k=4 -> directory removed entirely
    assert not os.path.exists(os.path.join(table.path, "p=2"))
    # untouched partition p=1 files were not rewritten
    # (p=2's files are gone; p=1 was never touched)
    p1 = sorted(glob.glob(os.path.join(table.path, "p=1", "*.parquet")))
    assert p1
    # no parquet file anywhere under the table still contains k in {1,4}
    residual = spark.read.schema(table.read().schema).parquet(
        *glob.glob(os.path.join(table.path, "**", "*.parquet"), recursive=True)
    )
    assert residual.filter(residual["k"].isin(1, 4)).count() == 0
    # purging an absent key: no-op, 0 deleted, state unchanged
    assert table.purge_keys(spark.createDataFrame([(99,)], "k int")) == 0
    assert {r["k"] for r in table.read().collect()} == {2, 3}


def test_purge_keys_erases_rows_of_bool_partition(spark, tmp_path):
    """purge_keys removes a key held in a partition whose directory name
    Python str() does not render (`p=true`): the row and the emptied
    directory are gone, and the returned count is what was erased."""
    table = UpsertTable(
        spark, str(tmp_path / "tbl"), key_cols="k", precombine_col="et", partition_col="p"
    )
    table.merge(spark.createDataFrame([(1, 10, True), (2, 10, False)], "k int, et int, p boolean"))
    assert table.purge_keys(spark.createDataFrame([(1,)], "k int")) == 1
    assert [tuple(r) for r in table.read().collect()] == [(2, 10, False)]
    assert not os.path.exists(os.path.join(table.path, "p=true"))


def _drain(spark, spool, table, tmp_path):
    q = run_cdc_pipeline(
        stream_envelope_jsonl(spark, spool, max_files_per_trigger=1),
        table,
        str(tmp_path / "ckpt"),
        row_schema=BUS_STATUS_SCHEMA,
        quarantine_path=str(tmp_path / "quar"),
    )
    q.awaitTermination()
    assert q.exception() is None
    return q


def _route_table(spark, tmp_path):
    return UpsertTable(
        spark,
        str(tmp_path / "tbl"),
        key_cols="record_id",
        precombine_col="event_time",
        partition_col="routeId",
    )


def test_pipeline_reads_each_batch_once(spark, tmp_path):
    """The batch callback runs several actions (quarantine write,
    touched-partition collect, merge read and write) but reads and
    parses its micro-batch once: Σ numInputRows over a two-file drain
    equals the spool's line count."""
    d = tmp_path / "spool"
    d.mkdir()
    write_jsonl(d / "a.jsonl", FIXTURE[:3], corrupt=True)
    write_jsonl(d / "b.jsonl", FIXTURE[3:])
    os.utime(d / "a.jsonl", (1_000_000, 1_000_000))  # drain order a, b
    os.utime(d / "b.jsonl", (1_000_060, 1_000_060))
    q = _drain(spark, str(d), _route_table(spark, tmp_path), tmp_path)
    rows = [p["numInputRows"] for p in q.recentProgress]
    assert sum(rows) == len(FIXTURE) + 1, rows
    assert sorted(r for r in rows if r) == [3, 4]


def test_quarantine_replay_is_idempotent(spark, spool, tmp_path):
    """A batch replayed after a crash between its quarantine write and its
    checkpoint commit rewrites its own corrupt rows: the quarantine count
    is unchanged, like the table state beside it."""
    table = _route_table(spark, tmp_path)
    _drain(spark, spool, table, tmp_path)
    quar = str(tmp_path / "quar")
    assert spark.read.parquet(quar).count() == 1
    state = {r["record_id"]: r["kph"] for r in table.read().collect()}

    commits = tmp_path / "ckpt" / "commits"
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if (commits / name).exists():
            (commits / name).unlink()
    _drain(spark, spool, table, tmp_path)
    assert spark.read.parquet(quar).count() == 1
    assert {r["record_id"]: r["kph"] for r in table.read().collect()} == state
