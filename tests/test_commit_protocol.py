"""Commit-protocol safety: a crash at ANY point inside the staged-swap
must never lose rows that were not replaced — the manifest rolls the
commit forward on the next open (ADVICE r2: the old protocol deleted old
partitions before renaming staged ones in, so a crash in that window
emptied the table and a retried merge then lost all prior rows)."""

from __future__ import annotations

import json
import os

import pytest

from buskafkasparkstreaming_spark.cdc.manifest_table import ManifestUpsertTable
from buskafkasparkstreaming_spark.cdc.upsert import (
    LocalFSCommitter,
    UpsertTable,
    partition_dirname,
)


def _write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(content)


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def _manifest(table: str, txn: str, staged, emptied) -> str:
    plan = {
        "staging": f".bss_staging_{txn}",
        "trash": f".bss_trash_{txn}",
        "staged": sorted(staged),
        "emptied": sorted(emptied),
    }
    p = os.path.join(table, f".bss_commit_{txn}.json")
    _write(p, json.dumps(plan))
    return p


def test_recover_rolls_forward_from_manifest(tmp_path):
    """Crash right after the manifest was published (nothing moved yet):
    recovery must finish the swap — replaced entry updated, emptied entry
    removed, untouched entry intact, no staging/trash/manifest left."""
    table = str(tmp_path / "tbl")
    _write(os.path.join(table, "k=1", "part-0.parquet"), "old-1")
    _write(os.path.join(table, "k=2", "part-0.parquet"), "old-2")
    _write(os.path.join(table, "k=3", "part-0.parquet"), "old-3")
    _write(os.path.join(table, ".bss_staging_t1", "k=1", "part-1.parquet"), "new-1")
    _manifest(table, "t1", staged=["k=1"], emptied=["k=2"])

    LocalFSCommitter(table).recover()

    assert _read(os.path.join(table, "k=1", "part-1.parquet")) == "new-1"
    assert not os.path.exists(os.path.join(table, "k=1", "part-0.parquet"))
    assert not os.path.exists(os.path.join(table, "k=2"))
    assert _read(os.path.join(table, "k=3", "part-0.parquet")) == "old-3"
    leftovers = [n for n in os.listdir(table) if n.startswith(".bss_")]
    assert leftovers == []


def test_recover_after_crash_mid_phases(tmp_path):
    """Crash after the old entry was moved to trash but before the staged
    entry was renamed in (the exact window that used to empty the table):
    the staged data still exists, so recovery publishes it."""
    table = str(tmp_path / "tbl")
    _write(os.path.join(table, "k=3", "part-0.parquet"), "old-3")
    # k=1's old dir already moved to trash; staged replacement not yet in
    _write(os.path.join(table, ".bss_trash_t2", "k=1", "part-0.parquet"), "old-1")
    _write(os.path.join(table, ".bss_staging_t2", "k=1", "part-1.parquet"), "new-1")
    _manifest(table, "t2", staged=["k=1"], emptied=[])

    LocalFSCommitter(table).recover()

    assert _read(os.path.join(table, "k=1", "part-1.parquet")) == "new-1"
    assert _read(os.path.join(table, "k=3", "part-0.parquet")) == "old-3"
    assert [n for n in os.listdir(table) if n.startswith(".bss_")] == []


def test_recover_is_idempotent_after_completion(tmp_path):
    """Crash after the staged entry was placed but before the manifest was
    retired: recovery must NOT move the freshly published entry to trash."""
    table = str(tmp_path / "tbl")
    _write(os.path.join(table, "k=1", "part-1.parquet"), "new-1")  # already in
    os.makedirs(os.path.join(table, ".bss_staging_t3"))  # staged already moved out
    _manifest(table, "t3", staged=["k=1"], emptied=[])

    LocalFSCommitter(table).recover()
    assert _read(os.path.join(table, "k=1", "part-1.parquet")) == "new-1"
    assert [n for n in os.listdir(table) if n.startswith(".bss_")] == []


def test_pre_publish_garbage_is_dropped(tmp_path):
    """Staging without a manifest = writer died before the commit point:
    the table must be left exactly as it was."""
    table = str(tmp_path / "tbl")
    _write(os.path.join(table, "k=1", "part-0.parquet"), "old-1")
    _write(os.path.join(table, ".bss_staging_dead", "k=1", "part-9.parquet"), "x")

    LocalFSCommitter(table).recover()
    assert _read(os.path.join(table, "k=1", "part-0.parquet")) == "old-1"
    assert [n for n in os.listdir(table) if n.startswith(".bss_")] == []


def test_partition_dirname_escaping():
    assert partition_dirname("k", 7) == "k=7"
    assert partition_dirname("k", "a:b") == "k=a%3Ab"
    assert partition_dirname("k", "x=y") == "k=x%3Dy"
    assert partition_dirname("k", None) == "k=__HIVE_DEFAULT_PARTITION__"


def test_tombstoned_escaped_partition_is_cleaned(spark, tmp_path):
    """A partition whose value needs percent-escaping must still have its
    directory removed when every row in it is tombstoned — the old raw
    f'{col}={val}' comparison never matched the escaped on-disk name, so
    deleted keys resurrected on read (ADVICE r2, low)."""
    path = str(tmp_path / "tbl")
    table = UpsertTable(
        spark, path, key_cols="rid", precombine_col="et", partition_col="route"
    )
    df = spark.createDataFrame(
        [(1, "a:b", 10, False), (2, "plain", 10, False)],
        "rid int, route string, et int, _del boolean",
    )
    table.merge(df, delete_col="_del")
    assert os.path.isdir(os.path.join(path, "route=a%3Ab"))

    tomb = spark.createDataFrame(
        [(1, "a:b", 20, True)], "rid int, route string, et int, _del boolean"
    )
    table.merge(tomb, delete_col="_del")
    assert not os.path.exists(os.path.join(path, "route=a%3Ab"))
    got = {r["rid"] for r in table.read().collect()}
    assert got == {2}


@pytest.mark.parametrize("cls", [UpsertTable, ManifestUpsertTable], ids=["rename", "manifest"])
def test_schema_evolution_add_and_drop_column(spark, tmp_path, cls):
    """A batch may add columns (null-filled on stored rows, including rows
    in untouched partitions) or omit non-key columns (winning rows carry
    null); key/precombine/partition columns must always be present."""
    path = str(tmp_path / "tbl")
    table = cls(
        spark, path, key_cols="rid", precombine_col="et", partition_col="route"
    )
    v1 = spark.createDataFrame(
        [(1, 1, 10, 100), (2, 2, 20, 100)], "rid int, route int, et int, kph int"
    )
    table.merge(v1)

    # batch ADDS `heading`: row 1 updated with it, row 2 (untouched
    # partition) reads it as null
    v2 = spark.createDataFrame(
        [(1, 1, 11, 200, 90)], "rid int, route int, et int, kph int, heading int"
    )
    table.merge(v2)
    got = {r["rid"]: (r["kph"], r["heading"]) for r in table.read().collect()}
    assert got == {1: (200, 90), 2: (100, None)}

    # batch OMITS `kph`: the winning row for rid=2 nulls it, rid=1 keeps its
    # stored value
    v3 = spark.createDataFrame(
        [(2, 2, 300, 180)], "rid int, route int, et int, heading int"
    )
    table.merge(v3)
    got = {r["rid"]: (r["kph"], r["heading"]) for r in table.read().collect()}
    assert got == {1: (200, 90), 2: (None, 180)}

    # merge-critical columns can never be omitted
    bad = spark.createDataFrame([(3, 400)], "rid int, et int")
    with pytest.raises(ValueError, match="required merge columns"):
        table.merge(bad)


def test_commit_crash_at_every_rename(tmp_path):
    """Exhaustive crash-point sweep: kill the commit at the 1st, 2nd, ...
    Nth rename (covering every phase transition), then recover — the final
    state must be the fully published table at EVERY crash point."""
    import os as _os

    real_rename = os.rename
    # discover how many renames a clean commit performs
    def build(tag):
        table = str(tmp_path / f"tbl_{tag}")
        _write(os.path.join(table, "k=1", "part-0.parquet"), "old-1")
        _write(os.path.join(table, "k=2", "part-0.parquet"), "old-2")
        _write(os.path.join(table, "k=3", "part-0.parquet"), "old-3")
        staging = os.path.join(table, ".bss_staging_tx")
        _write(os.path.join(staging, "k=1", "part-1.parquet"), "new-1")
        _write(os.path.join(staging, "k=4", "part-1.parquet"), "new-4")
        return table, staging

    table, staging = build("count")
    calls = {"n": 0}

    def counting_rename(src, dst):
        calls["n"] += 1
        return real_rename(src, dst)

    _os.rename = counting_rename
    try:
        LocalFSCommitter(table).commit(
            staging, staged=["k=1", "k=4"], emptied=["k=2"]
        )
    finally:
        _os.rename = real_rename
    total_renames = calls["n"]
    assert total_renames >= 4  # manifest publish + 2 trash moves + 2 placements

    def assert_final(table):
        assert _read(os.path.join(table, "k=1", "part-1.parquet")) == "new-1"
        assert _read(os.path.join(table, "k=4", "part-1.parquet")) == "new-4"
        assert not os.path.exists(os.path.join(table, "k=2"))
        assert _read(os.path.join(table, "k=3", "part-0.parquet")) == "old-3"
        assert [n for n in os.listdir(table) if n.startswith(".bss_")] == []

    assert_final(table)

    for crash_at in range(1, total_renames + 1):
        table, staging = build(f"c{crash_at}")
        state = {"n": 0}

        def flaky(src, dst, _state=state, _k=crash_at):
            _state["n"] += 1
            if _state["n"] == _k:
                raise OSError(f"crash at rename #{_k}")
            return real_rename(src, dst)

        _os.rename = flaky
        crashed = False
        try:
            LocalFSCommitter(table).commit(
                staging, staged=["k=1", "k=4"], emptied=["k=2"]
            )
        except OSError:
            crashed = True
        finally:
            _os.rename = real_rename
        if crash_at == 1:
            # crash publishing the manifest itself: nothing committed; the
            # table must be untouched and staging dropped as garbage
            assert crashed
            LocalFSCommitter(table).recover()
            assert _read(os.path.join(table, "k=1", "part-0.parquet")) == "old-1"
            assert _read(os.path.join(table, "k=2", "part-0.parquet")) == "old-2"
            assert [n for n in os.listdir(table) if n.startswith(".bss_")] == []
            continue
        assert crashed, f"crash point {crash_at} did not fire"
        LocalFSCommitter(table).recover()
        assert_final(table)


def test_merge_crash_then_retry_loses_nothing(spark, tmp_path, monkeypatch):
    """Kill the writer inside the publish phase (os.rename raises after the
    first call), then re-open and re-merge the same batch: every pre-crash
    row not replaced by the batch must survive."""
    import buskafkasparkstreaming_spark.cdc.upsert as U

    path = str(tmp_path / "tbl")
    table = UpsertTable(
        spark, path, key_cols="rid", precombine_col="et", partition_col="route"
    )
    base = spark.createDataFrame(
        [(1, 1, 10, 100, False), (2, 2, 20, 100, False), (3, 3, 30, 100, False)],
        "rid int, route int, kph int, et int, _del boolean",
    )
    table.merge(base, delete_col="_del")

    real_rename = os.rename
    calls = {"n": 0}

    def flaky_rename(src, dst):
        # let the manifest publish (the .tmp -> .json rename), then die on
        # the first live-data rename
        if ".bss_commit_" not in dst:
            calls["n"] += 1
            if calls["n"] >= 2:
                raise OSError("simulated crash mid-commit")
        return real_rename(src, dst)

    batch = spark.createDataFrame(
        [(1, 1, 11, 200, False), (2, 2, 21, 200, False)],
        "rid int, route int, kph int, et int, _del boolean",
    )
    monkeypatch.setattr(U.os, "rename", flaky_rename)
    try:
        table.merge(batch, delete_col="_del")
        crashed = False
    except OSError:
        crashed = True
    monkeypatch.setattr(U.os, "rename", real_rename)
    assert crashed, "simulated crash did not fire"

    # fresh writer (simulates restart) retries the same batch
    table2 = UpsertTable(
        spark, path, key_cols="rid", precombine_col="et", partition_col="route"
    )
    table2.merge(batch, delete_col="_del")
    got = {r["rid"]: (r["kph"], r["et"]) for r in table2.read().collect()}
    assert got == {1: (11, 200), 2: (21, 200), 3: (30, 100)}


def test_merge_escaped_partition_tombstone_cleanup(spark, tmp_path):
    """Live end-to-end check of the escaped-partition path (ADVICE r3,
    low): partition values that Spark percent-escapes on disk (':' ->
    '%3A') and the null sentinel must round-trip through merge, and a
    fully-tombstoned escaped partition's directory must be removed —
    raw f'{col}={val}' comparison would silently miss it."""
    path = str(tmp_path / "esc_tbl")
    tbl = UpsertTable(
        spark, path, key_cols="k", precombine_col="v", partition_col="p"
    )
    rows = [(1, 10, "a:b"), (2, 10, "plain"), (3, 10, None)]
    tbl.merge(spark.createDataFrame(rows, "k int, v int, p string"))

    assert os.path.isdir(os.path.join(path, "p=a%3Ab"))
    assert os.path.isdir(os.path.join(path, "p=__HIVE_DEFAULT_PARTITION__"))
    got = {(r.k, r.v, r.p) for r in tbl.read().collect()}
    assert got == {(1, 10, "a:b"), (2, 10, "plain"), (3, 10, None)}

    # tombstone every row of the escaped partition -> its dir must go away
    tomb = spark.createDataFrame(
        [(1, 11, "a:b", True)], "k int, v int, p string, __del boolean"
    )
    tbl.merge(tomb, delete_col="__del")
    assert not os.path.exists(os.path.join(path, "p=a%3Ab"))
    got = {(r.k, r.v, r.p) for r in tbl.read().collect()}
    assert got == {(2, 10, "plain"), (3, 10, None)}
