"""Property-based invariant (SURVEY §5.5): after merging any sequence of
change batches, the table state equals `argmax(precombine) per key of all
upserted images, minus keys whose winning row is a tombstone`, on either
commit protocol (so the two protocols also land in identical states)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from buskafkasparkstreaming_spark.cdc.manifest_table import ManifestUpsertTable
from buskafkasparkstreaming_spark.cdc.upsert import UpsertTable

# routeId is derived from record_id (partition-stable keys): the merge has
# Hudi SIMPLE-index semantics — partition-local key uniqueness (see
# UpsertTable docstring), matching the reference where a record's routeId
# never changes.
changes = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=8),  # record_id
        st.integers(min_value=0, max_value=100),  # kph
        st.integers(min_value=0, max_value=50),  # event_time
        st.booleans(),  # is_delete
    ),
    min_size=1,
    max_size=30,
).map(lambda rows: [(rid, rid % 3 + 1, kph, et, d) for (rid, kph, et, d) in rows])


def reference_merge(batches):
    """Driver-side model of the table algebra: batches apply sequentially;
    within one merge the winner per key is max (event_time, seq), with the
    incoming side beating the stored row on a full tie; a winning tombstone
    removes the key (tombstones are NOT persisted — a later batch with any
    lower event_time re-creates the key, exactly like a Hudi delete)."""
    state: dict[int, tuple] = {}  # rid -> (et, seq, route, kph)
    seq = 0
    for batch in batches:
        incoming: dict[int, tuple] = {}
        for rid, route, kph, et, is_del in batch:
            cur = incoming.get(rid)
            if cur is None or (et, seq) >= (cur[0], cur[1]):
                incoming[rid] = (et, seq, route, kph, is_del)
            seq += 1
        for rid, (et, s, route, kph, is_del) in incoming.items():
            cur = state.get(rid)
            # incoming wins on >= (its __gen tiebreak beats stored rows)
            if cur is None or (et, s) >= (cur[0], cur[1]):
                if is_del:
                    state.pop(rid, None)
                else:
                    state[rid] = (et, s, route, kph)
    return {rid: (route, kph, et) for rid, (et, s, route, kph) in state.items()}


@pytest.mark.parametrize("cls", [UpsertTable, ManifestUpsertTable], ids=["rename", "manifest"])
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(batch1=changes, batch2=changes)
def test_upsert_matches_reference(spark, tmp_path_factory, cls, batch1, batch2):
    path = str(tmp_path_factory.mktemp("upsert"))
    table = cls(
        spark,
        path,
        key_cols="record_id",
        precombine_col="event_time",
        partition_col="routeId",
        tiebreak_cols=["seq"],
    )
    seq = 0
    for batch in (batch1, batch2):
        rows = []
        for rid, route, kph, et, is_del in batch:
            rows.append((rid, route, kph, et, is_del, seq))
            seq += 1
        df = spark.createDataFrame(
            rows,
            "record_id int, routeId int, kph int, event_time int, _is_delete boolean, seq int",
        )
        table.merge(df, delete_col="_is_delete")

    got = {
        r["record_id"]: (r["routeId"], r["kph"], r["event_time"])
        for r in table.read().collect()
    }
    want = reference_merge([batch1, batch2])
    assert got == want
