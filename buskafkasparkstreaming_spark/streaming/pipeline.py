"""The continuous CDC pipeline — the engine's rebuild of the reference's
production job (SURVEY §3 entry point B, reference 01-setup-ec-vm.md:340-389).

Shape: unbounded `value` stream (Kafka or file replay) → envelope parse
(narrow, codegen) → foreachBatch → keyed-upsert merge into the partitioned
lake table. foreachBatch is deliberate, copied from the reference's one good
architectural decision (:284): inside the batch callback the merge plan is a
*batch* plan, so AQE re-enables (the reference observed AQE auto-disabled in
streaming plans, :290) and the checkpoint advances only after the merge
commits — exactly-once per batch w.r.t. the checkpoint, with an idempotent
merge underneath (same batch replayed → same table state).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from buskafkasparkstreaming_spark.cdc.envelope import parse_envelopes, route_ops
from buskafkasparkstreaming_spark.cdc.manifest_table import ManifestUpsertTable
from buskafkasparkstreaming_spark.cdc.upsert import UpsertTable


def run_cdc_pipeline(
    value_stream: DataFrame,
    table: UpsertTable | ManifestUpsertTable,
    checkpoint_dir: str,
    row_schema: T.StructType | None = None,
    quarantine_path: str | None = None,
    available_now: bool = True,
    query_name: str = "bss-cdc-pipeline",
) -> StreamingQuery:
    """Start the stream. With `available_now` (the test/replay mode) the
    query drains all pending input then stops — the engine's analog of the
    reference's continuous ASAP-trigger run (:183, no trigger set).

    Corrupt lines land under `quarantine_path/batch_id=<n>/`, so
    `spark.read.parquet(quarantine_path)` reads them all, with the batch id
    as a column."""
    parsed = parse_envelopes(value_stream, row_schema=row_schema)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Mirrors the reference's write_batch(df, epochId) (:278-282), with
        # op routing + quarantine the reference lacked. The batch feeds the
        # quarantine write, the touched-partition collect and the merge:
        # persisted, the source is read and parsed once, not per action.
        batch_df.persist()
        try:
            upserts, deletes, corrupt = route_ops(batch_df)
            if quarantine_path is not None:
                # keyed by batch id and overwritten: a batch replayed after
                # a crash before its checkpoint commit rewrites its own
                # corrupt rows instead of appending them a second time
                corrupt.select("_corrupt").write.mode("overwrite").parquet(
                    os.path.join(quarantine_path, f"batch_id={batch_id}")
                )
            changes = upserts.unionByName(deletes)
            table.merge(changes, delete_col="_is_delete")
        finally:
            batch_df.unpersist()

    writer = (
        parsed.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_append_sink(
    value_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    row_schema: T.StructType | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Append-only lake sink — the working version of the reference's
    Iceberg variant (S8, 01-setup-ec-vm.md:427-430, which passed the literal
    string 's3_path' as the path and never ran). Parsed change rows append
    to partitioned parquet; no merge, full history retained."""
    parsed = parse_envelopes(value_stream, row_schema=row_schema)
    writer = (
        parsed.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_console_debug(
    value_stream: DataFrame,
    checkpoint_dir: str,
    row_schema: T.StructType | None = None,
) -> StreamingQuery:
    """Console sink — reference S6 (01-setup-ec-vm.md:183), untruncated."""
    parsed = parse_envelopes(value_stream, row_schema=row_schema)
    return (
        parsed.writeStream.format("console")
        .option("truncate", "false")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_pagerank_monitor(
    edge_stream: DataFrame,
    work_dir: str,
    checkpoint_dir: str,
    iters: int = 3,
    shuffle_partitions: int | None = 8,
    recompute_every: int = 1,
) -> DataFrame:
    """STREAMING graph-metric monitor: a live PageRank over a streamed
    EDGE LOG (SURVEY round-11 fresh-surface list). Each micro-batch is
    appended to an accumulated parquet edge log, and the exact
    fixed-point PageRank (operators/graph.py::pagerank_fixed_point —
    BIGINT arithmetic, bit-identical across engines/partitionings) is
    recomputed over the log's DISTINCT edges, snapshot-tagged with the
    monotone accumulated-row count. The caller reads the max-n_edges
    snapshot as the live ranks.

    Design honesty: exact PageRank is a GLOBAL fixed point — there is
    no per-key state decomposition, so the monitor is the
    periodic-RECOMPUTE pattern (the continuous-aggregate rollup's
    heavyweight cousin), not an incremental rank maintenance; each tick
    costs O(iters) shuffles of the accumulated DISTINCT edge set.
    Replay-safe without the checkpoint's help: a re-delivered batch
    double-appends rows, but ranks read DISTINCT edges, so the
    recompute is idempotent (the CDC merge discipline) and the
    kill/restart pin holds. Edge rows must be (src bigint, dst bigint),
    directed — pass both directions for an undirected graph.

    Returns the snapshot table (src/dst node ids, rank_fp, n_edges) as
    a BATCH DataFrame of the final snapshot's rows.

    `shuffle_partitions` sizes the per-tick recompute's shuffles (the
    run_to_memory discipline: a deliberate knob tracking the GRAPH
    size, not the session's batch width — the power-iteration joins on
    a node-count-sized frame pay per-partition scheduling every tick).
    None = inherit the session conf.

    `recompute_every` is the TICK-DECIMATION knob (VERDICT r11 watch
    item: the per-tick exact recompute is the monitor's whole cost):
    with N > 1 the edge log still appends every batch, but the rank
    recompute runs only on every Nth batch — per-tick cost drops N×
    while freshness degrades to at most N−1 ticks. After the drain one
    FINAL recompute always runs if any appended edges were never
    ranked, so the RETURNED snapshot is exact over the full edge set
    for ANY N (the prefix-equality contract holds at every tick that
    ranked: a decimated tick's snapshot equals the batch PageRank of
    its prefix, pinned in tests).
    """
    import os

    from pyspark.sql import functions as F

    from buskafkasparkstreaming_spark.operators.graph import (
        pagerank_fixed_point,
    )

    spark = edge_stream.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key)
    edges_path = os.path.join(work_dir, "edges")
    snaps_path = os.path.join(work_dir, "snapshots")

    def recompute() -> int:
        acc = spark.read.parquet(edges_path)
        n_rows = acc.count()
        edges = acc.distinct()
        nodes = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        ranks = pagerank_fixed_point(edges, nodes, iters=iters)
        ranks.withColumn("n_edges", F.lit(n_rows).cast("long")).write.mode(
            "append"
        ).parquet(snaps_path)
        return n_rows

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(edges_path)
        if batch_id % max(recompute_every, 1) == 0:
            recompute()

    def _count_or_zero(path: str, agg_col: str | None = None) -> int:
        """Row count of a parquet path (or max(agg_col) when given),
        0 when the path doesn't exist yet — the DURABLE state the
        final-pass decision reads (ADVICE r12: process-local counters
        don't survive a driver kill+restart; a resumed drain that
        processes zero new batches must still detect that the log is
        ahead of the newest snapshot and recompute)."""
        from pyspark.errors import AnalysisException

        try:
            df = spark.read.parquet(path)
        except AnalysisException:
            return 0
        if agg_col is None:
            return df.count()
        val = df.agg(F.max(agg_col).alias("m")).collect()[0]["m"]
        return int(val) if val is not None else 0

    try:
        if shuffle_partitions is not None:
            spark.conf.set(conf_key, str(shuffle_partitions))
        q = (
            edge_stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Decimation may skip the tail ticks; derive the final-pass
        # condition from durable state only: edge-log rows vs the max
        # n_edges among committed snapshots (no per-batch O(total
        # edges) re-count — the log is scanned once, here).
        if _count_or_zero(edges_path) > _count_or_zero(
            snaps_path, agg_col="n_edges"
        ):
            recompute()
    finally:
        spark.conf.set(conf_key, prev)
    snaps = spark.read.parquet(snaps_path)
    mx = snaps.agg(F.max("n_edges").alias("m")).collect()[0]["m"]
    return snaps.filter(F.col("n_edges") == mx).select("id", "rank_fp")
