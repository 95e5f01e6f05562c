"""Keyed upsert with precombine — the engine's replacement for the
reference's Hudi sink.

Reference semantics (01-setup-ec-vm.md:262-272): COPY_ON_WRITE table,
record key `record_id`, partition path `routeId`, precombine field
`event_time` — i.e. *for duplicate keys, keep the row with the greatest
precombine value; new batches replace existing rows key-wise*.

Spark-first design (SURVEY §2.3, §7 "custom logic"):

* precombine  = `row_number() OVER (PARTITION BY key ORDER BY precombine
  DESC, tiebreak DESC) = 1` — one shuffle on the key, map-side pipelined.
* merge       = union(existing ∩ touched partitions, batch) → precombine →
  dynamic partition overwrite. Only partitions present in the batch are
  rewritten (mirrors Hudi COW file-group rewrite), so a 100 TB table with a
  skewed hot partition only pays for the hot partition.
* deletes     = tombstone rows (op='d') drop the key during precombine.

`precombine_merge` is that merge up to the write, shared by `UpsertTable`
(rename commit, below) and `ManifestUpsertTable` (manifest commit).

At cluster scale the partition column should be a bounded-cardinality key
(the reference used routeId); the shuffle is keyed on the record key so AQE
skew-join/partition-coalescing handles hot keys.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: characters Spark/Hive percent-escape in partition directory names
#: (ExternalCatalogUtils.escapePathName / Hive FileUtils.charToEscape)
_ESCAPED_CHARS = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def partition_dirvalue(name: str) -> str | None:
    """Inverse of `partition_dirname` for the value part: unescape the
    percent-encoded directory name back to the partition value's string
    form (None for the Hive null sentinel)."""
    val = name.split("=", 1)[1]
    if val == "__HIVE_DEFAULT_PARTITION__":
        return None
    out: list[str] = []
    i = 0
    while i < len(val):
        if val[i] == "%" and i + 2 < len(val):
            out.append(chr(int(val[i + 1 : i + 3], 16)))
            i += 3
        else:
            out.append(val[i])
            i += 1
    return "".join(out)


def partition_dirname(col: str, val) -> str:
    """The directory name Spark writes for partition value `val` — including
    percent-escaping of special characters and the null sentinel. Comparing
    raw f'{col}={val}' against listdir output silently misses escaped values
    and nulls, so emptied partitions were never cleaned (ADVICE r2, low)."""
    if val is None:
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    s = str(val)
    escaped = "".join(
        f"%{ord(c):02X}" if c in _ESCAPED_CHARS else c for c in s
    )
    return f"{col}={escaped}"


class LocalFSCommitter:
    """Atomic-publish commit for a local-filesystem table directory.

    Protocol (single-writer; the reference deployment is a single streaming
    driver, 01-setup-ec-vm.md:284): the caller stages a complete new
    file/partition set, then `commit()`:

      0. write a WRITE-AHEAD MANIFEST (`.bss_commit_<txn>.json`) listing
         every planned move — published only after staging is complete;
      1. move each to-be-replaced live entry ASIDE into a trash dir
         (rename, not delete);
      2. rename staged entries into place;
      3. remove the manifest, then delete the trash.

    Rename is the ONLY step that touches live data; nothing is deleted
    until its replacement is in place (round 2 deleted old partitions
    before renaming staged ones in — a crash in that window emptied the
    table and a retry could then lose all prior rows; ADVICE r2, medium).
    A crash at any point is recovered by `recover()` (called before every
    read/merge): a manifest on disk means staging was complete, so the
    commit ROLLS FORWARD idempotently; staging/trash leftovers without a
    manifest are pre-publish garbage and are dropped.

    Object stores have no atomic rename, so this protocol is local-only:
    `cdc.manifest_table.ManifestUpsertTable` is the object-store protocol
    (write-once objects under unique keys, one create-exclusive manifest
    object per version that readers resolve instead of listing, deferred
    GC of superseded objects; SCALE.md derives it from this contract). It
    is also the table with time travel: this committer keeps no version
    history, and phase C deletes what each commit replaced.
    """

    def __init__(self, path: str) -> None:
        self.path = path

    def _manifests(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return sorted(
            n
            for n in os.listdir(self.path)
            if n.startswith(".bss_commit_") and n.endswith(".json")
        )

    def commit(
        self, staging: str, staged: list[str], emptied: list[str]
    ) -> None:
        """Publish `staged` entry names from `staging` into the table dir,
        removing `emptied` live entries (replaced or fully tombstoned)."""
        txn = os.path.basename(staging).rsplit("_", 1)[-1]
        manifest = os.path.join(self.path, f".bss_commit_{txn}.json")
        plan = {
            "staging": os.path.basename(staging),
            "trash": f".bss_trash_{txn}",
            "staged": sorted(staged),
            "emptied": sorted(emptied),
        }
        tmp = manifest + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(plan, fh)
        os.rename(tmp, manifest)  # the commit point
        self._roll_forward(manifest, plan)

    def recover(self) -> None:
        """Roll forward any interrupted commit; drop pre-publish garbage."""
        manifests = self._manifests()
        for name in manifests:
            manifest = os.path.join(self.path, name)
            with open(manifest, encoding="utf-8") as fh:
                plan = json.load(fh)
            self._roll_forward(manifest, plan)
        if os.path.isdir(self.path):
            for name in os.listdir(self.path):
                # staging/trash without a manifest: never-published leftovers
                if name.startswith((".bss_staging_", ".bss_trash_")):
                    shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
                elif name.startswith(".bss_commit_") and name.endswith(".tmp"):
                    # manifest that never reached its commit-point rename
                    os.remove(os.path.join(self.path, name))

    def _roll_forward(self, manifest: str, plan: dict) -> None:
        staging = os.path.join(self.path, plan["staging"])
        trash = os.path.join(self.path, plan["trash"])
        os.makedirs(trash, exist_ok=True)
        # phase A: move every to-be-replaced live entry aside (rename only)
        for name in plan["staged"] + plan["emptied"]:
            live = os.path.join(self.path, name)
            in_staging = os.path.join(staging, name)
            # a staged entry already placed (crash mid-phase-B) must not be
            # re-moved to trash on recovery — only move live aside while its
            # replacement still waits in staging (or it is being emptied)
            if os.path.exists(live) and (
                name in plan["emptied"] or os.path.exists(in_staging)
            ):
                dst = os.path.join(trash, name)
                if os.path.exists(dst):  # rerun after crash mid-rename loop
                    shutil.rmtree(live, ignore_errors=True)
                else:
                    os.rename(live, dst)
        # phase B: publish staged entries
        for name in plan["staged"]:
            in_staging = os.path.join(staging, name)
            if os.path.exists(in_staging):
                os.rename(in_staging, os.path.join(self.path, name))
        # phase C: retire the manifest, then drop the superseded entries and
        # the staging remains (a crash before the manifest is gone reruns
        # every phase idempotently)
        os.remove(manifest)
        shutil.rmtree(trash, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)


def scd2_history(
    df: DataFrame,
    key_cols: list[str] | str,
    version_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2: turn a change log (one row per
    key version) into interval-versioned history — each row gains
    `valid_from` (its own version stamp), `valid_to` (the NEXT version's
    stamp, NULL while current) and `is_current`. The standard warehouse
    materialization of exactly the CDC stream the reference tails
    (01-setup-ec-vm.md:97-104): latest_state() answers "what is true
    now", scd2_history() answers "what was true when".

    One hash shuffle on the key; the interval assignment is a single
    `lead` window over (version, tiebreak) — per-key sorted, spill-safe,
    no self-join. Ties on the version stamp are ordered by
    `tiebreak_cols` so intervals are deterministic.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(version_col).asc_nulls_last()] + [
        F.col(t).asc_nulls_last() for t in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(version_col).over(w)
    return (
        df.withColumn("valid_from", F.col(version_col))
        .withColumn("valid_to", nxt)
        .withColumn("is_current", nxt.isNull())
    )


def latest_state(
    df: DataFrame,
    key_cols: list[str] | str,
    precombine_col: str,
    tiebreak_cols: list[str] | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """Reduce a change log to latest-row-per-key (Hudi precombine semantics,
    reference 01-setup-ec-vm.md:269).

    One hash shuffle on `key_cols`; the window sort is per-key and spills
    safely. If `delete_col` (boolean) is given, keys whose latest row is a
    tombstone are dropped entirely.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(precombine_col).desc_nulls_last()]
    for t in tiebreak_cols or []:
        order.append(F.col(t).desc_nulls_last())
    w = Window.partitionBy(*keys).orderBy(*order)
    out = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if delete_col is not None:
        out = out.filter(~F.coalesce(F.col(delete_col), F.lit(False)))
    return out


def _touched_partitions(df: DataFrame, partition_col: str) -> list:
    """The distinct partitions `df` holds, in one job, as (raw value,
    Spark's string rendering) pairs. The raw value prunes a typed scan;
    the rendering is what Spark's partition-path code writes (`CAST AS
    STRING`: bool 'true', double '1.0E20'), so it names the partition's
    directory and manifest key. Python str() of the raw value ('True',
    '1e+20') does not, and an emptied partition's directory was then never
    found."""
    p = F.col(partition_col)
    return df.select(p, p.cast("string")).distinct().collect()


def precombine_merge(
    batch: DataFrame,
    key_cols: list[str],
    precombine_col: str,
    partition_col: str | None,
    tiebreak_cols: list[str],
    delete_col: str | None,
    read_touched: Callable[[list | None], DataFrame | None] | None,
) -> tuple[DataFrame, list | None]:
    """The merge both commit protocols run, up to the write: validate
    `batch`, collect the partitions it touches, union it with the stored
    rows of those partitions and reduce to the latest row per key.

    `read_touched(touched)` returns the stored rows of the touched
    partitions (every row when `touched` is None: an unpartitioned table),
    or None when nothing is stored. Pass `read_touched=None` for a table
    that does not exist yet; the touched-partition collect is then skipped
    too. Incoming rows beat stored rows on a full precombine tie (`__gen`
    1 over 0). The delete flag steers the merge and is never stored,
    whatever its name; a winning tombstone drops its key.

    Schema evolution (Hudi-style): the merged schema is the union of the
    stored and the batch's columns. A new column reads as null on stored
    rows; a batch missing a stored column carries null for it, so a
    winning incoming row nulls that field (the after-image of a source
    that dropped the column). Key, precombine and partition columns must
    be present, so merge semantics never degrade silently.

    Returns the merged rows and the touched partitions as
    `_touched_partitions` pairs (None when unpartitioned or not collected).
    """
    data_cols = [c for c in batch.columns if not c.startswith("_") and c != delete_col]
    required = {*key_cols, precombine_col} | ({partition_col} if partition_col else set())
    missing = sorted(required - set(data_cols))
    if missing:
        raise ValueError(
            f"batch is missing required merge columns {missing} "
            f"(batch columns: {sorted(data_cols)})"
        )
    delete_flag = (
        F.coalesce(F.col(delete_col), F.lit(False))
        if delete_col is not None and delete_col in batch.columns
        else F.lit(False)
    )
    unioned = batch.select(
        *data_cols,
        delete_flag.alias("__deleted"),
        F.lit(1).alias("__gen"),
    )
    touched = None
    if read_touched is not None:
        if partition_col is not None:
            touched = _touched_partitions(batch, partition_col)
        existing = read_touched(touched)
        if existing is not None:
            existing = existing.select(
                *existing.columns,
                F.lit(False).alias("__deleted"),
                F.lit(0).alias("__gen"),
            )
            unioned = existing.unionByName(unioned, allowMissingColumns=True)
    merged = latest_state(
        unioned,
        key_cols,
        precombine_col,
        tiebreak_cols=[*tiebreak_cols, "__gen"],
        delete_col="__deleted",
    ).drop("__deleted", "__gen")
    return merged, touched


class UpsertTable:
    """A partitioned-parquet table with keyed-upsert merge.

    Pure-Spark equivalent of the reference's Hudi COW table `bus_status`
    (record key / partition path / precombine — 01-setup-ec-vm.md:265-269).
    Writes are idempotent: merging the same batch twice yields the same
    table state (the property the reference leaned on for exactly-once,
    01-setup-ec-vm.md:284).

    Key uniqueness is partition-local (Hudi SIMPLE-index semantics): a key
    that changes its partition value would exist in both partitions. The
    reference's keys are partition-stable (a record's routeId never
    changes); tables that need global keys should either partition by a
    function of the key or do a full-table merge.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str] | str,
        precombine_col: str,
        partition_col: str | None = None,
        tiebreak_cols: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        self.precombine_col = precombine_col
        self.partition_col = partition_col
        self.tiebreak_cols = tiebreak_cols or []
        self.committer = LocalFSCommitter(path)

    # -- read ----------------------------------------------------------------
    def exists(self) -> bool:
        self.committer.recover()
        return os.path.exists(self.path) and any(
            not n.startswith(("_", ".")) for n in os.listdir(self.path)
        )

    @property
    def _schema_sidecar(self) -> str:
        return os.path.join(self.path, "_bss_schema.json")

    def read(self) -> DataFrame:
        """Read the table. Uses the schema sidecar written by merge() — this
        both skips schema inference and keeps a fully-tombstoned (empty)
        table readable — in the sidecar's column order: partition discovery
        appends the partition column, and the manifest table keeps the
        merged order."""
        if os.path.exists(self._schema_sidecar):
            from pyspark.sql.types import StructType

            with open(self._schema_sidecar, encoding="utf-8") as fh:
                schema = StructType.fromJson(json.load(fh))
            out = self.spark.read.schema(schema).parquet(self.path)
            return out.select(*schema.fieldNames())
        return self.spark.read.parquet(self.path)

    def register(self, view_name: str) -> DataFrame:
        """Expose for ad-hoc SQL — the engine's Athena analog
        (reference 01-setup-ec-vm.md:305-318)."""
        df = self.read()
        df.createOrReplaceTempView(view_name)
        return df

    # -- write ---------------------------------------------------------------
    def merge(self, batch: DataFrame, delete_col: str | None = None) -> None:
        """Upsert `batch` (change rows) into the table.

        Reads back only the partitions the batch touches (partition-pruned
        scan), runs `precombine_merge` and publishes just those partitions
        (`_publish`).
        """
        merged, touched = precombine_merge(
            batch,
            self.key_cols,
            self.precombine_col,
            self.partition_col,
            self.tiebreak_cols,
            delete_col,
            read_touched=self._read_touched if self.exists() else None,
        )
        self._publish(merged, touched)
        with open(self._schema_sidecar, "w", encoding="utf-8") as fh:
            json.dump(merged.schema.jsonValue(), fh)

    def _read_touched(self, touched: list | None) -> DataFrame:
        """Stored rows of the `_touched_partitions` pairs (all rows when
        None): a typed filter on the raw values, so the scan is
        partition-pruned. `isin` never matches NULL, so the null partition
        is matched with IS NULL; missing it read back no stored rows there,
        and the publish then replaced the partition with the batch alone."""
        table_df = self.read()
        if touched is None:
            return table_df
        col = F.col(self.partition_col)
        raws = [raw for raw, _ in touched if raw is not None]
        cond = col.isin(raws)
        if len(raws) < len(touched):
            cond = cond | col.isNull()
        return table_df.filter(cond)

    def _publish(self, df: DataFrame, touched: list | None) -> list[str]:
        """Write `df` into a fresh dot-prefixed staging directory and
        publish it with ONE `committer.commit`; returns the staged entry
        names.

        The staging directory is invisible to parquet readers, and the
        write streams from the old files to new ones, so no plan overwrites
        its own input and nothing depends on
        spark.sql.sources.partitionOverwriteMode. The write-ahead-manifest
        committer renames old entries aside, renames staged ones in and
        deletes the trash last, so a crash anywhere rolls forward on the
        next read or merge (ADVICE r2, medium).

        Unpartitioned, the staged files replace every live data file.
        Partitioned, each staged partition replaces its live directory, and
        a touched partition that staged nothing (every row tombstoned or
        purged) is removed, as Hudi removes an emptied file group. Its
        directory is named from Spark's own rendering of the value, so
        escaped characters, NULL, bool and double partitions all match what
        is on disk."""
        staging = os.path.join(self.path, f".bss_staging_{uuid.uuid4().hex[:12]}")
        writer = df.write.mode("overwrite")
        if self.partition_col is not None:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(staging)

        staged = [n for n in os.listdir(staging) if not n.startswith((".", "_"))]
        if self.partition_col is None:
            live = [n for n in os.listdir(self.path) if not n.startswith((".", "_"))]
        else:
            live = [partition_dirname(self.partition_col, s) for _, s in touched or []]
        emptied = [
            n
            for n in live
            if n not in staged and os.path.exists(os.path.join(self.path, n))
        ]
        self.committer.commit(staging, staged, emptied)
        return staged

    def merge_into(
        self,
        source: DataFrame,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        matched_delete_condition: str | None = None,
    ) -> None:
        """Delta-Lake-style tri-clause MERGE INTO, riding the same
        precombine/committer path as `merge()` (so it inherits
        idempotency, schema evolution, partition pruning, and crash
        roll-forward):

        - ``when_matched``: ``"update"`` (source row upserts the stored
          row, precombine deciding the winner) or ``"ignore"`` (matched
          source rows are dropped — the statement becomes INSERT-ONLY).
        - ``when_not_matched``: ``"insert"`` or ``"ignore"`` (unmatched
          source rows are dropped — the statement becomes UPDATE-ONLY).
        - ``matched_delete_condition``: SQL boolean expression over the
          SOURCE row; matched keys whose source row satisfies it are
          deleted (tombstoned). Rows matching the delete condition never
          also update — and an UNMATCHED delete-condition row vanishes
          rather than inserting (the CDC-feed semantics a Debezium
          ``op='d'`` on an unknown key needs; Delta's literal clause
          routing would insert it).

        Routing is fully relational: one distinct-key snapshot of the
        current table (partition-pruned by merge() afterwards), a
        semi/anti join per clause — no per-row driver logic — then ONE
        ordinary merge() commit. Matching is on the table's key columns
        (the only key shape the underlying index supports; arbitrary ON
        predicates would need a different physical design).
        """
        if when_matched not in ("update", "ignore"):
            raise ValueError(f"when_matched must be update|ignore, got {when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(
                f"when_not_matched must be insert|ignore, got {when_not_matched!r}"
            )
        if when_matched == "ignore" and when_not_matched == "ignore" and (
            matched_delete_condition is None
        ):
            raise ValueError("merge_into with every clause ignored is a no-op")
        if "__del" in source.columns:
            # the internal routing flag would silently overwrite a source
            # column of the same name, changing caller data semantics
            raise ValueError(
                "source carries the reserved internal column '__del'; "
                "rename it before merge_into()"
            )

        if self.exists():
            existing_keys = self.read().select(*self.key_cols).distinct()
        else:
            existing_keys = self.spark.createDataFrame(
                [], source.select(*self.key_cols).schema
            )

        parts: list[DataFrame] = []
        src = source
        if matched_delete_condition is not None:
            cond = F.expr(matched_delete_condition)
            dels = (
                src.filter(cond)
                .join(existing_keys, self.key_cols, "left_semi")
                .withColumn("__del", F.lit(True))
            )
            parts.append(dels)
            src = src.filter(~F.coalesce(cond, F.lit(False)))
        if when_matched == "update":
            parts.append(
                src.join(existing_keys, self.key_cols, "left_semi").withColumn(
                    "__del", F.lit(False)
                )
            )
        if when_not_matched == "insert":
            parts.append(
                src.join(existing_keys, self.key_cols, "left_anti").withColumn(
                    "__del", F.lit(False)
                )
            )
        if not parts:
            return
        batch = parts[0]
        for p in parts[1:]:
            batch = batch.unionByName(p)
        self.merge(batch, delete_col="__del")

    def purge_keys(self, keys: DataFrame) -> int:
        """GDPR right-to-be-forgotten: physically REMOVE every row whose
        key appears in `keys` (a DataFrame carrying the table's key
        columns).

        This is deliberately NOT a tombstone merge: a tombstone masks the
        key from reads but the bytes stay in the parquet files — which
        fails an erasure request. purge_keys rewrites the affected files
        via the same staging + write-ahead-manifest commit as merge()
        (crash-safe, readers never see a mixed file set), and the commit
        deletes the files it replaced; this table keeps no older versions,
        so after it returns no file on disk contains the purged keys.

        Scale shape: one scan of key+partition columns semi-joined to the
        purge set finds the TOUCHED partitions (at 100 TB the purge set is
        tiny — AQE broadcasts it); only those partitions are read back,
        anti-joined, and rewritten — untouched partitions keep their
        files, exactly like merge(). A partition whose every row is purged
        is removed (the emptied-partition path). Returns the number of
        rows deleted.
        """
        self.committer.recover()
        if not self.exists():
            return 0
        kcols = list(self.key_cols)
        purge = keys.select(*kcols).dropDuplicates(kcols)
        touched = None
        if self.partition_col is not None:
            touched = _touched_partitions(
                self.read()
                .select(self.partition_col, *kcols)
                .join(purge, on=kcols, how="left_semi"),
                self.partition_col,
            )
            if not touched:
                return 0
        scoped = self._read_touched(touched)
        # deleted-row count from the SCOPED semi-join — never a full-table
        # count (at 100 TB the purge must only ever read touched partitions)
        deleted = scoped.join(purge, on=kcols, how="left_semi").count()
        if deleted == 0:
            return 0
        self._publish(scoped.join(purge, on=kcols, how="left_anti"), touched)
        return deleted

    # -- maintenance ---------------------------------------------------------
    def compact(
        self, max_files_per_partition: int = 4, max_partitions: int = 64
    ) -> list[str]:
        """Rewrite partitions holding more than `max_files_per_partition`
        parquet files into ONE file each — the small-file compaction every
        long-lived COW table needs (each merge writes up to
        spark.sql.shuffle.partitions files per touched partition; S3/HDFS
        metadata and scan task-setup costs grow with file count, the
        classic lakehouse decay mode at 100 TB).

        Runs as ONE Spark job over the worst `max_partitions` offenders (a
        bounded maintenance tick, like Hudi's inline-compaction budget —
        repeated ticks converge the whole table): read just those
        partitions (partition-pruned through the sidecar schema),
        `repartition` on the partition column so each partition's rows land
        in one task → one output file, and publish through the same
        write-ahead-manifest committer as merge(), so a crash mid-compact
        rolls forward and readers never see a mixed file set. Row contents
        are untouched — compaction is pure layout. Returns the compacted
        partition dir names ([] when the table is already compact).

        Non-partitioned tables compact the whole directory into one file
        when it exceeds the threshold.
        """
        self.committer.recover()
        if not self.exists():
            return []

        def _nfiles(d: str) -> int:
            return sum(
                1 for n in os.listdir(d) if n.endswith(".parquet")
            ) if os.path.isdir(d) else 0

        if self.partition_col is None:
            if _nfiles(self.path) <= max_files_per_partition:
                return []
            self._publish(self.read().coalesce(1), None)
            return ["."]

        offenders = sorted(
            (
                name
                for name in os.listdir(self.path)
                if name.startswith(f"{self.partition_col}=")
                and _nfiles(os.path.join(self.path, name))
                > max_files_per_partition
            ),
            key=lambda n: -_nfiles(os.path.join(self.path, n)),
        )[:max_partitions]
        if not offenders:
            return []

        table_df = self.read()
        ptype = table_df.schema[self.partition_col].dataType
        values = [partition_dirvalue(n) for n in offenders]
        # typed equality on the raw partition column (not a cast of it), so
        # Catalyst partition-prunes the scan to just the offender dirs
        cond = F.lit(False)
        for v in values:
            if v is None:
                cond = cond | F.col(self.partition_col).isNull()
            else:
                cond = cond | (
                    F.col(self.partition_col) == F.lit(v).cast(ptype)
                )
        subset = table_df.filter(cond).repartition(
            len(offenders), F.col(self.partition_col)
        )
        return sorted(self._publish(subset, None))
