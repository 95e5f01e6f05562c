"""Object-store keyed-upsert table: write-once data objects + a manifest
pointer, no renames anywhere.

This is the S3 layout SCALE.md derives from `LocalFSCommitter`'s contract
(reference deployment is Hudi-on-s3a, 01-setup-ec-vm.md:273): object
stores have no atomic rename, so the rename-based commit protocol cannot
apply. The manifest protocol replaces it:

* **stage** — every merge writes its output parquet as NEW objects under
  unique keys (`data/<txn>/<id>.parquet`); nothing is ever overwritten
  or moved. (Locally, "upload" is a write into the final key path — the
  one local rename inside `_stage` stands in for S3's atomic-per-key
  PUT, not for a commit primitive.)
* **commit point** — ONE manifest object (`_manifests/<n>.json`, n
  monotonically increasing) lists the complete live file set per
  partition plus the table schema. Readers resolve the HIGHEST manifest
  and read exactly the keys it lists — never ListObjects over data — so
  a reader sees the old or the new file set, never a mix. On S3 the PUT
  is last-wins (conditional-PUT where offered); locally, write-tmp +
  rename gives the same atomicity.
* **retire** — superseded data objects stay on disk until `vacuum()`
  deletes everything unreferenced by the current manifest. A writer that
  crashes after staging but before the manifest PUT leaves only
  unreferenced keys: invisible to readers, collected by the next vacuum.

Every object carries the partition column itself, as Iceberg data files do
for identity partitions, so a read is one plain parquet scan over the keys
the manifest selects: partition pruning is manifest key selection, and no
value is re-attached from the manifest. The manifest marks each such object
(`__pcol` in its stats entry); a read that selects an object without the
marker — one written before the column was kept in the objects — raises.

Merge semantics (key/partition/precombine, delete tombstones, schema
evolution, idempotent replay) are those of `UpsertTable`: both run the one
merge core, `cdc.upsert.precombine_merge`, and only the read-back of the
touched partitions and the storage protocol differ. Concurrent writers
are serialized by the create-exclusive manifest PUT and a retried merge.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from buskafkasparkstreaming_spark.cdc.upsert import (
    partition_dirvalue,
    precombine_merge,
)


class ManifestConflictError(RuntimeError):
    """Another writer published the manifest version this txn targeted.

    The object-store analog of a Hudi timeline / Delta log collision:
    both writers read version N and both try to PUT N+1. The PUT is
    create-exclusive, so exactly one wins; the loser gets this error and
    `merge()` re-reads the new current manifest, recomputes the merge
    against it, and retries (optimistic concurrency, Delta-style)."""


class _Staged(NamedTuple):
    """Objects one staging write published, not yet in any manifest."""

    txn: str
    objs: dict[str, list[str]]  # partition key -> object keys
    stats: dict[str, dict]  # object key -> stats entry
    num_rows: dict[str, int]  # object key -> footer row count


class ManifestUpsertTable:
    DATA_DIR = "data"
    MANIFEST_DIR = "_manifests"
    #: staging-only copy of the partition column: `partitionBy` turns it
    #: into the directory name, so the column itself stays in the object
    PDIR = "__pdir"
    #: per-object stats entry recording that the object holds the
    #: partition column (the reader refuses objects without it)
    PCOL_MARK = "__pcol"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str] | str,
        precombine_col: str,
        partition_col: str | None = None,
        tiebreak_cols: list[str] | None = None,
        stats_cols: list[str] | None = None,
        bloom_col: str | None = None,
        bloom_m: int = 8192,
        bloom_k: int = 4,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        self.precombine_col = precombine_col
        self.partition_col = partition_col
        self.tiebreak_cols = tiebreak_cols or []
        #: columns whose per-object min/max zone maps are lifted from the
        #: parquet footers into the manifest at commit time (file-skipping
        #: stats, the Delta/Iceberg pattern)
        self.stats_cols = stats_cols or []
        #: when set, a per-object BLOOM FILTER over this column is built
        #: at publish, in the same driver-side footer pass that lifts the
        #: zone maps (`_object_info_many`), and persisted in the manifest
        #: beside them — the Hudi bloom-index analog (the reference
        #: deployment is Hudi, whose default record index is exactly
        #: this: 01-setup-ec-vm.md:273): point lookups skip every object
        #: whose bloom excludes all probe values (zone maps skip RANGES;
        #: the bloom skips POINT sets a range cannot bound). Bit positions
        #: are md5-derived from the value's Python str() form; for integer
        #: and string keys that equals Spark's CAST AS STRING and DuckDB's
        #: CAST AS VARCHAR, which is what lets the manifest_bloom_lookup
        #: entry's oracle recompute bloom membership — false positives
        #: included — entirely in SQL. m is bits per object (8192 =
        #: 1 KiB), k the hash count (at most 4, the md5 digest's 32-bit
        #: words); at ~budget_rows=1000 keys/object the fill is ~0.4 and
        #: the FP rate ~(0.4)^4 ≈ 2.4% — tune m upward for bigger objects.
        self.bloom_col = bloom_col
        self.bloom_m = int(bloom_m)
        self.bloom_k = int(bloom_k)
        if not 1 <= self.bloom_k <= 4:
            raise ValueError(f"bloom_k must be 1..4 (md5 words), got {bloom_k}")

    # -- manifest resolution -------------------------------------------------
    def _manifest_dir(self) -> str:
        return os.path.join(self.path, self.MANIFEST_DIR)

    def _current_manifest(self) -> dict | None:
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return None
        names = sorted(n for n in os.listdir(d) if n.endswith(".json"))
        if not names:
            return None
        with open(os.path.join(d, names[-1]), encoding="utf-8") as fh:
            return json.load(fh)

    def exists(self) -> bool:
        return self._current_manifest() is not None

    def version(self) -> int:
        m = self._current_manifest()
        return -1 if m is None else m["version"]

    def history(self) -> list[int]:
        """Versions still readable (retained by `vacuum`), oldest first.
        Every retained manifest is fully readable: vacuum keeps the union
        of their object sets live."""
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(n[: -len(".json")]) for n in os.listdir(d) if n.endswith(".json")
        )

    def _manifest_at(self, version: int) -> dict:
        p = os.path.join(self._manifest_dir(), f"{version:010d}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"version {version} is not readable at {self.path}: its "
                f"manifest was vacuumed (retained: {self.history()})"
            )
        with open(p, encoding="utf-8") as fh:
            return json.load(fh)

    # -- read ----------------------------------------------------------------
    def read_version(self, version: int) -> DataFrame:
        """Time travel: read the table exactly as of `version`. Free on
        this protocol — manifests are immutable versioned snapshots and
        `vacuum(keep_manifests=K)` keeps the last K fully readable (the
        Hudi-timeline / Iceberg-snapshot analog)."""
        return self._read_manifest_df(self._manifest_at(version))

    def diff_versions(self, from_version: int, to_version: int) -> DataFrame:
        """Changelog between two retained versions (Delta CDF analog): one
        row per key whose state changed, labeled insert/update/delete.
        Pure relational: full-outer key join of the two `read_version`
        reads, null-safe struct comparison for the update test — no stored
        change log needed beyond the retained manifests."""
        a = self.read_version(from_version)
        b = self.read_version(to_version)
        keys = self.key_cols
        cols = [c for c in b.columns if c not in keys]
        a_s = a.select(*keys, F.struct(*cols).alias("__a"))
        b_s = b.select(*keys, F.struct(*cols).alias("__b"))
        j = a_s.join(b_s, keys, "full_outer")
        change = (
            F.when(F.col("__a").isNull(), F.lit("insert"))
            .when(F.col("__b").isNull(), F.lit("delete"))
            .when(~F.col("__a").eqNullSafe(F.col("__b")), F.lit("update"))
        )
        return (
            j.withColumn("change_type", change)
            .filter(F.col("change_type").isNotNull())
            .select(*keys, "change_type")
        )

    def read(self) -> DataFrame:
        """Read exactly the objects the current manifest lists (never a
        directory listing), in one plain scan: each object holds its own
        partition column, and partition "pruning" is explicit key
        selection, the object-store equivalent of directory pruning."""
        m = self._current_manifest()
        if m is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        return self._read_manifest_df(m)

    def _read_objects(
        self,
        m: dict,
        vals: set | None = None,
        keep_keys: set | None = None,
    ) -> DataFrame | None:
        """THE manifest-resolved reader (every read path funnels here): one
        plain parquet scan over the objects the manifest selects —
        partitions restricted to string forms in `vals` when given,
        objects restricted to `keep_keys` (zone-map / bloom survivors)
        when given. Every object carries the partition column, so pruning
        is this key selection and nothing is joined back. An object
        without the `__pcol` marker predates that layout and would read
        its partition column as NULL: the read raises instead, deciding
        from the manifest alone. Returns None when nothing matches."""
        from pyspark.sql.types import StructType

        keys = [
            k
            for val_str, ks in sorted(m["partitions"].items())
            if vals is None or val_str in vals
            for k in ks
            if keep_keys is None or k in keep_keys
        ]
        if not keys:
            return None
        if self.partition_col is not None:
            stats = m.get("stats", {})
            unmarked = [k for k in keys if not stats.get(k, {}).get(self.PCOL_MARK)]
            if unmarked:
                raise ValueError(
                    f"manifest v{m['version']} at {self.path} lists objects "
                    f"without the partition column {self.partition_col!r} "
                    f"(no {self.PCOL_MARK} marker): {unmarked}"
                )
        files = [os.path.join(self.path, k) for k in keys]
        return self.spark.read.schema(StructType.fromJson(m["schema"])).parquet(*files)

    def _empty(self, m: dict) -> DataFrame:
        """A zero-row frame of `m`'s schema over an RDD of no partitions, so
        a plan that unions it runs no extra task."""
        from pyspark.sql.types import StructType

        return self.spark.createDataFrame(
            self.spark.sparkContext.emptyRDD(), StructType.fromJson(m["schema"])
        )

    def _read_manifest_df(self, m: dict) -> DataFrame:
        out = self._read_objects(m)
        return self._empty(m) if out is None else out

    def select_objects(
        self, col: str, lo, hi, m: dict | None = None
    ) -> tuple[list[str], list[str]]:
        """File skipping: split the manifest's live objects into (kept,
        skipped) for the predicate lo <= col <= hi using the per-object
        zone maps. An object without stats for `col` is always kept
        (stats are an optimization, never a correctness gate). Pass `m`
        to pin a manifest snapshot — callers that resolve the manifest
        AND select objects must use ONE snapshot for both, or a commit
        landing between the two reads silently empties the
        intersection."""
        if m is None:
            m = self._current_manifest()
        if m is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        stats = m.get("stats", {})
        kept, skipped = [], []
        for keys in m["partitions"].values():
            for k in keys:
                rng = stats.get(k, {}).get(col)
                if rng is not None and (rng[1] < lo or rng[0] > hi):
                    skipped.append(k)
                else:
                    kept.append(k)
        return kept, skipped

    def read_where(self, col: str, lo, hi) -> DataFrame:
        """Range read with manifest-level file skipping: objects whose
        zone map cannot contain [lo, hi] are never opened — at object-store
        scale this (not row-group pushdown) is what turns a full-table
        scan into a handful of GETs. The surviving objects still get the
        row-level filter (zone maps are file-granular)."""
        m = self._current_manifest()
        if m is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        # ONE manifest snapshot governs both the selection and the read —
        # re-resolving inside select_objects would race a concurrent
        # commit and silently drop the recompacted partitions
        kept, _ = self.select_objects(col, lo, hi, m=m)
        out = self._read_objects(m, keep_keys=set(kept))
        pred = F.col(col).between(lo, hi)
        return self._empty(m) if out is None else out.filter(pred)

    # -- write ---------------------------------------------------------------
    @staticmethod
    def _pval(v: str | None) -> str:
        """Manifest key for a partition whose SPARK-RENDERED string form is
        `v` (None = null partition). Callers must pass the string Spark
        itself writes in the partition directory name (recovered via
        `partition_dirvalue`, or produced by `CAST(col AS STRING)` — the
        same rendering Spark's partition-path code uses). Python `str()`
        of a raw value diverges for bool (`True` vs dir `true`) and large
        doubles (`1e+20` vs dir `1.0E20`), which silently orphaned the
        existing partition on merge (ADVICE r5, low)."""
        return "\0null" if v is None else v

    def _object_info(self, path: str) -> tuple[int, dict]:
        """Everything the manifest needs for one object — num_rows,
        zone-map stats, and (when bloom_col is set) the per-object bloom
        — from ONE file open: the footer gives num_rows and the zone maps,
        and the bloom column is the only data read. The ParquetFile is a
        context manager, so no fd outlives the call."""
        import pyarrow.parquet as pq

        with pq.ParquetFile(path) as pf:
            md = pf.metadata
            entry = self._stats_from_md(md, self.stats_cols) if self.stats_cols else {}
            if self.bloom_col is not None:
                vals = pf.read(columns=[self.bloom_col])[self.bloom_col].to_pylist()
                entry["__bloom"] = self._bloom_from_values(vals)
        return md.num_rows, entry

    def _object_info_many(self, paths: list[str]) -> dict[str, tuple[int, dict]]:
        """`_object_info` for many objects through a small thread pool
        (pyarrow releases the GIL while it opens and decodes; a commit
        touches many small objects, so the opens dominate). No Spark job:
        at every measured commit size this driver fold beats a
        distributed pass over the staged objects (SCALE.md, bloom
        section). Results are keyed by path — ordering plays no role."""
        from concurrent.futures import ThreadPoolExecutor

        if not paths:
            return {}
        with ThreadPoolExecutor(max_workers=min(8, len(paths))) as pool:
            return dict(zip(paths, pool.map(self._object_info, paths)))

    @staticmethod
    def _stats_from_md(md, cols: list[str]) -> dict:
        out: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                name = col.path_in_schema
                if name not in cols:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        continue
                if not isinstance(mn, (int, float, str)):
                    continue
                if name in out:
                    out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
                else:
                    out[name] = [mn, mx]
        return out

    def _stage(
        self,
        df: DataFrame,
        bin_col: str | None = None,
        expected_rows: int | None = None,
    ) -> _Staged:
        """Write `df` to a staging directory and publish every part file as
        a write-once object under data/<txn>/. The os.rename here emulates
        S3's atomic per-key upload (finalize-on-close), not a commit:
        objects are INVISIBLE until a manifest references them.

        The partition column stays in every object; `partitionBy` runs on
        its copy `__pdir`, so the staged directory name still carries
        Spark's own rendering of the value — exactly the manifest key
        (`_pval`). `bin_col` adds a second directory level so each bin
        lands as its own object. With `expected_rows`, the staged footers
        must account for exactly that many rows (the binned rewrites'
        loss guard): otherwise staging is removed and the call raises
        before anything is published.

        num_rows, zone maps and blooms come from one driver-side pass that
        opens each staged file once (`_object_info_many`; no Spark job);
        every object of a partitioned table also gets the `__pcol` marker
        the reader checks."""
        part_cols = [bin_col] if bin_col is not None else []
        if self.partition_col is not None:
            df = df.withColumn(self.PDIR, F.col(self.partition_col))
            part_cols.insert(0, self.PDIR)
        txn = uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, f".stage_{txn}")
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(staging)

        staged = sorted(
            os.path.join(root, fname)
            for root, _dirs, files in os.walk(staging)
            for fname in files
            if fname.endswith(".parquet")
        )
        info = self._object_info_many(staged)
        if expected_rows is not None:
            staged_rows = sum(n for n, _st in info.values())
            if staged_rows != expected_rows:
                shutil.rmtree(staging, ignore_errors=True)
                raise ValueError(
                    f"staged {staged_rows} rows but the rewritten objects "
                    f"hold {expected_rows} — aborting before publish"
                )
        out = _Staged(txn, {}, {}, {})
        os.makedirs(os.path.join(self.path, self.DATA_DIR, txn), exist_ok=True)
        for src in staged:
            val_str = ""
            if self.partition_col is not None:
                pdir = os.path.relpath(src, staging).split(os.sep, 1)[0]
                val_str = self._pval(partition_dirvalue(pdir))
            key = f"{self.DATA_DIR}/{txn}/{uuid.uuid4().hex[:16]}.parquet"
            os.rename(src, os.path.join(self.path, key))
            out.objs.setdefault(val_str, []).append(key)
            n_rows, entry = info[src]
            out.num_rows[key] = n_rows
            if self.partition_col is not None:
                entry[self.PCOL_MARK] = True
            if entry:
                out.stats[key] = entry
        shutil.rmtree(staging, ignore_errors=True)
        return out

    def _commit(self, m: dict | None, partitions: dict, schema_json: dict, staged: _Staged) -> None:
        """PUT the next manifest version listing `partitions`. Stats and
        num_rows carry over from `m` for keys still live (partial when `m`
        is format-1), plus the staged objects' own. Losing the version
        race deletes this txn's objects — they were computed against a
        superseded base and no manifest references them — and re-raises
        ManifestConflictError."""
        live = {k for keys in partitions.values() for k in keys}
        old = m or {}
        stats = {**old.get("stats", {}), **staged.stats}
        num_rows = {**old.get("num_rows", {}), **staged.num_rows}
        try:
            self._put_manifest(
                old["version"] + 1 if m else 0,
                partitions,
                schema_json,
                {k: v for k, v in stats.items() if k in live},
                num_rows={k: int(v) for k, v in num_rows.items() if k in live},
            )
        except ManifestConflictError:
            shutil.rmtree(
                os.path.join(self.path, self.DATA_DIR, staged.txn),
                ignore_errors=True,
            )
            raise

    @staticmethod
    def _bloom_positions(value, m_bits: int, k: int) -> list[int]:
        """The k bit positions of one value: md5 of the value's STRING
        form, position j = int(hexdigest[8j:8j+8], 16) mod m. Integer
        values render identically in Python str(), Spark CAST(.. AS
        STRING), and DuckDB CAST(.. AS VARCHAR) — the cross-engine
        contract the oracle replay depends on."""
        import hashlib

        hx = hashlib.md5(str(value).encode("utf-8")).hexdigest()
        return [
            int(hx[8 * j: 8 * j + 8], 16) % m_bits for j in range(k)
        ]

    def _bloom_from_values(self, vals) -> dict:
        """The bloom of one object over its non-NULL `vals`: each value is
        hashed once, and the k positions and the bitmap are derived with
        numpy — bit-identical to setting `bits[p >> 3] |= 1 << (p & 7)`
        for every `_bloom_positions` position (the probe path)."""
        import base64
        import hashlib

        import numpy as np

        digests = b"".join(
            hashlib.md5(str(v).encode("utf-8")).digest()
            for v in vals
            if v is not None
        )
        # the md5 digest's four big-endian 32-bit words are the integers
        # of its four 8-hex-digit slices
        words = np.frombuffer(digests, dtype=">u4").reshape(-1, 4)
        bits = np.zeros(self.bloom_m, dtype=bool)
        bits[words[:, : self.bloom_k] % self.bloom_m] = True
        return {
            "m": self.bloom_m,
            "k": self.bloom_k,
            "b64": base64.b64encode(
                np.packbits(bits, bitorder="little").tobytes()
            ).decode("ascii"),
        }

    @staticmethod
    def _bloom_may_contain(bloom: dict, positions: list[int]) -> bool:
        import base64

        bits = base64.b64decode(bloom["b64"])
        return all(
            bits[p >> 3] & (1 << (p & 7)) for p in positions
        )

    def select_objects_bloom(
        self, values, m: dict | None = None
    ) -> tuple[list[str], list[str]]:
        """Point-lookup file skipping: split the manifest's live objects
        into (kept, skipped) for the predicate `bloom_col IN values`
        using the per-object bloom filters. An object without a bloom
        (pre-bloom manifest versions, or a bloom built with different
        m/k) is always kept — like zone maps, the index is an
        optimization, never a correctness gate; blooms have NO false
        negatives, so a skipped object provably holds none of the
        probe values."""
        if self.bloom_col is None:
            raise ValueError("table has no bloom_col configured")
        if m is None:
            m = self._current_manifest()
        if m is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        probes = [
            self._bloom_positions(v, self.bloom_m, self.bloom_k)
            for v in values
            if v is not None
        ]
        stats = m.get("stats", {})
        kept, skipped = [], []
        for keys in m["partitions"].values():
            for k in keys:
                bloom = stats.get(k, {}).get("__bloom")
                if (
                    bloom is None
                    or bloom.get("m") != self.bloom_m
                    or bloom.get("k") != self.bloom_k
                ):
                    kept.append(k)
                elif any(
                    self._bloom_may_contain(bloom, pos) for pos in probes
                ):
                    kept.append(k)
                else:
                    skipped.append(k)
        return kept, skipped

    def read_keys(self, values) -> DataFrame:
        """Point read through the bloom index: objects whose bloom
        excludes every probe value are never opened; survivors get the
        exact IN filter (blooms are file-granular and can false-
        positive, never false-negative)."""
        m = self._current_manifest()
        if m is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        kept, _ = self.select_objects_bloom(values, m=m)
        out = self._read_objects(m, keep_keys=set(kept))
        pred = F.col(self.bloom_col).isin(list(values))
        return self._empty(m) if out is None else out.filter(pred)

    def _put_manifest(
        self,
        version: int,
        partitions: dict,
        schema_json: dict,
        stats: dict | None = None,
        num_rows: dict | None = None,
    ) -> None:
        d = self._manifest_dir()
        os.makedirs(d, exist_ok=True)
        # format 2 adds the per-object num_rows map (may be PARTIAL:
        # keys carried forward from a format-1 manifest have no entry —
        # readers fall back to the parquet footer per missing key, so
        # old- and mixed-format manifests stay fully readable)
        body = {
            "format": 2,
            "version": version,
            "partitions": partitions,
            "schema": schema_json,
            "stats": stats or {},
            "num_rows": num_rows or {},
        }
        tmp = os.path.join(d, f".{version:010d}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(body, fh)
        final = os.path.join(d, f"{version:010d}.json")
        try:
            # PUT-if-absent: os.link fails with EEXIST if another writer
            # already published this version (S3: conditional PUT with
            # If-None-Match:*). os.rename would silently REPLACE it — a
            # lost update (VERDICT r5, missing #2).
            os.link(tmp, final)
        except FileExistsError:
            raise ManifestConflictError(
                f"manifest version {version} already published at {d}"
            )
        finally:
            os.unlink(tmp)

    def merge(
        self,
        batch: DataFrame,
        delete_col: str | None = None,
        max_retries: int = 5,
    ) -> None:
        """Same precombine merge as UpsertTable.merge, via the manifest
        protocol: stage merged objects → PUT manifest. Idempotent: replay
        of the same batch produces the same table state (a new manifest
        version with equal contents).

        Concurrent-writer safe: the manifest PUT is create-exclusive, so
        when two writers race from the same base version exactly one
        commits; the loser discards its staged objects, re-reads the
        winner's manifest, recomputes the merge against it, and retries —
        both batches' rows land (optimistic concurrency; the reference
        gets the same serialization from Hudi's timeline,
        01-setup-ec-vm.md:262-273)."""
        for attempt in range(max_retries + 1):
            try:
                return self._merge_once(batch, delete_col)
            except ManifestConflictError:
                if attempt == max_retries:
                    raise

    def _merge_once(self, batch: DataFrame, delete_col: str | None) -> None:
        # one manifest snapshot per attempt: the read-back and the commit
        # resolve the same version, and a lost version race retries whole
        m = self._current_manifest()

        def read_touched(touched: list | None) -> DataFrame:
            out = self._read_objects(m, vals=self._touched_keys(touched))
            # no stored object in the touched partitions: an empty frame of
            # the stored schema still carries the columns this batch omits
            return self._empty(m) if out is None else out

        # a new table stores nothing: no read-back, so no touched-partition
        # collect either (precombine_merge skips it)
        merged, touched = precombine_merge(
            batch,
            self.key_cols,
            self.precombine_col,
            self.partition_col,
            self.tiebreak_cols,
            delete_col,
            read_touched if m is not None else None,
        )
        staged = self._stage(merged)
        partitions = {}
        if m is not None:
            partitions = dict(m["partitions"])
            for val_str in self._touched_keys(touched):
                # fully-tombstoned partition: no staged objects -> empty list
                partitions[val_str] = staged.objs.get(val_str, [])
        partitions.update(staged.objs)
        self._commit(m, partitions, merged.schema.jsonValue(), staged)

    def _touched_keys(self, touched: list | None) -> set[str]:
        """Manifest keys of the touched (raw value, Spark's rendering)
        pairs `precombine_merge` returns, from the rendering; an
        unpartitioned table is one partition, key ''."""
        return {""} if touched is None else {self._pval(s) for _, s in touched}

    # -- maintenance ---------------------------------------------------------
    def compact(self, max_objects_per_partition: int = 4) -> list[str]:
        """Small-object compaction: rewrite every partition holding more
        than `max_objects_per_partition` live objects into one object —
        the maintenance tick a 30 s-ingest pipeline needs (each merge
        writes a fresh txn's objects; object-store GET/LIST overhead and
        scan task-setup grow with object count, the lakehouse decay mode).

        Pure layout: rows are untouched. The rewrite stages new objects
        under a fresh txn and publishes a new manifest version through the
        same create-exclusive PUT as merge() — so it is crash-safe (a
        crash pre-PUT leaves only unreferenced objects) AND concurrency-
        safe (a racing merge wins or loses the version like any writer;
        losing this compaction is harmless, it just retries next tick —
        here we surface the conflict instead of retrying a stale layout).
        Old objects stay until vacuum. Returns the partition keys
        compacted ([] when already compact)."""
        m = self._current_manifest()
        if m is None:
            return []
        crowded = {
            val_str
            for val_str, keys in m["partitions"].items()
            if len(keys) > max_objects_per_partition
        }
        if not crowded:
            return []
        df = self._read_objects(m, vals=crowded)
        if self.partition_col is not None:
            # hash-repartition on the partition column: each partition
            # value lands in exactly one task -> ONE output object per
            # partition, compacted in PARALLEL across partitions
            # (coalesce(1) would funnel every crowded partition through
            # a single task — a bottleneck at fleet scale)
            df = df.repartition(F.col(self.partition_col))
        else:
            df = df.coalesce(1)
        staged = self._stage(df)
        partitions = dict(m["partitions"])
        for val_str in crowded:
            partitions[val_str] = staged.objs.get(val_str, [])
        # safety net (the merge() idiom): if the partition-value round
        # trip through the staged dir name recovered a DIFFERENT key
        # than the manifest's, land the rewritten objects under the
        # recovered key rather than dropping them on the floor
        partitions.update(staged.objs)
        self._commit(m, partitions, m["schema"], staged)
        return sorted(crowded)

    def _num_rows(self, m: dict, key: str) -> int:
        """Row count of one object: the manifest's num_rows entry, or a
        metadata-only footer read for a key a format-1 manifest carried."""
        n = m.get("num_rows", {}).get(key)
        if n is not None:
            return int(n)
        import pyarrow.parquet as pq

        return pq.read_metadata(os.path.join(self.path, key)).num_rows

    def compaction_plan(self, budget_rows: int) -> DataFrame:
        """FFD compaction PLAN over the current manifest's live objects
        (SURVEY round-12 candidate: packing × lakehouse composition) —
        the quality upgrade over `compact()`'s one-object-per-partition
        blunt rewrite: given a per-output row budget, plan which small
        objects merge so every planned write stays <= budget and
        already-full objects are left untouched (dedicated singleton
        bins), via operators.packing.plan_compaction (FFD, fewest
        compacted writes for the merge work, bins never span
        partitions).

        Sizes are per-object `num_rows` read from the MANIFEST (format
        2 persists them at commit beside the zone maps — the stats_cols
        discipline, SURVEY round-13 candidate), so planning on a
        current-format manifest touches no parquet footer at all: one
        JSON read, zero object GETs. Keys a format-1 manifest carried
        without the field fall back to a per-key footer read
        (metadata-only) — old and mixed manifests plan identically,
        just slower.

        Returns (part, obj, size, bin_in_part): `groupBy(part,
        bin_in_part)` having count(*) > 1 is the executor's merge work
        list; singleton bins are no-ops.
        """
        from buskafkasparkstreaming_spark.operators.packing import (
            plan_compaction,
        )

        m = self._current_manifest()
        if m is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        rows = [
            (val_str, key, self._num_rows(m, key))
            for val_str, keys in sorted(m["partitions"].items())
            for key in keys
        ]
        inv = self.spark.createDataFrame(
            rows or [], "part string, obj string, n_rows long"
        )
        return plan_compaction(inv, "part", "obj", "n_rows", budget_rows)

    def compact_with_plan(self, budget_rows: int) -> dict[str, dict]:
        """EXECUTE the FFD compaction plan (SURVEY round-13 candidate:
        plan → execution): every multi-object bin from
        `compaction_plan(budget_rows)` is rewritten as ONE object;
        singleton bins — already-full objects and loners nothing fits
        with — are left physically untouched (their keys carry over,
        zero read/write amplification, the planner's whole point over
        `compact()`'s blunt one-object-per-partition rewrite).

        Pure layout: rows are untouched; `latest_state` semantics never
        enter. Plan shape: ONE Spark job reads exactly the merged bins'
        objects, tags each row with its bin via an input_file_name →
        key broadcast join (the partition column is in the row already),
        clusters with repartition(part, bin) (co-location: every bin's
        rows in one task) and writes partitionBy(partition, bin-dir) so each bin
        lands as exactly one staged file. Publish + manifest PUT follow
        the merge()/compact() crash protocol: new objects are invisible
        until the create-exclusive manifest PUT; losing a version race
        raises ManifestConflictError and deletes this txn's staging
        (retry next maintenance tick).

        Returns {partition_value_str: {"before": n_objects,
        "after": n_objects}} for every partition in the manifest.
        An all-empty bin (tombstoned partitions can hold 0-row objects)
        writes no file and its keys simply retire — dropping dead
        objects is correct compaction.
        """
        from collections import defaultdict

        m = self._current_manifest()
        if m is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        plan_rows = self.compaction_plan(budget_rows).collect()
        bins: dict[tuple, list[str]] = defaultdict(list)
        for r in plan_rows:
            bins[(r["part"], int(r["bin_in_part"]))].append(r["obj"])
        work = {pb: objs for pb, objs in bins.items() if len(objs) > 1}
        if not work:
            return {
                val_str: {"before": len(keys), "after": len(keys)}
                for val_str, keys in m["partitions"].items()
            }
        merged_keys = {k for objs in work.values() for k in objs}
        expected_rows = sum(
            int(r["size"]) for r in plan_rows if r["obj"] in merged_keys
        )
        keymap = self.spark.createDataFrame(
            [(k, b) for (_p, b), objs in work.items() for k in objs],
            "__key string, __bindir long",
        )
        df = (
            self._read_objects(m, keep_keys=merged_keys)
            .withColumn(
                "__key",
                # pattern derived from DATA_DIR, not hardcoded — a
                # layout rename must not silently empty the extract
                # (ADVICE r12); the staged-footer row-count assert
                # makes any residual drift fail loudly.
                F.regexp_extract(
                    F.input_file_name(),
                    "(" + re.escape(self.DATA_DIR)
                    + r"/[^/]+/[^/]+\.parquet)$",
                    1,
                ),
            )
            .join(F.broadcast(keymap), "__key")
            .drop("__key")
        )
        return self._publish_binned(df, m, merged_keys, expected_rows)

    def _publish_binned(
        self,
        df: DataFrame,
        m: dict,
        retire_keys: set,
        expected_rows: int,
        sort_col: str | None = None,
    ) -> dict[str, dict]:
        """Shared executor tail for the binned rewrites
        (`compact_with_plan` / `compact_clustered`): co-locate each
        (partition, `__bindir`) bin in one task, stage one object per bin
        under the loss guard (the staged footers must hold exactly
        `expected_rows`, else nothing is published — the ADVICE-r12
        guard), rows sorted on `sort_col` within each bin when given,
        retire `retire_keys`, and PUT the next manifest version under
        the create-exclusive crash protocol.
        Returns {partition_value_str: {"before": .., "after": ..}}."""
        part = [F.col(self.partition_col)] if self.partition_col else []
        df = df.repartition(*part, F.col("__bindir"))
        if sort_col is not None:
            df = df.sortWithinPartitions(F.col(sort_col).asc())
        staged = self._stage(df, bin_col="__bindir", expected_rows=expected_rows)
        partitions = {}
        report: dict[str, dict] = {}
        for val_str, keys in m["partitions"].items():
            kept = [k for k in keys if k not in retire_keys]
            partitions[val_str] = kept + staged.objs.get(val_str, [])
            report[val_str] = {
                "before": len(keys),
                "after": len(partitions[val_str]),
            }
        self._commit(m, partitions, m["schema"], staged)
        return report

    def compact_clustered(
        self, cluster_col: str, budget_rows: int
    ) -> dict[str, dict]:
        """CLUSTERED full rewrite — the OPTIMIZE ... ZORDER analog
        (1-D): re-bin EVERY live row so a partition's objects are
        RANGE-DISJOINT on `cluster_col`, with DETERMINISTIC bin
        boundaries from exact distributed ranks instead of
        RangePartitioner sampling: the per-(partition, value) cell
        frame's inclusive running count rides
        operators.windows_fn.grouped_running_sum (the same
        composite-order range-exchange machinery the grouped
        statistics entries use), and bin = (run − cnt) div budget_rows
        — the bin of the value's FIRST row, so a distinct value never
        splits across bins (heavy ties inflate ONE bin rather than
        break determinism or disjointness, and the whole layout is
        recomputable in ANSI SQL — which is exactly what the
        manifest_compact_cluster entry's oracle does).

        Effects: each object's parquet footer min/max on `cluster_col`
        (lifted into the manifest when `cluster_col` is in stats_cols)
        covers a range no other object of the partition overlaps, so
        `read_where(cluster_col, lo, hi)` scans EXACTLY the bins whose
        range intersects [lo, hi] — provable file skipping, vs every
        object of an unclustered table. Rows with NULL cluster values
        sort first (Spark ASC NULLS FIRST) into the lowest bin; they
        don't enter footer min/max and fail any range predicate, so
        disjointness and skipping are unaffected.

        Pure layout: the row multiset is untouched (`latest_state`
        semantics never enter). Loss guard, publish, and the
        create-exclusive manifest PUT crash protocol are shared with
        compact_with_plan (`_publish_binned`); ALL previous
        objects retire — this is the full-table clustering pass; run
        the FFD `compact_with_plan` for incremental small-file
        maintenance between clustering passes."""
        from buskafkasparkstreaming_spark.operators.windows_fn import (
            grouped_running_sum,
        )

        m = self._current_manifest()
        if m is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        all_keys = {
            k for keys in m["partitions"].values() for k in keys
        }
        if not all_keys:
            return {
                val_str: {"before": 0, "after": 0}
                for val_str in m["partitions"]
            }
        expected_rows = sum(self._num_rows(m, k) for k in all_keys)
        part = [self.partition_col] if self.partition_col else []
        # localCheckpoint (round-14 optimization): the scan feeds the cell
        # aggregation (which grouped_running_sum evaluates twice more:
        # RangePartitioner sample + checkpoint materialization) AND the
        # final bin-tagging join — without the pin the many-small-object
        # read runs four times per clustering pass
        df = self._read_objects(m).localCheckpoint(eager=False)
        cells = df.groupBy(*part, cluster_col).agg(
            F.count(F.lit(1)).cast("long").alias("__cnt")
        ).withColumn("__run", F.col("__cnt"))
        binned = grouped_running_sum(
            cells, part, [F.col(cluster_col).asc()], ["__run"]
        ).select(
            *[F.col(c).alias(f"__b_{c}") for c in (*part, cluster_col)],
            (
                (F.col("__run") - F.col("__cnt"))
                / F.lit(int(budget_rows))
            ).cast("long").alias("__bindir"),
        )
        # broadcast the bin map (round-14 optimization): it is the
        # per-(partition, distinct value) cell frame — domain-sized, far
        # smaller than the data — and a hash join here would add a full
        # exchange of every row on (part, value) right before the
        # (part, bin) repartition the write needs anyway; broadcasting
        # leaves exactly ONE data exchange in the rewrite job. The join
        # is NULL-safe: a NULL partition or cluster value is a cell too.
        on = [F.col(c).eqNullSafe(F.col(f"__b_{c}")) for c in (*part, cluster_col)]
        out = df.join(F.broadcast(binned), on).drop(
            *[f"__b_{c}" for c in (*part, cluster_col)]
        )
        return self._publish_binned(
            out, m, all_keys, expected_rows, sort_col=cluster_col
        )

    def vacuum(
        self, keep_manifests: int = 1, writer_grace_seconds: float = 0.0
    ) -> list[str]:
        """Retire manifest versions older than the newest `keep_manifests`
        and delete data objects no RETAINED manifest references. The live
        set is the UNION over every retained manifest — keeping a manifest
        but deleting objects only it references would leave it a dangling
        pointer for the in-flight readers the retention grace period
        exists for (ADVICE r5, low). Always safe for READERS (they
        resolve a manifest first and read only its keys).

        With CONCURRENT WRITERS, a writer that has published its txn
        objects but not yet PUT its manifest has objects no manifest
        references; deleting them corrupts the manifest it is about to
        commit. `writer_grace_seconds` skips unreferenced objects younger
        than the grace window — set it above the longest expected
        stage-to-commit latency when other writers may be in flight
        (the Delta/Iceberg retention-threshold rule). The default 0
        matches the single-maintenance-process deployment where vacuum
        never races a writer."""
        d = self._manifest_dir()
        if not os.path.isdir(d):
            return []
        names = sorted(n for n in os.listdir(d) if n.endswith(".json"))
        if not names:
            return []
        keep = max(1, keep_manifests)
        retained, retired = names[-keep:], names[:-keep]
        live: set[str] = set()
        for n in retained:
            with open(os.path.join(d, n), encoding="utf-8") as fh:
                body = json.load(fh)
            live |= {k for keys in body["partitions"].values() for k in keys}
        import time as _time

        cutoff = _time.time() - writer_grace_seconds
        removed = []
        data_root = os.path.join(self.path, self.DATA_DIR)
        for txn in os.listdir(data_root) if os.path.isdir(data_root) else []:
            tdir = os.path.join(data_root, txn)
            for fname in os.listdir(tdir):
                key = f"{self.DATA_DIR}/{txn}/{fname}"
                p = os.path.join(tdir, fname)
                if key not in live and os.path.getmtime(p) <= cutoff:
                    os.remove(p)
                    removed.append(key)
            if not os.listdir(tdir):
                os.rmdir(tdir)
        for n in retired:
            os.remove(os.path.join(d, n))
        return removed
