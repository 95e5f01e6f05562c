"""RestBus spool as a REAL Spark data source (Python DataSource API,
Spark 4) — the reference's ingest boundary (NiFi InvokeHTTP poll →
downstream pipeline, nifi-project.xml:1505/:1357/:1361/:1477) exposed the
way a Spark-native engine should: `spark.read.format("restbus_spool")` /
`spark.readStream.format("restbus_spool")` over the JSONL envelope spool
that sources/http_poller.py publishes.

Why a custom source instead of `spark.readStream.json`: the DataSource API
gives the engine REAL offset semantics for the poll sequence — the stream
reader tracks a (file-index) offset, plans one input partition per newly
published poll file, and resumes exactly from the committed offset across
restarts, which is the Kafka-like contract (S4) the file-glob source only
approximates with its own listing state. It also demonstrates the engine
can host third-party sources: the same class shape with a `requests`-based
`latestOffset` (poll counter) and `read` (GET) is the live-HTTP
variant; the spool indirection exists because the build sandbox has no
network (the reference's own poller is NiFi config, 30 s timer).

Each row is one raw spool line in a `value` string column — the Kafka
contract — so callers parse and route it with `cdc.envelope.parse_envelopes`
/ `route_ops`, exactly as they parse a Kafka topic or the JSONL file source:
one parser, one corrupt-record policy (a malformed line becomes a `_corrupt`
row for the quarantine, never a silent skip). Blank lines are not messages
and are not emitted.

Scale shape: the poll stream is single-endpoint (reference: one route) —
volume is bounded by poll rate, not corpus size; per-file partitions give
the same parallelism as Kafka partition splits. The source only splits
lines; parsing is the JVM's from_json downstream, exactly as in the
reference.

Offsets are JSON dicts {"index": n} where n counts spool files in
lexicographic filename order; `poll-<epoch_ms>-<uuid>.jsonl` names make
that order the publish order (13-digit ms keeps lexicographic = numeric).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StringType, StructField, StructType

#: one raw spool line per row, the Kafka `value` contract
VALUE_SCHEMA = StructType([StructField("value", StringType())])


def _spool_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(
        f for f in os.listdir(path)
        if f.endswith(".jsonl") and not f.startswith(".")
    )


def _read_lines(path: str):
    """One spool file → `(line,)` rows, one per non-blank line, unparsed."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield (line,)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class RestBusSpoolBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("restbus_spool requires option 'path'")

    def partitions(self):
        files = _spool_files(self.path)
        # one partition per poll file; an empty spool still needs one
        # (empty) partition for a valid zero-row scan
        if not files:
            return [_FilePartition("")]
        return [_FilePartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return iter(())
        return _read_lines(partition.path)


class RestBusSpoolStreamReader(DataSourceStreamReader):
    """Micro-batch reader: offset = count of spool files already consumed
    (publish order). Planning is driver-side listing; each batch gets one
    partition per new file — the moral equivalent of Kafka offset ranges
    per partition (S4)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("restbus_spool requires option 'path'")

    def initialOffset(self):
        return {"index": 0}

    def latestOffset(self):
        return {"index": len(_spool_files(self.path))}

    def partitions(self, start, end):
        files = _spool_files(self.path)[start["index"]: end["index"]]
        return [_FilePartition(os.path.join(self.path, f)) for f in files]

    def read(self, partition: _FilePartition):
        return _read_lines(partition.path)

    def commit(self, end):
        # spool files are immutable once published; nothing to ack —
        # exactly-once comes from the checkpointed offset log
        pass


class RestBusSpoolDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "restbus_spool"

    def schema(self):
        return VALUE_SCHEMA

    def reader(self, schema):
        return RestBusSpoolBatchReader(self.options)

    def streamReader(self, schema):
        return RestBusSpoolStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration: spark.dataSource.register is per-session."""
    spark.dataSource.register(RestBusSpoolDataSource)
